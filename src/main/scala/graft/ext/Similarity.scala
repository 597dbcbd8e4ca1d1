package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{vec_dot, vec_norm}

/** Similarity search over an embedding column (`array<float>`) — SURVEY
  * §7.2 PR 5. Brute-force cosine top-k is the exact baseline; the scale
  * path is random-hyperplane LSH bucketing so a 100 TB corpus only
  * brute-forces within (multiprobed) buckets.
  *
  * The inner loop is [[graft.functions.FloatVecDot]] — a custom Catalyst
  * expression with whole-stage codegen (the built-in `zip_with` +
  * `aggregate` chain is interpreted and allocates per row; on the pair
  * join it was the bench bottleneck). Norms are projected **once per
  * vector** before any pair join, never recomputed per pair.
  */
object Similarity {

  /** Codegen'd dot product, accumulated in double in list order. */
  def dot(a: Column, b: Column): Column = vec_dot(a, b)

  /** L2 norm via the same kernel. */
  def norm(a: Column): Column = vec_norm(a)

  /** Per-vector sanity statistics (norm / mean / max component). */
  def embedStats(emb: DataFrame): DataFrame = emb.select(
      col("vec_id"),
      col("label"),
      round(vec_norm(col("embedding")), 4).as("l2_norm"),
      round(aggregate(transform(col("embedding"), x => x.cast("double")),
        lit(0.0), (acc, v) => acc + v) / size(col("embedding")), 4)
        .as("mean_component"),
      round(array_max(col("embedding")).cast("double"), 4).as("max_component"))
    .orderBy("vec_id")

  /** Exact brute-force cosine top-k against one stored query vector: the
    * single-row query side is broadcast, so this is one scan of the corpus
    * with a TakeOrdered(k) — no shuffle of the corpus itself.
    */
  def cosineTopK(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"),
        vec_norm(col("embedding")).as("q_norm"))
    emb.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(vec_dot(col("embedding"), col("q_embedding")) /
          (vec_norm(col("embedding")) * col("q_norm")), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Maximal-marginal-relevance diversified top-k (Carbonell &
    * Goldstein, SIGIR'98): greedily pick the candidate maximizing
    * `λ_rel·relevance − λ_div·max(sim to already-picked)` — the
    * standard de-redundancy pass production retrieval runs over an
    * ANN shortlist so near-duplicate hits don't crowd out coverage.
    *
    * Scale shape: the corpus-bound work is the candidate generator
    * ([[cosineTopK]] — one scan, TakeOrdered nCand); everything after
    * is nCand-bounded: candidate embeddings come back through a
    * broadcast semi-join, the pairwise-similarity matrix is an
    * nCand×nCand broadcast cross join (≤ 900 rows at the defaults),
    * and the greedy selection itself is an inherently sequential
    * k-step loop over that constant-sized matrix — run driver-side on
    * the collected candidates (BOUNDED collect: nCand + nCand² rows of
    * (id, score), the [[graft.ext.Vocab]] 1-row-argmax convention; at
    * 100 TB nCand stays 30–200, so this never grows with the corpus).
    *
    * `λ_rel`/`λ_div` are taken as TWO explicit literals rather than
    * λ/(1−λ): the published formula's decimal weights (0.7/0.3)
    * survive exactly — IEEE `1 − 0.7` is 0.30000000000000004, which
    * would poison cross-engine hash equality with the oracle.
    *
    * Relevance and pair similarities enter the greedy step rounded to
    * 4dp (the generators' own contract), the selection tree
    * `λ_rel·rel − λ_div·maxSim` is two IEEE multiplies and a subtract
    * evaluated identically by the DuckDB oracle's recursive CTE, and
    * ties break on vec_id — the whole trajectory is deterministic and
    * engine-portable.
    *
    * DRIVER-MEMORY BOUND (the [[graft.ext.Sampling.packSequences]]
    * convention — state the bound and the shard path): the greedy holds
    * nCand relevance rows plus the nCand² pair-sim map on the driver —
    * ~24 B/entry, so nCand = 1,000 is ~24 MB and nCand = 10,000 is
    * ~2.4 GB: fine through the low thousands, past that the map is the
    * binding constraint. The scale path for wider reranks is staged
    * MMR, exactly how production rerankers run it: shard the candidate
    * list (cosineTopK over id-ranges or IVF cells), run this operator
    * per shard to k, then once more over the ≤ shards·k union — each
    * stage keeps its sim map candidate-list-sized while preserving the
    * de-redundancy property within every stage. EdgeCaseSpec pins the
    * single-stage form at a few hundred candidates.
    *
    * Degenerate vectors: a zero-norm embedding has no defined cosine
    * (the division yields null) — such candidates are dropped BEFORE
    * the collect rather than silently unboxing to 0.0 relevance, and a
    * zero-norm row can never rank (its similarity to every pick is
    * equally undefined).
    */
  def mmrTopK(emb: DataFrame, queryId: Long, k: Int = 10, nCand: Int = 30,
              lambdaRel: Double = 0.7,
              lambdaDiv: Double = 0.3): DataFrame = {
    val spark = emb.sparkSession
    // Null cosine = zero-norm embedding: drop loudly-by-contract here —
    // Row.getDouble below would silently unbox null to 0.0 and rank the
    // degenerate vector with a fabricated score.
    val cand = cosineTopK(emb, queryId, nCand)
      .filter(col("cosine").isNotNull)
      .select(col("vec_id"), col("cosine").as("rel"))
    // Candidate embeddings via broadcast semi-join — one more corpus
    // scan, never a shuffle of it.
    val ce = emb.join(broadcast(cand.select("vec_id")), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"),
        vec_norm(col("embedding")).as("nrm"))
    val aSide = ce.toDF("ai", "a_emb", "a_nrm")
    val bSide = ce.toDF("bi", "b_emb", "b_nrm")
    val pairs = aSide.crossJoin(broadcast(bSide))
      .filter(col("ai") =!= col("bi"))
      .select(col("ai"), col("bi"),
        round(vec_dot(col("a_emb"), col("b_emb")) /
          (col("a_nrm") * col("b_nrm")), 4).as("sim"))

    // Bounded driver-side greedy: nCand relevance rows + nCand² sims.
    val relSeq = cand.collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, rel) => (-rel, id) }.toSeq
    val sim = pairs.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val rel = relSeq.toMap
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double, Double)]
    val remaining = scala.collection.mutable.LinkedHashSet(relSeq.map(_._1): _*)
    var step = 1
    while (step <= math.min(k, relSeq.size)) {
      val (bestId, bestMmr) = remaining.iterator.map { id =>
        val maxSim =
          if (picked.isEmpty) 0.0
          else picked.iterator.map(p => sim((id, p._2))).max
        (id, lambdaRel * rel(id) - lambdaDiv * maxSim)
      }.minBy { case (id, m) => (-m, id) }
      picked += ((step, bestId, rel(bestId), bestMmr))
      remaining -= bestId
      step += 1
    }
    spark.createDataFrame(picked.toSeq)
      .toDF("rank", "vec_id", "relevance", "mmr_score")
      .select(col("rank"), col("vec_id"), col("relevance"),
        round(col("mmr_score"), 4).as("mmr_score"))
  }

  // ---------------------------------------------------------------------
  // LSH-bucketed ANN (random hyperplane signs)
  // ---------------------------------------------------------------------

  /** Deterministic pseudo-random hyperplanes (seeded, so every executor —
    * and every round — derives identical planes).
    */
  private[graft] def planes(numPlanes: Int, dim: Int, seed: Long): Seq[Seq[Float]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(rng.nextGaussian().toFloat))
  }

  /** Sign-bit bucket id of an embedding against the hyperplane set — one
    * opaque codegen node ([[graft.functions.LshBucketAssign]]); the
    * composed shift/OR form inlines into every join condition that
    * references the bucket column (the [[ivfCell]] blowup, same class).
    */
  def lshBucket(embedding: Column, numPlanes: Int, dim: Int,
                seed: Long = 42L): Column =
    org.apache.spark.sql.GraftColumn(graft.functions.LshBucketAssign(
      org.apache.spark.sql.GraftColumn.expr(embedding),
      planes(numPlanes, dim, seed)))

  /** ANN top-k: bucket the corpus by hyperplane signs, then brute-force
    * cosine only inside buckets within Hamming distance `probe` of the
    * query's bucket (multiprobe LSH — recovers recall lost to bucket
    * boundaries without touching the whole corpus). The bucketing is a
    * plain projection — at scale the bucket column would be written as a
    * partition/bucket key so repeated queries prune to few buckets' files.
    */
  def annTopK(emb: DataFrame, queryId: Long, k: Int, numPlanes: Int = 8,
              dim: Int = 64, probe: Int = 1): DataFrame = {
    val bucketed = emb.select(col("vec_id"), col("label"), col("embedding"),
      lshBucket(col("embedding"), numPlanes, dim).as("bucket"),
      vec_norm(col("embedding")).as("nrm"))
    val q = bucketed.filter(col("vec_id") === queryId)
      .select(col("bucket").as("q_bucket"), col("embedding").as("q_embedding"),
        col("nrm").as("q_norm"))
    bucketed.filter(col("vec_id") =!= queryId)
      .join(broadcast(q),
        bit_count(col("bucket").bitwiseXOR(col("q_bucket"))) <= probe)
      .select(col("vec_id"), col("label"),
        round(vec_dot(col("embedding"), col("q_embedding")) /
          (col("nrm") * col("q_norm")), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  // ---------------------------------------------------------------------
  // IVF-style ANN (coarse quantizer + probed inverted lists)
  // ---------------------------------------------------------------------

  /** Deterministic coarse centroids (seeded gaussian, L2-normalized). A
    * production build would k-means these; seeded planes keep every
    * executor and every round identical without an iterative fit.
    */
  private[graft] def centroids(k: Int, dim: Int, seed: Long): Seq[Seq[Float]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(k) {
      val v = Array.fill(dim)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat).toSeq
    }
  }

  /** Index of the best-scoring centroid for an embedding — one opaque
    * codegen node ([[graft.functions.IvfCellAssign]]); the composed
    * array-of-dots + argmax form inlines into every consumer when its
    * projection collapses (measured 60× blowup at 1M vectors).
    */
  def ivfCell(embedding: Column, k: Int, dim: Int, seed: Long = 7L): Column =
    cellFor(embedding, centroids(k, dim, seed))

  /** [[ivfCell]] against an EXPLICIT centroid set — the assignment step
    * shared by the IVF quantizer (seeded centroids) and [[kmeansFit]]
    * (iteratively refined centroids).
    */
  def cellFor(embedding: Column, cs: Seq[Seq[Float]]): Column =
    org.apache.spark.sql.GraftColumn(graft.functions.IvfCellAssign(
      org.apache.spark.sql.GraftColumn.expr(embedding), cs))

  /** The `m` best cells for an embedding, best first (element 0 is
    * exactly [[cellFor]]'s answer) — the multi-assignment seam for
    * [[semanticDedup]]'s boundary-recall upgrade.
    */
  def cellsFor(embedding: Column, cs: Seq[Seq[Float]], m: Int): Column =
    org.apache.spark.sql.GraftColumn(graft.functions.IvfTopCellsAssign(
      org.apache.spark.sql.GraftColumn.expr(embedding), cs, m))

  /** IVF ANN top-k: assign every vector to its nearest coarse centroid
    * (the inverted list), then brute-force only the `nprobe` lists
    * closest to the query. Same contract as [[annTopK]]; different
    * recall/latency trade — lists follow the data distribution where LSH
    * cuts blindly. At scale the cell id is the partition/bucket key.
    */
  /** In-frame probe-cell expression over an `embedding` column: the
    * `nprobe` best-scoring cells, score desc with ties toward the
    * LOWEST index — the same tie order as [[cellFor]]'s first-max
    * assignment, so a query tying across many cells still probes the
    * cell it (and its exact duplicates) were ASSIGNED to. Shared by
    * [[annTopKIvf]] and the IVF×PQ composition; [[probeCells]] is its
    * driver-side twin and must keep the identical order.
    */
  private[ext] def probeCellsExpr(cs: Seq[Seq[Float]], nprobe: Int): Column = {
    val qScores = array(cs.map(c => vec_dot(col("embedding"), typedLit(c))): _*)
    slice(reverse(array_sort(zip_with(qScores,
      sequence(lit(0), lit(cs.length - 1)),
      (s, i) => struct(s.as("s"), (i * lit(-1)).as("ni"), i.as("i"))))),
      1, nprobe).getField("i")
  }

  def annTopKIvf(emb: DataFrame, queryId: Long, k: Int, nlist: Int = 16,
                 dim: Int = 64, nprobe: Int = 2): DataFrame =
    annTopKIvfWith(emb, queryId, k, centroids(nlist, dim, 7L), nprobe)

  /** [[annTopKIvf]] against an EXPLICIT quantizer — the form the specs
    * pin against the persisted index (whose centroids are TRAINED at
    * build time, not seeded), and the shared core of both.
    */
  def annTopKIvfWith(emb: DataFrame, queryId: Long, k: Int,
                     cs: Seq[Seq[Float]], nprobe: Int = 2): DataFrame = {
    val listed = emb.select(col("vec_id"), col("label"), col("embedding"),
      cellFor(col("embedding"), cs).as("cell"),
      vec_norm(col("embedding")).as("nrm"))
    // The query's nprobe best cells, as a broadcast single-row frame.
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"),
        vec_norm(col("embedding")).as("q_norm"),
        probeCellsExpr(cs, nprobe).as("probe_cells"))
    listed.join(broadcast(q), array_contains(col("probe_cells"), col("cell")))
      .select(col("vec_id"), col("label"),
        round(vec_dot(col("embedding"), col("q_embedding")) /
          (col("nrm") * col("q_norm")), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  // ---------------------------------------------------------------------
  // Persisted IVF index — the materialized form of the "cell id is the
  // partition key at scale" layout the operators above describe.
  // ---------------------------------------------------------------------

  /** Deterministic index directory for a testdata dir, resolved under
    * [[IndexStamp.indexRoot]] (`spark.graft.indexRoot` → durable
    * warehouse home; unset → tmpdir for dev/test).
    * v3: trained (k-means) coarse centroids stored IN the index, marker
    * moved to `_centroids/_SUCCESS` — a new directory family per the
    * layout-change discipline, so pre-existing v2 indexes (seeded
    * centroids, root marker) can't be served to v3 readers.
    */
  def ivfIndexPathFor(sfDir: String): String =
    IndexStamp.pathUnderRoot(
      "graft-ivf3-" + sfDir.replaceAll("[^A-Za-z0-9.]", "_"))

  /** The index's freshness marker: the `_centroids` side table is
    * written LAST (the PQ `_books` rule), so its `_SUCCESS` committing
    * is what makes the whole index servable — a crash between the rows
    * write and the centroids write leaves no marker and the next
    * ensure/append rebuilds.
    */
  private def ivfMarker(path: String) = s"$path/_centroids/_SUCCESS"

  /** Write the quantizer side table: one row per (cell, centroid) plus
    * the embedding dimension the index was built with — queries derive
    * the quantizer FROM the index (the `_books` discipline: a caller
    * repeating nlist/dim wrong cannot probe alien cells or truncate
    * dots). Underscore-prefixed → invisible to the rows reader.
    */
  private[ext] def writeCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String, cs: Seq[Seq[Float]]): Unit = {
    import spark.implicits._
    cs.zipWithIndex.map { case (c, i) => (i, c, c.length) }
      .toDF("cell", "centroid", "dim").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_centroids")
  }

  /** The stored quantizer and the dim it was built with. */
  def loadCentroidsMeta(spark: org.apache.spark.sql.SparkSession,
                        path: String): (Seq[Seq[Float]], Int) = {
    val rows = IndexStamp.schemaMemoRead(spark, s"$path/_centroids").collect()
    (rows.sortBy(_.getInt(0)).map(_.getSeq[Float](1)).toIndexedSeq,
      rows.head.getInt(2))
  }

  /** Index rows for a vector batch — shared by the full build and the
    * incremental append: the cell assignment is a pure function of the
    * embedding and the index's FROZEN centroids, so appended vectors
    * land in exactly the cells a same-quantizer rebuild would put them
    * in. The dim guard fails an alien-model batch loudly on the
    * executor — slicing/dot kernels would otherwise operate silently
    * on the common prefix (the PQ `pqRowsFor` rule).
    */
  private def ivfRowsFor(emb: DataFrame, cs: Seq[Seq[Float]]): DataFrame = {
    val dim = cs.head.length
    val checked = when(size(col("embedding")) === dim, col("embedding"))
      .otherwise(raise_error(concat(
        lit(s"IVF index expects $dim-dim embeddings, got "),
        size(col("embedding")).cast("string"),
        lit(" (vec_id "), col("vec_id").cast("string"), lit(")"))))
    emb.select(col("vec_id"), col("label"), checked.as("embedding"))
      .select(col("vec_id"), col("label"), col("embedding"),
        vec_norm(col("embedding")).as("nrm"),
        cellFor(col("embedding"), cs).as("cell"))
  }

  /** Materialize the IVF index: every vector with its coarse cell and
    * precomputed norm, written PARTITIONED BY cell; the quantizer
    * itself rides in the `_centroids` side table (written last — the
    * freshness marker). Repeated queries then read ONLY the probed
    * cells' files via static partition pruning — instead of re-deriving
    * every vector's cell with a full corpus scan per query
    * ([[annTopKIvf]]'s cost model, fine once, wrong repeated). Layout
    * mirrors the BM25 index: partitioned by INGEST id above the cell
    * (base build = ingest 0, each batch its own id), so appends are
    * dynamic overwrites of their own partition. This form takes an
    * EXPLICIT quantizer (what spec equalities and A/B sweeps need);
    * [[buildIvfIndex]] trains one ([[kmeansFit]]) and delegates —
    * trained cells follow the data distribution, which is both the
    * recall-at-fixed-nprobe win and what keeps cell partition sizes
    * balanced for the pruning story (seeded-noise centroids give
    * lopsided populations on clustered real-world embeddings).
    */
  def buildIvfIndexWith(emb: DataFrame, path: String,
                        cs: Seq[Seq[Float]]): Unit = {
    require(cs.nonEmpty, "IVF index needs at least one centroid")
    val spark = emb.sparkSession
    // static overwrite pinned for the same reason as buildBm25Index: a
    // rebuild must replace EVERY ingest partition, not just ingest=0.
    // The root wipe also clears the old _centroids (and any stale
    // compaction record/staging) — the marker is gone until the new
    // centroids commit below.
    ivfRowsFor(emb, cs).withColumn("ingest", lit(0L))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "static")
      .partitionBy("ingest", "cell").parquet(path)
    writeCentroids(spark, path, cs)
  }

  /** Train-and-build: fit `nlist` spherical k-means centroids on the
    * corpus ([[kmeansFit]] — partition-invariant, seeded init) and
    * build the index with them. The quantizer is FROZEN at build like
    * the PQ codebook; retraining on a grown corpus is a rebuild by
    * definition (cell assignments are meaningless across quantizers).
    */
  def buildIvfIndex(emb: DataFrame, path: String, nlist: Int = 16,
                    dim: Int = 64, iters: Int = 3): Unit =
    buildIvfIndexWith(emb, path, kmeansFit(emb, nlist, iters, dim))

  /** Incremental IVF maintenance: fold a batch of NEW vectors into the
    * persisted index, assigned by the index's STORED quantizer. Every
    * index row is independent (vector, norm, quantizer cell — no
    * corpus-level state at all), and the batch lands as its own
    * dynamically-overwritten `ingest=` partition, so the append is
    * IDEMPOTENT per `ingestId` (a replay replaces its own partition,
    * nothing else) and a query over the appended index equals one over
    * a SAME-QUANTIZER rebuild EXACTLY (ExtSpec). On a cold start the
    * quantizer trains on the FIRST batch and freezes (`nlist`/`dim`/
    * `iters` apply only then — an empty first batch freezes the seeded
    * init, which for IVF is merely low-recall, never wrong: the probe
    * uses the same stored centroids). `ingestId` < 0 auto-assigns
    * max+1; streams pass their micro-batch id + 1. Same
    * new-vec_ids-across-ingests, one-writer-at-a-time, and
    * self-initialization contract as [[Retrieval.appendBm25Index]]
    * (explicit-id cold start creates an EMPTY ingest-0 base so the
    * batch lands in its own replayable partition); the `_source_stamp`
    * is dropped BEFORE the mutation so a crash mid-append never leaves
    * a mutated index that still claims source freshness.
    */
  def appendIvfIndex(emb: DataFrame, path: String, nlist: Int = 16,
                     dim: Int = 64, ingestId: Long = -1L,
                     iters: Int = 3): Unit = {
    val spark = emb.sparkSession
    // Set only by the cold branch, so the warm path reads the STORED
    // quantizer and the cold path doesn't re-read what it just wrote.
    var justBuilt: Option[Seq[Seq[Float]]] = None
    IndexStamp.appendLifecycle(spark, path, ivfMarker(path),
        path, ingestId) {
      buildIvfIndex(emb, path, nlist, dim, iters)
    } {
      val cs = kmeansFit(emb, nlist, iters, dim)
      buildIvfIndexWith(emb.limit(0), path, cs)
      justBuilt = Some(cs)
    } { id =>
      val cs = justBuilt.getOrElse(loadCentroidsMeta(spark, path)._1)
      // One task/file per cell — see the appendPqIndex rationale.
      ivfRowsFor(emb, cs).withColumn("ingest", lit(id))
        .repartition(col("cell"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest", "cell").parquet(path)
    }
  }

  /** Compact the IVF index: fold every `ingest=` partition into the
    * base (ingest 0), one file per cell (`repartition(cell)`) — the
    * BM25 rationale ([[Retrieval.compactBm25Index]]) applied to the
    * vector index. Index rows are independent (vector, norm, cell), so
    * the fold is a pure re-layout: `annTopKIndexed` over the compacted
    * index equals the appended and rebuilt index exactly. Folded-id
    * replays no-op; `_source_stamp` untouched; crash-safe/resumable per
    * [[IndexStamp.compactLifecycle]]. Returns false on ≤ 1 ingest.
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String): Boolean =
    IndexStamp.compactLifecycle(spark, path, ivfMarker(path),
        Seq(path)) { case Seq(stg) =>
      spark.read.parquet(path)
        .select(col("vec_id"), col("label"), col("embedding"),
          col("nrm"), col("cell"))
        .withColumn("ingest", lit(0L))
        .repartition(col("cell"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("ingest", "cell")
        .parquet(stg)
    }

  /** Build the index only when absent (`_SUCCESS` marker) or STALE —
    * when `sourcePath` is given, the index stores an [[IndexStamp]]
    * fingerprint of the source listing and rebuilds on mismatch, so a
    * regenerated embeddings table at the same path never serves stale
    * cells. Steady state is "index exists and matches, queries prune",
    * not "rebuild per query". Returns true iff the build ran.
    */
  def ensureIvfIndex(spark: org.apache.spark.sql.SparkSession,
                     emb: => DataFrame, path: String, nlist: Int = 16,
                     dim: Int = 64,
                     sourcePath: Option[String] = None): Boolean =
    IndexStamp.ensureFresh(spark, ivfMarker(path), path, sourcePath) {
      buildIvfIndex(emb, path, nlist, dim)
    }

  /** Driver-side single-vector lookup from the index (the "I hold a query
    * id, not a vector" entry; a real service holds the vector already).
    * Returns the stored embedding and its precomputed norm.
    */
  def lookupVec(spark: org.apache.spark.sql.SparkSession, path: String,
                vecId: Long): (Array[Float], Double) = {
    val r = IndexStamp.schemaMemoRead(spark, path)
      .filter(col("vec_id") === vecId)
      .select(col("embedding"), col("nrm"))
      .head()
    (r.getSeq[Float](0).toArray, r.getDouble(1))
  }

  /** The query's `nprobe` best cells against an EXPLICIT quantizer,
    * computed driver-side with the same double fold order as
    * [[graft.functions.FloatVecDot]] (left-to-right, per-term toDouble),
    * and [[probeCellsExpr]]'s tie order (score desc, ties toward the
    * LOWEST cell index — [[cellFor]]'s assignment order, so a tied
    * query always probes its own cell) — identical scores, identical
    * probe set. Callers pass the index's STORED centroids
    * ([[loadCentroidsMeta]]), never re-derive their own.
    */
  def probeCells(queryVec: Array[Float], cs: Seq[Seq[Float]],
                 nprobe: Int = 2): Seq[Int] =
    cs.zipWithIndex.map { case (c, i) =>
      (driverDot(queryVec, c, 0), i)
    }.sorted(Ordering.Tuple2(Ordering.Double.TotalOrdering,
        Ordering.Int.reverse))
      .reverse.take(nprobe).map(_._2)

  /** The ONE driver-side float dot: left-to-right, per-term toDouble —
    * [[graft.functions.FloatVecDot]]'s exact fold, which every
    * driver-computed score (probe cells, PQ ADC tables) must reproduce
    * bit-for-bit for the "driver twin == in-frame expression" equality
    * contracts to hold. `offset` slices the query side (PQ subspaces).
    */
  private[ext] def driverDot(q: Array[Float], c: Seq[Float],
                             offset: Int): Double = {
    val n = math.min(c.length, q.length - offset)
    var s = 0.0
    var j = 0
    while (j < n) { s += q(offset + j).toDouble * c(j).toDouble; j += 1 }
    s
  }

  /** ANN top-k over the PERSISTED index: the scan carries a static
    * `cell IN (probed…)` partition filter — only the probed cells' files
    * are read (PlanGuardSpec asserts this) — then scores survivors with
    * the codegen'd dot kernel against the literal query vector and takes
    * TakeOrdered(k). The quantizer (and the dim the query is validated
    * against) comes FROM the index ([[loadCentroidsMeta]]), never from
    * the caller; returns exactly [[annTopKIvfWith]]'s rows under the
    * same centroids (the query is a vector, not an id — a stored vector
    * querying for itself appears in its own results; filter by id
    * downstream to exclude it).
    */
  def annTopKIndexed(spark: org.apache.spark.sql.SparkSession,
                     indexPath: String, queryVec: Array[Float],
                     queryNorm: Double, k: Int,
                     nprobe: Int = 2): DataFrame = {
    // A MISSING index fails loudly inside the gate; a committed empty
    // base (cold-start crash window) yields an empty ranking — but only
    // AFTER the query is validated against the stored dim, so a
    // wrong-model client fails immediately, not once the first batch
    // lands (the PQ reader's rule).
    val empty = IndexStamp.emptyCommittedIndex(spark, ivfMarker(indexPath),
      indexPath)
    val (cs, dim) = loadCentroidsMeta(spark, indexPath)
    require(queryVec.length == dim,
      s"query has ${queryVec.length} dims, index built with $dim")
    if (empty)
      return spark.range(0).select(col("id").as("vec_id"),
        lit(0).as("label"), lit(0.0).as("cosine"))
    val cells = probeCells(queryVec, cs, nprobe)
    // Corpus-shaped vector table, probed per query: route through the
    // cross-trigger IndexCache (default OFF = identical plain scan);
    // the probed-cell filter prunes partition dirs when direct and
    // cached-batch stats when resident.
    IndexCache.read(spark, indexPath)
      .filter(col("cell").isin(cells: _*))
      .select(col("vec_id"), col("label"),
        round(vec_dot(col("embedding"), typedLit(queryVec.toSeq)) /
          (col("nrm") * lit(queryNorm)), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Incremental semantic dedup — SemDeDup's production form: screen a
    * BATCH of incoming vectors against the standing corpus held in the
    * persisted IVF index, without touching the corpus itself. Each
    * incoming vector multiprobes its `nprobe` best quantizer cells
    * (same seeded centroids the index was partitioned by), compares
    * only against the index rows IN those cells, and is novel iff no
    * stored vector reaches `threshold` cosine. Returns one row per
    * incoming vector: (vec_id, is_novel, best_cos, match_id) — the
    * audit view; `filter(is_novel)` is the admission filter, and
    * admitted vectors then fold into the index via [[appendIvfIndex]]
    * (that composition is [[graft.stream.Pipeline.semanticDedupStream]]).
    *
    * The semantic-level twin of [[Dedup.dedupAgainstSeen]] (exact
    * digests → standing corpus anti-join); here the "digest" is the
    * quantizer cell and the verify is a real cosine. Scale shape: the
    * index side is partition-pruned to the batch's probed cells, the
    * join is cell-keyed (batch-row × cell-occupancy work, never
    * batch × corpus), and best-match selection is one aggregate over
    * the matches. Recall has the IVF caveat: a true dup whose stored
    * twin sits outside the probed cells is missed — raise `nprobe`
    * exactly as for [[annTopKIndexed]].
    */
  def semanticNovelAgainstIndex(emb: DataFrame, indexPath: String,
                                threshold: Double = 0.95,
                                nprobe: Int = 2,
                                broadcastBatch: Boolean = true): DataFrame = {
    val spark = emb.sparkSession
    // No corpus data — including no index at all — means every vector
    // is novel: unlike the top-k readers (where a missing index is a
    // misconfiguration), an incremental dedup screen legitimately
    // starts before any corpus exists (the stream's first batch), and
    // a committed-but-empty base (cold-start crash window) must not
    // wedge on parquet schema inference. Gate on DATA, here in the
    // operator, so every caller — batch or stream — shares it. (Past
    // the gate the stored quantizer is loaded; the one state with data
    // but no `_centroids` — a build crash between the rows and
    // centroids writes — surfaces loudly there, which is right: that
    // index is marker-less and mid-rebuild, not a standing corpus.)
    val dir = new org.apache.hadoop.fs.Path(indexPath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!IndexStamp.hasIngestData(fs, dir))
      return emb.select(col("vec_id"), lit(true).as("is_novel"),
        lit(null).cast("double").as("best_cos"),
        lit(null).cast("long").as("match_id"))
        .orderBy("vec_id")
    val cs = loadCentroidsMeta(spark, indexPath)._1
    val probing = emb.select(col("vec_id"), col("embedding"),
      vec_norm(col("embedding")).as("nrm"),
      explode(cellsFor(col("embedding"), cs, nprobe)).as("cell"))
    // The per-trigger standing-corpus probe — exactly the rescan shape
    // the cross-trigger IndexCache exists for (default OFF = the same
    // plain parquet scan).
    val idx = IndexCache.read(spark, indexPath)
      .select(col("vec_id").as("idx_id"), col("embedding").as("idx_emb"),
        col("nrm").as("idx_nrm"), col("cell"))
    // The probe side MUST broadcast under the per-trigger contract (the
    // minhash verify-join lesson, caught by the instrumented 20M drill):
    // left to the planner the cell join's static estimate of the at-rest
    // vector table picks a sort-merge join, and AQE materializes both
    // map sides before converting — the fat embedding table would be
    // shuffle-WRITTEN every trigger. `broadcastBatch = false` keeps the
    // co-partitioned plan for backfill-shaped batches.
    val probeSide = if (broadcastBatch) broadcast(probing) else probing
    val matches = probeSide.join(idx, Seq("cell"))
      .select(col("vec_id"),
        (vec_dot(col("embedding"), col("idx_emb")) /
          (col("nrm") * col("idx_nrm"))).as("cos"),
        col("idx_id"))
      .filter(col("cos") >= threshold)
      .groupBy("vec_id")
      .agg(max(struct(round(col("cos"), 4).as("c"), col("idx_id"))).as("m"))
      .select(col("vec_id"), col("m.c").as("best_cos"),
        col("m.idx_id").as("match_id"))
    emb.select(col("vec_id"))
      .join(matches, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("best_cos").isNull.as("is_novel"),
        col("best_cos"), col("match_id"))
      .orderBy("vec_id")
  }

  /** Embedding-cosine near-duplicate pairs via shared LSH bucket — the
    * embedding analog of [[Dedup.minhashNearDupPairs]]: pairs form only
    * within buckets (a shuffle keyed on the bucket), never across the
    * full corpus.
    */
  def nearDupPairs(emb: DataFrame, threshold: Double = 0.95,
                   numPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val bucketed = emb.select(col("vec_id"), col("embedding"),
      lshBucket(col("embedding"), numPlanes, dim).as("bucket"),
      vec_norm(col("embedding")).as("nrm"))
    // merge hint → exchange reuse: the bucketing projection (numPlanes
    // dot products per vector) runs once, not once per join side.
    val a = bucketed.as("a").hint("merge")
    val b = bucketed.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(vec_dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
      .orderBy("vec_a", "vec_b")
  }

  // ---------------------------------------------------------------------
  // Spherical k-means (corpus clustering for curation: SemDeDup-style
  // pruning, diversity balancing, and fitting REAL IVF centroids)
  // ---------------------------------------------------------------------

  /** The bounded, DETERMINISTIC training sample quantizer fits run on:
    * the `cap` rows with the smallest (xxhash64(vec_id), vec_id) — a
    * total order, so the sample is a pure function of the corpus
    * contents, invariant under partitioning and file layout (the
    * repo's digest-sampling discipline; `sample(rand)` is neither).
    * Plans as one TakeOrdered pass: per-partition top-cap, merged —
    * never a global sort. A corpus at or under `cap` returns whole,
    * so small-scale fits are exactly the unsampled fit.
    */
  private[ext] def trainSample(emb: DataFrame, cap: Int): DataFrame =
    if (cap <= 0) emb
    else emb.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(cap)

  /** Lloyd iterations of spherical k-means: assign every vector to its
    * max-dot centroid (the same opaque quantizer node the IVF path uses,
    * [[cellFor]]), recompute each centroid as the L2-normalized
    * per-cluster mean, repeat. Per-dimension sums aggregate through the
    * fixed-point vector aggregate ([[graft.functions.VecSumFixed]]) —
    * exact integer addition, so the fit is bit-identical under any
    * partitioning (the engine determinism contract; double sums drift
    * with fold order), with NO dim× row explosion: each iteration is
    * one scan + one map-side-combined aggregate whose shuffle carries
    * one dim-long vector per (cell × partition) — never data. The only
    * driver state is the k×dim centroid matrix itself, re-broadcast
    * into the next iteration's quantizer literal. Clusters that lose
    * all members keep their previous centroid. Returns the final
    * (unit-norm) centroids.
    *
    * Training runs on a bounded deterministic SAMPLE of the corpus
    * ([[trainSample]]; `sampleCap` < 0 ⇒ 256·k — the standard
    * points-per-centroid budget — 0 disables): placing k centroids
    * never needs the full corpus, and at 100 TB paying `iters`
    * full-corpus scans to do it would dominate the index build. With
    * sampling the corpus is scanned ONCE (the TakeOrdered sample pass,
    * cached), the iterations touch only the ≤ cap sample rows, and the
    * one remaining full-corpus pass is the caller's assignment scan
    * (build cost O(corpus + iters·cap), was O(iters·corpus)). A corpus
    * at or under the cap trains exactly as the unsampled fit.
    */
  def kmeansFit(emb: DataFrame, k: Int = 8, iters: Int = 5, dim: Int = 64,
                seed: Long = 7L, sampleCap: Int = -1): Seq[Seq[Float]] = {
    val cap = if (sampleCap < 0) 256 * k else sampleCap
    val doCache = cap > 0 && iters > 1
    val cached = if (doCache) trainSample(emb, cap).persist()
      else trainSample(emb, cap)
    try {
      var cs = centroids(k, dim, seed)
      for (_ <- 0 until iters) {
        val sums = cached
          .select(cellFor(col("embedding"), cs).as("cell"), col("embedding"))
          .groupBy("cell")
          .agg(graft.functions.VecSumAgg.vec_sum_fixed(col("embedding"), dim)
            .as("s"))
          .collect()
        val byCell = sums.map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
        cs = cs.zipWithIndex.map { case (old, c) =>
          byCell.get(c) match {
            case None => old // empty cluster: keep its centroid
            case Some(s) =>
              // Normalization makes the per-cluster divide-by-count a
              // no-op: sum and mean share a direction.
              val nrm = math.sqrt(s.map(x => x * x).sum)
              if (nrm == 0.0) old
              else s.map(x => (x / nrm).toFloat)
          }
        }
      }
      cs
    } finally if (doCache) { cached.unpersist(); () }
  }

  /** SemDeDup-style semantic deduplication: cluster the corpus with
    * spherical k-means, compare vectors only WITHIN a cluster (the cell
    * plays the LSH bucket's role but follows the data distribution, so
    * pair cost is bounded by cluster sizes — k grows with the corpus to
    * keep cells bounded), connect pairs at `threshold` into semantic
    * groups ([[Dedup.connectedComponents]]), and keep the minimum
    * vec_id per group. Returns the full audit view — (vec_id, group,
    * keep) — so the filtered corpus AND the dropped-per-group evidence
    * both fall out of one result.
    *
    * `assignments` controls the known SemDeDup recall trade: at 1 a
    * near-dup pair split across a cell boundary is never compared; at
    * m > 1 a vector ALSO lands in its 2nd..m-th best cells — but only
    * when that cell's cosine is within `boundaryEps` of its best
    * (boundary-conditional multi-assignment). The conditionality is the
    * cost model: assigning EVERY vector to m cells multiplies each
    * cell's membership by m and therefore the pair space by m²
    * (SemDedupDrill measured exactly 4.0× at m = 2 over 1M vectors —
    * not the m× a row-count argument suggests), while exploding only
    * the boundary fraction β costs (1 + (m−1)β)² ≈ 1 + 2β. Recall
    * guarantee: a pair with cos ≥ t whose cells differ scores both
    * cells within 2·√(2(1−t)) of each side's best, so any boundaryEps
    * ≥ that bound dual-assigns both sides into a shared cell (provided
    * the other cell is in the top-m by score — the constructed-geometry
    * ExtSpec asserts the capture, SemDedupDrill measures it at volume).
    * Duplicate pairs from sharing several cells collapse in one
    * distinct before the CC sees the edge list; `boundaryEps = 2.0`
    * (the cosine range) recovers the unconditional form for A/B runs.
    */
  def semanticDedup(emb: DataFrame, threshold: Double = 0.95, k: Int = 8,
                    iters: Int = 3, dim: Int = 64,
                    assignments: Int = 1,
                    boundaryEps: Double = 0.1): DataFrame = {
    val cs = kmeansFit(emb, k, iters, dim)
    semanticDedupAssigned(emb, cs, threshold, assignments, boundaryEps)
  }

  /** Corpus-scaled cell count for [[semanticDedup]]: k = max(kMin,
    * ⌈√(n / targetCellPop)⌉). A FIXED k is the scale-killer in an
    * otherwise bucketed design — expected cell population n/k grows
    * linearly with the corpus and the within-cell pair space Σ|cell|²
    * quadratically; √N-scaled k balances the two costs that pull in
    * opposite directions (fit cost O(n·k·iters) up with k, pair space
    * ~n²/k down with k), holding both at O(n^1.5). Callers pass a
    * cheap `count()` (parquet metadata-only); the explicit-k API stays
    * for tests and oracle-pinned suites — OracleAssumptionsSpec pins
    * this formula to the oracles' inlined k at every testdata scale.
    */
  def scaledCellCount(n: Long, targetCellPop: Int = 256,
                      kMin: Int = 8): Int =
    math.max(kMin, math.ceil(math.sqrt(
      math.max(0L, n).toDouble / targetCellPop)).toInt)

  /** Cell assignment for [[semanticDedupAssigned]]: one row per
    * (vector, assigned cell) with the embedding and its norm. m = 1 is
    * the plain best-cell projection; m > 1 adds the 2nd..m-th best
    * cells for vectors whose cosine to them is within `boundaryEps` of
    * their best — the dual-assignment stays proportional to the
    * boundary population, not the corpus. Shared with SemDedupDrill so
    * the drill measures the operator's real assignment, not a replica.
    */
  private[graft] def assignedCells(emb: DataFrame, cs: Seq[Seq[Float]],
                                   assignments: Int,
                                   boundaryEps: Double): DataFrame =
    if (assignments <= 1)
      emb.select(col("vec_id"), col("embedding"),
        cellFor(col("embedding"), cs).as("cell"),
        vec_norm(col("embedding")).as("nrm"))
    else {
      val centLit = typedLit(cs)
      // cos of this row's embedding to cell c's centroid (centroids are
      // unit-norm: seeded normalized, and the fit renormalizes)
      def cosTo(c: Column) =
        vec_dot(col("embedding"), element_at(centLit, c + 1)) / col("nrm")
      emb.select(col("vec_id"), col("embedding"),
          cellsFor(col("embedding"), cs, assignments).as("cells"),
          vec_norm(col("embedding")).as("nrm"))
        .select(col("vec_id"), col("embedding"), col("nrm"),
          explode(filter(col("cells"), (c, i) => i === 0 ||
            cosTo(c) >= cosTo(element_at(col("cells"), 1)) -
              lit(boundaryEps))).as("cell"))
    }

  /** [[semanticDedup]] after the fit — takes EXPLICIT centroids so the
    * boundary-recall behavior is testable against a constructed geometry
    * (and so one fit can be reused across threshold sweeps).
    */
  def semanticDedupAssigned(emb: DataFrame, cs: Seq[Seq[Float]],
                            threshold: Double = 0.95,
                            assignments: Int = 1,
                            boundaryEps: Double = 0.1): DataFrame = {
    val celled = assignedCells(emb, cs, assignments, boundaryEps)
    // merge hint → exchange reuse: cell assignment + norms run once,
    // not once per self-join side (the nearDupPairs rationale).
    val a = celled.as("a").hint("merge")
    val b = celled.as("b")
    val rawEdges = a.join(b, col("a.cell") === col("b.cell") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        (vec_dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm"))).as("cos"))
      .filter(col("cos") >= threshold)
      .select("src", "dst")
    // A pair meeting in several shared cells scores identically each
    // time — collapse before the CC sees the edge list.
    val edges = if (assignments <= 1) rawEdges else rawEdges.distinct()
    val comps = Dedup.connectedComponents(edges)
    emb.select(col("vec_id"))
      .join(comps, col("vec_id") === comps("id"), "left_outer")
      .select(col("vec_id"),
        coalesce(col("comp"), col("vec_id")).as("group"))
      .withColumn("keep", col("vec_id") === col("group"))
      .orderBy("vec_id")
  }

  /** Cluster summary after [[kmeansFit]]: per-cluster size and mean
    * cosine to the (unit-norm) centroid — the view a curation pipeline
    * ranks clusters by before pruning or rebalancing. The per-row cosine
    * is deterministic, and its mean aggregates through DECIMAL like the
    * fit itself. Iterative fits have no ANSI twin → rows-only oracle;
    * ScalaTest pins partition-invariance and that the fitted objective
    * beats the seeded centroids'.
    */
  def kmeansClusters(emb: DataFrame, k: Int = 8, iters: Int = 5,
                     dim: Int = 64, seed: Long = 7L): DataFrame = {
    val cs = kmeansFit(emb, k, iters, dim, seed)
    val centLit = typedLit(cs)
    emb.select(
        cellFor(col("embedding"), cs).as("cell"),
        (vec_dot(col("embedding"), element_at(centLit, col("cell") + 1)) /
          vec_norm(col("embedding"))).as("cos"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("cos").cast("decimal(27,12)")) / count(lit(1)), 4)
          .cast("double").as("mean_cos"))
      .orderBy("cell")
  }

  /** Embedding-space OUTLIERS: vectors whose cosine to their own
    * cluster centroid falls more than `z` standard deviations below
    * the cluster's mean — the curation screen for embedding-space
    * garbage (OCR noise, wrong-modality rows, mis-embedded docs),
    * which sits far from every semantic cluster in a way per-TEXT
    * quality scores cannot see. Complements [[semanticDedup]]: dedup
    * drops what is too CLOSE to something, this drops what is too far
    * from everything.
    *
    * Shape: one fit ([[kmeansFit]] — bounded sample), one full-corpus
    * assignment pass, a k-row moments table (broadcast back), and a
    * filtered second pass — no pairs, no windows. Determinism: the
    * per-cell mean and second moment sum through DECIMAL(27,12) (fold
    * -order-proof, the [[kmeansClusters]] discipline), the z cut
    * compares UNROUNDED doubles derived from those exact moments
    * (both engines compute bit-identical IEEE expressions — the
    * [[semanticDedup]] threshold precedent), and degenerate cells
    * (σ = 0) flag nothing rather than dividing by zero.
    */
  def semanticOutliers(emb: DataFrame, k: Int = 8, iters: Int = 4,
                       dim: Int = 64, z: Double = 2.0,
                       seed: Long = 7L): DataFrame = {
    val cs = kmeansFit(emb, k, iters, dim, seed)
    val centLit = typedLit(cs)
    val scored = emb.select(col("vec_id"), col("label"),
      cellFor(col("embedding"), cs).as("cell"),
      (vec_dot(col("embedding"), element_at(centLit, col("cell") + 1)) /
        vec_norm(col("embedding"))).as("cos"))
    val moments = scored.groupBy("cell").agg(
        (sum(col("cos").cast("decimal(27,12)")).cast("double") /
          count(lit(1))).as("mu"),
        (sum((col("cos") * col("cos")).cast("decimal(27,12)"))
          .cast("double") / count(lit(1))).as("m2"))
      .select(col("cell"), col("mu"),
        sqrt(greatest(col("m2") - col("mu") * col("mu"), lit(0.0)))
          .as("sigma"))
    scored.join(broadcast(moments), Seq("cell"))
      .filter(col("sigma") > 0 &&
        col("cos") < col("mu") - lit(z) * col("sigma"))
      .select(col("vec_id"), col("label"), col("cell"),
        round(col("cos"), 4).as("cos_centroid"),
        round((col("cos") - col("mu")) / col("sigma"), 4).as("zscore"))
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------------
  // Persisted outlier model — [[semanticOutliers]]'s screen split into
  // an offline fit (centroids + per-cell cosine moments, both k-row
  // side tables) and a frozen-model verdict pass, so a stream can
  // screen embedding batches without refitting: the
  // [[graft.ext.TextAnalysis.buildDsirIndex]] discipline on the
  // embedding side. The model is deliberately NOT mutated by screened
  // batches — an outlier boundary that absorbed the stream it filters
  // would drift toward whatever garbage arrives.
  // ---------------------------------------------------------------------

  private def outlierMarker(path: String) = s"$path/moments/_SUCCESS"

  /** Canonical per-corpus model location (the shared index-path
    * convention; bump the version segment on layout changes).
    */
  def outlierIndexPathFor(sfDir: String): String =
    IndexStamp.pathUnderRoot(
      "graft-outlier1-" + sfDir.replaceAll("[^A-Za-z0-9.]", "_"))

  /** Fit on the training corpus and persist: `centroids` (k rows) and
    * `moments` (per-cell DECIMAL-exact mean/σ of cosine-to-centroid
    * over the FULL training corpus' assignment). Moments written LAST —
    * the marker lives there, so a crash between the writes leaves no
    * servable model (the IVF `_centroids` rule).
    */
  def buildOutlierIndex(emb: DataFrame, path: String, k: Int = 8,
                        iters: Int = 4, dim: Int = 64,
                        seed: Long = 7L): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    IndexStamp.dropMarker(spark, outlierMarker(path))
    val cs = kmeansFit(emb, k, iters, dim, seed)
    cs.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    val centLit = typedLit(cs)
    emb.select(cellFor(col("embedding"), cs).as("cell"),
        (vec_dot(col("embedding"), element_at(centLit, col("cell") + 1)) /
          vec_norm(col("embedding"))).as("cos"))
      .groupBy("cell").agg(
        (sum(col("cos").cast("decimal(27,12)")).cast("double") /
          count(lit(1))).as("mu"),
        (sum((col("cos") * col("cos")).cast("decimal(27,12)"))
          .cast("double") / count(lit(1))).as("m2"))
      .select(col("cell"), col("mu"),
        sqrt(greatest(col("m2") - col("mu") * col("mu"), lit(0.0)))
          .as("sigma"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/moments")
  }

  /** Build only when absent or source-stale ([[IndexStamp.ensureFresh]]).
    * Returns true iff the build ran.
    */
  def ensureOutlierIndex(spark: org.apache.spark.sql.SparkSession,
                         emb: => DataFrame, path: String, k: Int = 8,
                         iters: Int = 4,
                         sourcePath: Option[String] = None): Boolean =
    IndexStamp.ensureFresh(spark, outlierMarker(path), path, sourcePath) {
      buildOutlierIndex(emb, path, k, iters)
    }

  /** Frozen-model outlier verdicts for EVERY batch row — unlike
    * [[semanticOutliers]] (which returns only the flagged rows of its
    * own fit), the screen shape: (vec_id, label, cell, cos_centroid,
    * zscore, is_outlier), assignment and z-cut against the PERSISTED
    * centroids/moments. A cell empty at training time carries no
    * moments row → its batch rows get null zscore and are never
    * flagged (the σ = 0 rule's missing-data analog: no boundary, no
    * verdict). Bounded metadata reads only — the model is 2k rows.
    */
  def outliersAgainstIndex(emb: DataFrame, path: String,
                           z: Double = 2.0): DataFrame = {
    val spark = emb.sparkSession
    // Model-sized reads (k centroids + k moment rows) — residency
    // can't pay, so no IndexCache routing (models stay plain scans;
    // only the corpus-shaped index families route).
    val cs: Seq[Seq[Float]] = IndexStamp.schemaMemoRead(spark, s"$path/centroids")
      .orderBy("cell").select("centroid").collect()
      .map(_.getSeq[Float](0).toSeq).toSeq
    val centLit = typedLit(cs)
    val scored = emb.select(col("vec_id"), col("label"),
      cellFor(col("embedding"), cs).as("cell"),
      (vec_dot(col("embedding"), element_at(centLit, col("cell") + 1)) /
        vec_norm(col("embedding"))).as("cos"))
    scored
      .join(broadcast(IndexStamp.schemaMemoRead(spark, s"$path/moments")),
        Seq("cell"), "left_outer")
      .select(col("vec_id"), col("label"), col("cell"),
        round(col("cos"), 4).as("cos_centroid"),
        when(col("sigma") > 0,
          round((col("cos") - col("mu")) / col("sigma"), 4)).as("zscore"),
        coalesce(col("sigma") > 0 &&
          col("cos") < col("mu") - lit(z) * col("sigma"), lit(false))
          .as("is_outlier"))
      .orderBy("vec_id")
  }
}
