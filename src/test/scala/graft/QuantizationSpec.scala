package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Quantization, Similarity}

/** Product quantization against hand-built codebooks and a clustered
  * corpus: codec exactness where it must be exact, measured recall and
  * convergence where the operator is honestly approximate.
  */
class QuantizationSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // 2 subspaces × 2-dim, 2 codewords each — hand-checkable.
  private val books: Seq[Seq[Seq[Float]]] = Seq(
    Seq(Seq(1f, 0f), Seq(0f, 1f)),
    Seq(Seq(2f, 0f), Seq(0f, 2f)))

  private def vecs(rows: (Long, Seq[Float])*) =
    rows.toSeq.toDF("vec_id", "embedding")
      .select(col("vec_id"), lit(0).as("label"), col("embedding"))

  test("pqEncode picks the L2-nearest codeword per subspace") {
    val df = vecs(
      (0L, Seq(0.9f, 0.1f, 0.1f, 1.9f)), // near book0[0], book1[1]
      (1L, Seq(0.2f, 1.1f, 2.2f, 0.0f))) // near book0[1], book1[0]
    val got = Quantization.pqEncode(df, books, dim = 4).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](2))).toMap
    assert(got(0L) == Seq(0, 1) && got(1L) == Seq(1, 0))
  }

  test("a codeword-composed vector round-trips the codec exactly") {
    val df = vecs((7L, Seq(0f, 1f, 2f, 0f))) // book0[1] ++ book1[0]
    val enc = Quantization.pqEncode(df, books, dim = 4)
    val dec = enc.select(col("vec_id"),
        Quantization.pqDecode(col("codes"), books).as("xhat"))
      .collect()
    assert(dec(0).getSeq[Float](1) == Seq(0f, 1f, 2f, 0f))
  }

  test("ADC score is the sum of per-subspace codeword dots") {
    val df = vecs(
      (0L, Seq(0.5f, 0.5f, 1f, 1f)),  // the query
      (1L, Seq(1f, 0f, 2f, 0f)))      // codes (0, 0)
    val out = Quantization.pqTopK(df, books, queryId = 0L, k = 2, dim = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    // doc1: q·x̂ = (0.5,0.5)·(1,0) + (1,1)·(2,0) = 0.5 + 2.0
    assert(out(1L) == 2.5)
    // doc0 encodes to (0, 0) too (0.5,0.5 ties → first best = code 0):
    // same reconstruction, same score.
    assert(out(0L) == 2.5)
  }

  // Clustered corpus: 4 well-separated direction clusters in 8 dims.
  private lazy val clustered = {
    val protos = Seq(
      Seq(1f, 1f, 0f, 0f, 0f, 0f, 0f, 0f),
      Seq(0f, 0f, 1f, 1f, 0f, 0f, 0f, 0f),
      Seq(0f, 0f, 0f, 0f, 1f, 1f, 0f, 0f),
      Seq(0f, 0f, 0f, 0f, 0f, 0f, 1f, 1f))
    val rng = new scala.util.Random(3L)
    val rows = (0L until 200L).map { i =>
      val p = protos((i % 4).toInt)
      val v = p.map(x => x + 0.05f * rng.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      (i, v.map(x => (x / n).toFloat): Seq[Float])
    }
    vecs(rows: _*).cache()
  }

  test("pqTrain reduces reconstruction error and pqTopK recalls the exact top-k") {
    def mse(books: Seq[Seq[Seq[Float]]]): Double = {
      val enc = Quantization.pqEncode(clustered, books, dim = 8)
        .join(clustered, Seq("vec_id"))
      enc.select(avg(graft.functions.VectorFunctions.vec_dot(
          zip_with(col("embedding"),
            Quantization.pqDecode(col("codes"), books),
            (a, b) => a - b),
          zip_with(col("embedding"),
            Quantization.pqDecode(col("codes"), books),
            (a, b) => a - b))).as("mse"))
        .head().getDouble(0)
    }
    val init: Seq[Seq[Seq[Float]]] =
      (0 until 2).map(s => Similarity.centroids(8, 4, 11L + s))
    val trained = Quantization.pqTrain(clustered, m = 2, k = 8, iters = 4,
      dim = 8, seed = 11L)
    assert(mse(trained) < mse(init),
      s"training must reduce MSE: ${mse(trained)} >= ${mse(init)}")
    // Same-cluster vectors collapse onto the same few codes, so ADC
    // scores tie inside a cluster and within-cluster ORDER is
    // id-arbitrary — the meaningful recall property under quantization
    // is membership: every ADC hit must come from the query's cluster,
    // exactly like every exact-ranker hit does (50 candidates per
    // cluster, k = 10 ≪ 50).
    val exact = Similarity.cosineTopK(clustered, queryId = 0L, k = 10)
      .collect().map(_.getLong(0))
    val adc = Quantization.pqTopK(clustered, trained, queryId = 0L, k = 10,
        dim = 8)
      .collect().map(_.getLong(0))
    assert(exact.length == 10 && exact.forall(_ % 4 == 0))
    assert(adc.length == 10 && adc.forall(_ % 4 == 0),
      s"ADC returned out-of-cluster ids: ${adc.filterNot(_ % 4 == 0).toSeq}")
  }

  test("pqRerank: full shortlist equals the exact ranking; narrow shortlist stays ADC-bounded") {
    val trained = Quantization.pqTrain(clustered, m = 2, k = 8, iters = 4,
      dim = 8, seed = 11L)
    val n = clustered.count().toInt
    // kCand = corpus → the rerank IS the exact ranking (self-hit leads
    // at cosine 1.0, then the exact top-(k−1))
    val full = Quantization.pqRerank(clustered, trained, queryId = 0L,
        k = 10, kCand = n, dim = 8)
      .collect().map(_.getLong(0)).toSeq
    val exact = 0L +: Similarity.cosineTopK(clustered, queryId = 0L, k = 9)
      .collect().map(_.getLong(0)).toSeq
    assert(full === exact)
    // narrow shortlist: every reranked hit must come from the ADC
    // top-kCand (the rerank can reorder the shortlist, never leave it)
    val cand = Quantization.pqTopK(clustered, trained, 0L, 20, dim = 8)
      .collect().map(_.getLong(0)).toSet
    val narrow = Quantization.pqRerank(clustered, trained, 0L, k = 10,
        kCand = 20, dim = 8)
      .collect().map(_.getLong(0))
    assert(narrow.length == 10 && narrow.forall(cand))
  }

  // Deterministic tie-class corpus for the auto-sized shortlist: class
  // A vectors all encode to codes (0,0) (exact ADC tie at score 5.0)
  // but their EXACT cosine to the query INCREASES with vec_id, so a
  // fixed kCand = k shortlist (lowest ids of the tie class) misses the
  // true top-k almost entirely — the PqDrill failure mode at spec
  // scale. Class B encodes to (1,1) (ADC 0.0) and never shortlists.
  private lazy val tieCorpus = {
    val q = (0L, Seq(1f, 0f, 2f, 0f))
    val classA = (1L to 25L).map { i =>
      val eps = 0.02f * (26 - i) // higher id → less orthogonal noise
      (i, Seq(1f, eps, 2f, eps): Seq[Float])
    }
    val classB = (30L to 34L).map(i => (i, Seq(0f, 1f, 0f, 2f): Seq[Float]))
    vecs((q +: classA) ++ classB: _*)
  }

  test("pqRerankAuto covers whole ADC tie classes: exact top-k recovered where fixed kCand=k fails") {
    // sanity: one tie class at 5.0 covering ids 0..25, one at 0.0
    val scores = Quantization.pqTopK(tieCorpus, books, queryId = 0L,
        k = 31, dim = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert((0L to 25L).forall(scores(_) == 5.0))
    assert((30L to 34L).forall(scores(_) == 0.0))
    val exact = 0L +: Similarity.cosineTopK(tieCorpus, queryId = 0L, k = 9)
      .collect().map(_.getLong(0)).toSeq
    assert(exact == 0L +: (25L to 17L by -1L), exact) // top ids by design
    // fixed kCand = k cuts inside the tie class: only the self-hit
    // survives from the exact top-10
    val fixed = Quantization.pqRerank(tieCorpus, books, queryId = 0L,
        k = 10, kCand = 10, dim = 4)
      .collect().map(_.getLong(0)).toSet
    assert((fixed & exact.toSet) == Set(0L), fixed)
    // auto thresholds at the class boundary → the whole 26-member class
    // reranks exactly and the true top-10 comes back in exact order
    val auto = Quantization.pqRerankAuto(tieCorpus, books, queryId = 0L,
        k = 10, dim = 4)
      .collect().map(_.getLong(0)).toSeq
    assert(auto == exact, auto)
  }

  test("pqRerankAuto edge: corpus smaller than k thresholds at -inf and reranks everything") {
    val small = vecs((0L, Seq(1f, 0f, 2f, 0f)), (1L, Seq(1f, 0.2f, 2f, 0.2f)),
      (2L, Seq(0f, 1f, 0f, 2f)))
    val got = Quantization.pqRerankAuto(small, books, queryId = 0L,
        k = 50, dim = 4)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(0L, 1L, 2L)) // full corpus, exact cosine order
  }

  test("pqRerankIndexedAuto with every cell probed equals the in-frame pqRerankAuto") {
    val trained = Quantization.pqTrain(clustered, m = 2, k = 8, iters = 4,
      dim = 8, seed = 11L)
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-auto")
      .toString + "/idx"
    Quantization.buildPqIndex(clustered, dir, trained, dim = 8, nlist = 8)
    val qVec = clustered.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).toArray
    val indexed = Quantization.pqRerankIndexedAuto(spark, dir, clustered,
      qVec, k = 10, nprobe = 8).collect().toSeq
    val inframe = Quantization.pqRerankAuto(clustered, trained,
      queryId = 0L, k = 10, dim = 8).collect().toSeq
    assert(indexed === inframe)
    assert(indexed.head.getLong(0) == 0L &&
      indexed.head.getDouble(2) == 1.0)
  }

  test("pqTopKIndexed: cached codes reads equal direct reads") {
    val trained = Quantization.pqTrain(clustered, m = 2, k = 8, iters = 4,
      dim = 8, seed = 11L)
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-cache")
      .toString + "/idx"
    Quantization.buildPqIndex(clustered, dir, trained, dim = 8, nlist = 8)
    val qVec = clustered.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).toArray
    def rows() = Quantization.pqTopKIndexed(spark, dir, qVec, k = 10,
      nprobe = 8).collect().map(_.toSeq).toSeq
    val direct = rows()
    spark.conf.set("spark.graft.indexCache", "true")
    try {
      assert(rows() == direct) // cold fill
      assert(rows() == direct) // cache hit
    } finally {
      spark.conf.unset("spark.graft.indexCache")
      graft.ext.IndexCache.clear()
    }
  }

  test("sampled PQ training is deterministic and equals the explicit-sample fit") {
    val a = Quantization.pqTrain(clustered, m = 2, k = 8, iters = 3,
      dim = 8, seed = 11L, sampleCap = 64)
    val sample = clustered
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(64)
    assert(a == Quantization.pqTrain(sample, m = 2, k = 8, iters = 3,
      dim = 8, seed = 11L, sampleCap = 0))
    assert(a == Quantization.pqTrain(clustered.repartition(7), m = 2,
      k = 8, iters = 3, dim = 8, seed = 11L, sampleCap = 64))
    // the default cap (256·k = 2048) covers this 200-row corpus whole:
    // identical to the unsampled fit
    assert(Quantization.pqTrain(clustered, m = 2, k = 8, iters = 3,
      dim = 8, seed = 11L) == Quantization.pqTrain(clustered, m = 2,
      k = 8, iters = 3, dim = 8, seed = 11L, sampleCap = 0))
  }

  test("pqTopKIvf prunes to probed cells without losing the query's cluster") {
    val trained = Quantization.pqTrain(clustered, m = 2, k = 8, iters = 4,
      dim = 8, seed = 11L)
    val hits = Quantization.pqTopKIvf(clustered, trained, queryId = 0L,
        k = 10, dim = 8, nlist = 8, nprobe = 3)
      .collect().map(_.getLong(0))
    assert(hits.length == 10, s"got ${hits.length} rows")
    assert(hits.forall(_ % 4 == 0),
      s"out-of-cluster ids: ${hits.filterNot(_ % 4 == 0).toSeq}")
    // Consistency with the unpruned ADC ranker: the IVF-probed result
    // must be drawn from the full ADC ranking's candidate order (the
    // probe can only REMOVE candidates, never invent scores).
    val full = Quantization.pqTopK(clustered, trained, queryId = 0L,
        k = 50, dim = 8).collect().map(_.getLong(0)).toSet
    assert(hits.forall(full.contains))
  }

  test("pqRerankIndexed with every cell probed equals the in-frame pqRerank") {
    // nprobe = nlist → the at-rest shortlist IS the full ADC
    // shortlist, so the two-stage indexed path must reproduce the
    // in-frame two-stage ranker row-for-row.
    val trained = Quantization.pqTrain(clustered, m = 2, k = 8, iters = 4,
      dim = 8, seed = 11L)
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-rerank")
      .toString + "/idx"
    Quantization.buildPqIndex(clustered, dir, trained, dim = 8, nlist = 8)
    val qVec = clustered.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).toArray
    val indexed = Quantization.pqRerankIndexed(spark, dir, clustered, qVec,
      k = 10, kCand = 30, nprobe = 8).collect().toSeq
    val inframe = Quantization.pqRerank(clustered, trained, queryId = 0L,
      k = 10, kCand = 30, dim = 8).collect().toSeq
    assert(indexed === inframe)
    assert(indexed.head.getLong(0) == 0L &&
      indexed.head.getDouble(2) == 1.0) // self-hit leads at cosine 1.0
  }

  test("persisted PQ index: pruned driver-table ADC equals the in-frame ranker") {
    val trained = Quantization.pqTrain(clustered, m = 2, k = 8, iters = 4,
      dim = 8, seed = 11L)
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-spec")
      .toString + "/idx"
    Quantization.buildPqIndex(clustered, dir, trained, dim = 8, nlist = 8)
    // The codebook round-trips the side table exactly.
    assert(Quantization.loadBooks(spark, dir) == trained)
    val qVec = clustered.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).toArray
    val indexed = Quantization.pqTopKIndexed(spark, dir, qVec, k = 10,
      nprobe = 3)
    val inframe = Quantization.pqTopKIvf(clustered, trained, queryId = 0L,
      k = 10, dim = 8, nlist = 8, nprobe = 3)
    val rows = indexed.collect().toSeq
    assert(rows.nonEmpty && rows == inframe.collect().toSeq)
    // Static cell pruning, and NO raw embedding column anywhere in the
    // indexed plan — the index stores codes only.
    val p = indexed.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("embedding"), p)
  }

  test("appendPqIndex equals a same-codebook rebuild, and replays change nothing") {
    val trained = Quantization.pqTrain(clustered, m = 2, k = 8, iters = 4,
      dim = 8, seed = 11L)
    val half = clustered.filter(col("vec_id") < 100L)
    val rest = clustered.filter(col("vec_id") >= 100L)
    val tmp = java.nio.file.Files.createTempDirectory("graft-pq-append")
    val (full, inc) = (s"$tmp/full", s"$tmp/inc")
    Quantization.buildPqIndex(clustered, full, trained, dim = 8, nlist = 8)
    Quantization.buildPqIndex(half, inc, trained, dim = 8, nlist = 8)
    Quantization.appendPqIndex(rest, inc)
    def rows(p: String) = spark.read.parquet(p)
      .select("vec_id", "label", "codes", "cell")
      .collect().map(_.toString).sorted.toSeq
    assert(rows(inc) == rows(full) && rows(full).nonEmpty)
    // Same-id replay (at-least-once delivery) must be a no-op.
    Quantization.appendPqIndex(rest, inc, ingestId = 1L)
    Quantization.appendPqIndex(rest, inc, ingestId = 1L)
    assert(rows(inc) == rows(full))
    // Appends must not retrain: the stored codebook is untouched.
    assert(Quantization.loadBooks(spark, inc) == trained)
  }

  test("compactPqIndex folds ingests; codebook untouched; folded replays no-op") {
    val trained = Quantization.pqTrain(clustered, m = 2, k = 8, iters = 4,
      dim = 8, seed = 11L)
    val half = clustered.filter(col("vec_id") < 100L)
    val rest = clustered.filter(col("vec_id") >= 100L)
    val tmp = java.nio.file.Files.createTempDirectory("graft-pq-compact")
    val (full, inc) = (s"$tmp/full", s"$tmp/inc")
    Quantization.buildPqIndex(clustered, full, trained, dim = 8, nlist = 8)
    Quantization.buildPqIndex(half, inc, trained, dim = 8, nlist = 8)
    Quantization.appendPqIndex(rest, inc, ingestId = 1L)
    def rows(p: String) = spark.read.parquet(p)
      .select("vec_id", "label", "codes", "cell")
      .collect().map(_.toString).sorted.toSeq
    assert(Quantization.compactPqIndex(spark, inc))
    val fs = new org.apache.hadoop.fs.Path(inc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(graft.ext.IndexStamp.ingestIds(fs,
      new org.apache.hadoop.fs.Path(inc)) === Set(0L))
    // compacted == appended == same-codebook rebuilt, and the codebook
    // side table is untouched by the fold
    assert(rows(inc) == rows(full) && rows(full).nonEmpty)
    assert(Quantization.loadBooks(spark, inc) == trained)
    // folded-id replay no-ops; the ranked answer is unchanged
    Quantization.appendPqIndex(rest, inc, ingestId = 1L)
    assert(rows(inc) == rows(full))
    val qVec = clustered.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).toArray
    assert(Quantization.pqTopKIndexed(spark, inc, qVec, k = 10, nprobe = 3)
        .collect().toSeq ===
      Quantization.pqTopKIndexed(spark, full, qVec, k = 10, nprobe = 3)
        .collect().toSeq)
    // an already-compact index no-ops
    assert(!Quantization.compactPqIndex(spark, inc))
  }

  test("lifecycle guards: empty cold start refused, dim mismatch loud, empty base reads empty") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-pq-guards")
    // 1. A cold-start append on an empty batch must refuse rather than
    //    freeze a seeded-noise codebook forever.
    val none = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
      .select(col("vec_id"), lit(0).as("label"), col("embedding"))
    intercept[IllegalArgumentException] {
      Quantization.appendPqIndex(none, s"$tmp/cold", ingestId = 1L)
    }
    // 2. The cold-start crash window (marker committed, zero ingest
    //    data) reads as an EMPTY ranking, not a schema-inference crash.
    val trained = Quantization.pqTrain(clustered, m = 2, k = 8, iters = 2,
      dim = 8, seed = 11L)
    Quantization.buildPqIndex(
      clustered.filter(col("vec_id") < 0L), s"$tmp/base", trained,
      dim = 8, nlist = 8)
    assert(Quantization.pqTopKIndexed(spark, s"$tmp/base",
      Array.fill(8)(0f), k = 5).isEmpty)
    // 2b. A MISSING index (typo'd path) fails loudly — it must never
    //     serve an empty ranking as if it were a real answer.
    intercept[IllegalArgumentException] {
      Quantization.pqTopKIndexed(spark, s"$tmp/nowhere",
        Array.fill(8)(0f), k = 5)
    }
    // 2c. A wrong-dimension QUERY is caught even while the index holds
    //     no data yet (the misconfiguration surfaces immediately, not
    //     once the first batch lands).
    intercept[IllegalArgumentException] {
      Quantization.pqTopKIndexed(spark, s"$tmp/base",
        Array.fill(4)(0f), k = 5)
    }
    // 3. A warm append from a different embedding model (wrong dim)
    //    fails loudly instead of writing prefix-truncated codes.
    Quantization.buildPqIndex(clustered, s"$tmp/warm", trained,
      dim = 8, nlist = 8)
    val bad = vecs((999L, Seq(1f, 2f)))
    val thrown = intercept[Throwable] {
      Quantization.appendPqIndex(bad, s"$tmp/warm", ingestId = 9L)
    }
    val msgs = Iterator.iterate(thrown)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("PQ index expects 8-dim"), msgs)
  }

  test("the registered pq_topk_indexed and pq_topk_ivf queries stay row-equal") {
    // Guards the SparkEntry pairing itself (same training literals in
    // two entries): a drift in either entry's params breaks this, not
    // just a comment's claim.
    val dir = "/root/testdata/sf0.001"
    val a = SparkEntry.queries("pq_topk_ivf")(spark, dir).collect().toSeq
    val b = SparkEntry.queries("pq_topk_indexed")(spark, dir).collect().toSeq
    assert(a.nonEmpty && a == b)
  }

  test("pqTrain is deterministic") {
    val a = Quantization.pqTrain(clustered, m = 2, k = 8, iters = 2,
      dim = 8, seed = 11L)
    val b = Quantization.pqTrain(clustered, m = 2, k = 8, iters = 2,
      dim = 8, seed = 11L)
    assert(a == b)
  }
}
