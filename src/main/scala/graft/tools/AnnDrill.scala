package graft.tools

import org.apache.spark.sql.functions._

import graft.ext.Similarity

/** ANN scale drill: builds the persisted IVF index over a synthetic
  * 1M × 64-dim embedding corpus (2000× the sf0.01 embeddings table) and
  * measures the repeated-query cost of the three paths — brute force,
  * full-scan IVF (cells re-derived per query), and the partition-pruned
  * persisted index (`ann [vectors]`). The indexed path must return
  * exactly the full-scan IVF rows.
  */
private[tools] object AnnDrill extends DrillDef("ann", Seq("2000")) {
  def run(r: DrillRun, args: Seq[String]): Unit = {
    val rows = args.lift(0).fold(1000000L)(_.toLong)
    val dim = 64
    val spark = r.spark
    // Deterministic pseudo-gaussian-ish components from a hash mix: the
    // drill needs volume and spread, not statistical rigor.
    val emb = spark.range(rows).select(
        col("id").as("vec_id"),
        (col("id") % 5).cast("int").as("label"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => ((pmod(xxhash64(col("id") * 131 + i), lit(2000000)) -
            1000000L) / 1000000.0).cast("float")).as("embedding"))
      .localCheckpoint()

    val path = r.dir("ivf")
    r.phase("build IVF index (one-off)") {
      Similarity.buildIvfIndex(emb, path, nlist = 64, dim = dim)
    }
    val exact = r.phase("brute-force top-10 (full scan)") {
      Similarity.cosineTopK(emb, queryId = 42L, k = 10).collect()
    }
    assert(exact.length == 10)
    // The index's quantizer is TRAINED at build time, so the full-scan
    // comparator must run under the SAME stored centroids for the
    // equality to be meaningful (annTopKIvf's seeded quantizer probes
    // different cells).
    val (storedCs, _) = Similarity.loadCentroidsMeta(spark, path)
    val ivf = r.phase("IVF top-10 (cells re-derived)") {
      Similarity.annTopKIvfWith(emb, queryId = 42L, k = 10, storedCs,
        nprobe = 4).collect()
    }
    val (qv, qn) = Similarity.lookupVec(spark, path, 42L)
    val idx = r.phase("indexed top-10 (pruned partitions)") {
      Similarity.annTopKIndexed(spark, path, qv, qn, k = 10,
        nprobe = 4).collect()
    }
    assert(idx.toSeq == ivf.toSeq, "indexed must equal full-scan IVF")
    // Steady state: the second indexed query (file index warm).
    r.phase("indexed top-10 (repeat query)") {
      Similarity.annTopKIndexed(spark, path, qv, qn, k = 10,
        nprobe = 4).collect()
    }
    // Spherical k-means over the same corpus: per-iteration cost is one
    // scan + one (cell, dim)-keyed decimal aggregate; the fitted
    // centroids are what a production IVF index would be built from.
    // (Sample-trained by default: the fit pays one TakeOrdered corpus
    // pass + iters passes over ≤ 256·k rows — compare against the
    // unsampled fit timed below it.)
    val cs = r.phase("k-means fit (16 cells, 3 iters, sampled)") {
      Similarity.kmeansFit(emb, k = 16, iters = 3, dim = dim)
    }
    assert(cs.length == 16)
    r.phase("k-means fit (16 cells, 3 iters, FULL corpus)") {
      Similarity.kmeansFit(emb, k = 16, iters = 3, dim = dim, sampleCap = 0)
    }
    r.phase("k-means cluster summary") {
      val cl = Similarity.kmeansClusters(emb, k = 16, iters = 1, dim = dim)
        .collect()
      assert(cl.map(_.getAs[Long]("n_vecs")).sum == rows)
    }

    // ------------------------------------------------------------------
    // Seeded vs TRAINED quantizer on a CLUSTERED corpus — the claim the
    // trained-centroid index build rests on. Uniform noise (above) has
    // no cluster structure, so it can't distinguish the two; real
    // embedding corpora are clustered. Report recall@10 at fixed nprobe
    // and cell-population skew for both quantizers — first on equal
    // cluster populations, then (round 9) on a SKEWED population:
    // cluster of id = floor(nlist · u²) for uniform hash-u, so cluster
    // populations fall off as 1/√(k+1) — cluster 0 holds ~8× the mean.
    // A trained quantizer should adapt cell boundaries to the density.
    // ------------------------------------------------------------------
    val nlist = 64
    val protoLit = typedLit(Similarity.centroids(nlist, dim, seed = 99L))
    def corpus(cluster: org.apache.spark.sql.Column) =
      spark.range(rows).select(col("id").as("vec_id"),
          (col("id") % 5).cast("int").as("label"), cluster.as("__c"))
        .select(col("vec_id"), col("label"),
          transform(sequence(lit(0), lit(dim - 1)), i =>
            (element_at(element_at(protoLit, col("__c") + 1), i + 1) +
              (pmod(xxhash64(col("vec_id") * 131 + i), lit(2000000)) -
                1000000L) / lit(1000000.0) * lit(0.25)).cast("float"))
            .as("embedding"))
        .localCheckpoint()
    // Recall@10 at nprobe = 4 over 16 queries drawn from 16 clusters
    // (one per 2,000 vectors below 32k, so a smoke-sized corpus runs
    // the same path in a few queries).
    val queries = 0L until (rows / 2000).max(1L).min(16L)
    def recallOn(corpus: org.apache.spark.sql.DataFrame, p: String): Double = {
      val hits = queries.map { q =>
        val exact = Similarity.cosineTopK(corpus, queryId = q, k = 10)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        val (qv, qn) = Similarity.lookupVec(spark, p, q)
        // k+1 then drop the self-hit driver-side (the indexed ranker
        // includes the query vector; cosineTopK excludes it).
        val got = Similarity.annTopKIndexed(spark, p, qv, qn, k = 11,
            nprobe = 4)
          .collect().map(_.getLong(0)).filterNot(_ == q).take(10).toSet
        (exact & got).size
      }
      hits.sum / (10.0 * queries.length)
    }
    def skew(p: String): (Double, Int) = {
      val counts = spark.read.parquet(p).groupBy("cell").count()
        .collect().map(_.getLong(1))
      (counts.max.toDouble * counts.length / counts.sum,
        nlist - counts.length)
    }
    Seq("clustered" -> corpus((col("id") % nlist).cast("int")),
        "SKEWED" -> corpus(floor(lit(nlist) * pow(
          pmod(xxhash64(col("id")), lit(1000000)) / lit(1000000.0), 2))
          .cast("int"))).foreach { case (tag, c) =>
      val (seededDir, trainedDir) = (r.dir(s"$tag-seeded"), r.dir(s"$tag-trained"))
      r.phase(s"build $tag index (seeded quantizer)") {
        Similarity.buildIvfIndexWith(c, seededDir,
          Similarity.centroids(nlist, dim, 7L))
      }
      r.phase(s"build $tag index (trained quantizer)") {
        Similarity.buildIvfIndex(c, trainedDir, nlist = nlist, dim = dim)
      }
      val (skewS, emptyS) = skew(seededDir)
      val (skewT, emptyT) = skew(trainedDir)
      println(f"$tag cell skew (max/mean): seeded $skewS%.1fx ($emptyS empty cells), trained $skewT%.1fx ($emptyT empty cells)")
      val nq = queries.size
      val rS = r.phase(s"$tag recall@10, seeded ($nq queries, nprobe=4)") {
        recallOn(c, seededDir)
      }
      val rT = r.phase(s"$tag recall@10, trained ($nq queries, nprobe=4)") {
        recallOn(c, trainedDir)
      }
      println(f"$tag recall@10 at nprobe=4: seeded $rS%.3f, trained $rT%.3f")
    }
  }
}
