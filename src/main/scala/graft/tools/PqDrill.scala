package graft.tools

import org.apache.spark.sql.functions._

import graft.ext.{Quantization, Similarity}

/** PQ scale drill: builds both persisted vector indexes — raw IVF
  * (embeddings at rest) and PQ (codes at rest) — over a synthetic
  * 2M × 64-dim corpus, and MEASURES the two claims the operator docs
  * make (`runMain graft.tools.PqDrill [vectors]`): the at-rest size
  * ratio (claimed ~16× before bit-packing: 64 float dims → 4 ints) and
  * the repeated-query cost of pruned ADC vs pruned raw-vector scoring.
  * Also asserts the indexed ADC rows equal the in-frame IVF×PQ
  * composition (the QuantizationSpec equality, at volume). Numbers
  * recorded in SCALE.md.
  */
private[tools] object PqDrill extends DrillDef("pq", Seq("2000")) {
  def run(r: DrillRun, args: Seq[String]): Unit = {
    val rows = args.lift(0).fold(2000000L)(_.toLong)
    val dim = 64
    val spark = r.spark
    val emb = spark.range(rows).select(
        col("id").as("vec_id"),
        (col("id") % 5).cast("int").as("label"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => ((pmod(xxhash64(col("id") * 131 + i), lit(2000000)) -
            1000000L) / 1000000.0).cast("float")).as("embedding"))
      .localCheckpoint()
    def dirBytes(p: String): Long = {
      val fs = new org.apache.hadoop.fs.Path(p)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength
    }

    val ivfPath = r.dir("ivf")
    val pqPath = r.dir("pq")
    val books = r.phase("pqTrain (m=4, k=16, 3 rounds)") {
      Quantization.pqTrain(emb, m = 4, k = 16, iters = 3, dim = dim)
    }
    r.phase("build raw IVF index (embeddings at rest)") {
      Similarity.buildIvfIndex(emb, ivfPath, nlist = 64, dim = dim)
    }
    r.phase("build PQ index (codes at rest)") {
      Quantization.buildPqIndex(emb, pqPath, books, dim = dim, nlist = 64)
    }
    val rawB = dirBytes(ivfPath)
    val pqB = dirBytes(pqPath)
    println(f"at rest: raw ${rawB / 1e6}%.0f MB, pq ${pqB / 1e6}%.0f MB, ratio ${rawB.toDouble / pqB}%.1f x")

    val (qv, qn) = Similarity.lookupVec(spark, ivfPath, 42L)
    val raw = r.phase("indexed raw top-10 (pruned, warm 2nd)") {
      Similarity.annTopKIndexed(spark, ivfPath, qv, qn, k = 10,
        nprobe = 4).collect()
      Similarity.annTopKIndexed(spark, ivfPath, qv, qn, k = 10,
        nprobe = 4).collect()
    }
    val adc = r.phase("indexed ADC top-10 (pruned, warm 2nd)") {
      Quantization.pqTopKIndexed(spark, pqPath, qv, k = 10, nprobe = 4)
        .collect()
      Quantization.pqTopKIndexed(spark, pqPath, qv, k = 10, nprobe = 4)
        .collect()
    }
    assert(raw.length == 10 && adc.length == 10)
    val inframe = r.phase("in-frame IVF x PQ (full corpus re-encode)") {
      Quantization.pqTopKIvf(emb, books, queryId = 42L, k = 10, dim = dim,
        nlist = 64, nprobe = 4).collect()
    }
    assert(adc.toSeq == inframe.toSeq,
      "indexed ADC must equal the in-frame composition at volume")
    // Two-stage retrieval at volume. COST on the big corpus: the
    // rerank's second stage must price candidates, not corpus.
    r.phase("exact cosine top-10 (full raw corpus scan)") {
      Similarity.cosineTopK(emb, queryId = 42L, k = 10).collect()
    }
    val rerank = r.phase("pqRerank top-10 (codes pass + 100-row rerank)") {
      Quantization.pqRerank(emb, books, queryId = 42L, k = 11,
        kCand = 100, dim = dim).collect().map(_.getLong(0)).toSet
    }
    assert(rerank.contains(42L), "self-hit must lead the rerank")
    // RECALL on a CLUSTERED corpus — the realistic embedding shape —
    // at two shortlist sizes, measuring the sizing rule that matters:
    // same-cluster vectors encode to (near-)IDENTICAL codes, so ADC
    // ranking WITHIN a code cell is pure id tie-break, and the
    // shortlist only guarantees recall once kCand covers the query's
    // code-cell population (here ~corpus/50 per cluster). kCand = 100
    // under a ~4000-member tie class recalls ~tie-break luck
    // (measured ~0.1); kCand = 2·cluster recalls ~1.0 while the exact
    // stage still reranks 25× less than the corpus. On the isotropic
    // uniform corpus, 16-bit codes carry no signal at all (recall ~0 —
    // the honest negative control).
    def recallAt10(corpus: org.apache.spark.sql.DataFrame,
                   bks: Seq[Seq[Seq[Float]]], kCand: Int): Double = {
      val exact = Similarity.cosineTopK(corpus, 42L, 10).collect()
        .map(_.getLong(0)).toSet
      val rr = Quantization.pqRerank(corpus, bks, 42L, k = 11,
        kCand = kCand, dim = dim).collect().map(_.getLong(0)).toSet - 42L
      rr.count(exact) / 10.0
    }
    val cn = math.min(rows, 200000L)
    val anchorLit = typedLit(Similarity.centroids(50, dim, 99L).map(_.toSeq))
    val clustered = spark.range(cn).select(col("id").as("vec_id"),
        (col("id") % 50).cast("int").as("label"),
        transform(sequence(lit(0), lit(dim - 1)), j =>
          (element_at(element_at(anchorLit,
              (pmod(col("id"), lit(50)) + 1).cast("int")), j + 1) +
            (pmod(xxhash64(col("id") * 64 + j), lit(1000)) - 500) /
              lit(5000.0)).cast("float")).as("embedding"))
      .localCheckpoint()
    val cbooks = r.phase(f"pqTrain on $cn%d clustered vectors") {
      Quantization.pqTrain(clustered, m = 4, k = 16, iters = 3, dim = dim)
    }
    val kSmall = 100
    val kBig = (2L * cn / 50L).toInt // 2× the per-cluster tie class
    val rSmall = r.phase(f"two-stage recall@10 (clustered, kCand=$kSmall%d)") {
      recallAt10(clustered, cbooks, kSmall)
    }
    val rBig = r.phase(f"two-stage recall@10 (clustered, kCand=$kBig%d)") {
      recallAt10(clustered, cbooks, kBig)
    }
    println(f"two-stage recall@10: clustered $rSmall%.2f@$kSmall%d / " +
      f"$rBig%.2f@$kBig%d, uniform " +
      f"${recallAt10(emb, books, kSmall)}%.2f (isotropic negative control)")
    assert(rBig >= 0.9,
      f"tie-class-covering shortlist must recall the exact top-k: $rBig%.2f")
    // AUTO shortlist (r12): the tie-class-complete threshold must reach
    // the same recall with NO hand-tuned kCand — the sizing law
    // executed by the operator instead of applied by the caller. The
    // observed metric surfaces the size it chose.
    def autoObs = r.observed("pq_drill_auto")
      .fold("?")(m => s"kcand_effective=${m("kcand_effective")}")
    def recallAuto(corpus: org.apache.spark.sql.DataFrame,
                   bks: Seq[Seq[Seq[Float]]]): Double = {
      val exact = Similarity.cosineTopK(corpus, 42L, 10).collect()
        .map(_.getLong(0)).toSet
      val rr = Quantization.pqRerankAuto(corpus, bks, 42L, k = 11,
          dim = dim, observeName = "pq_drill_auto")
        .collect().map(_.getLong(0)).toSet - 42L
      rr.count(exact) / 10.0
    }
    val rAuto = r.phase("two-stage recall@10 (clustered, AUTO shortlist)") {
      recallAuto(clustered, cbooks)
    }
    println(f"auto-shortlist recall@10: clustered $rAuto%.2f " +
      s"($autoObs) — no kCand argument")
    assert(rAuto >= 0.9,
      f"auto shortlist must recall the exact top-k: $rAuto%.2f")
    // The negative control stays honest under auto sizing: isotropic
    // scores have near-unique tie classes, so auto picks a SMALL
    // shortlist and recall stays ~0 — auto sizing fixes tie-class
    // truncation, it cannot add signal 16-bit codes don't carry.
    val rAutoUniform = recallAuto(emb, books)
    println(f"auto-shortlist recall@10: uniform $rAutoUniform%.2f " +
      s"($autoObs) — isotropic negative control")
  }
}
