package graft.tools

import org.apache.spark.sql.functions._

import graft.ext.Vocab

/** BPE scale drill: tests the operator's own scale claim — that merge
  * iterations run over the VOCABULARY frame, so per-iteration cost is
  * corpus-size-INDEPENDENT and only the one-time word histogram scales
  * with the corpus (`vocab [docs]`, default
  * 200k for the small corpus; the large corpus is the same corpus
  * replicated 10×, so every pair count scales exactly 10× and the
  * learned merge sequence must be IDENTICAL — asserted, not assumed).
  *
  * Measured quantities (after an untimed warmup learn on each corpus):
  * t(k=1) ≈ histogram + 1 iteration and t(k=17), so per-iteration ≈
  * (t17 − t1) / 16 and histogram ≈ t1 − per-iter.
  * The claim holds if large-corpus per-iteration stays ~flat while
  * its histogram time grows with the corpus. Numbers recorded in
  * SCALE.md.
  */
private[tools] object VocabDrill extends DrillDef("vocab", Seq("500")) {
  def run(r: DrillRun, args: Seq[String]): Unit = {
    val rows = args.lift(0).fold(200000L)(_.toLong)
    val spark = r.spark

    def corpus(n: Long) = spark.range(n).select(
        col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(29)),
          i => concat(lit("w"),
            pmod(xxhash64(col("id") * 131 + i), lit(5000)))))
          .as("text"))
    val small = corpus(rows).localCheckpoint()
    // 10 exact copies: identical word histogram shape, every count ×10.
    val large = spark.range(10).crossJoin(small)
      .select((col("id") * rows + col("doc_id")).as("doc_id"), col("text"))
      .localCheckpoint()

    // Warm the JVM/codegen paths before anything is timed.
    Vocab.learnBpeMerges(small, 2).collect()
    Vocab.learnBpeMerges(large, 1).collect()

    def learn(corpus: org.apache.spark.sql.DataFrame, size: String, k: Int) =
      r.phase(s"$size k=$k")(Vocab.learnBpeMerges(corpus, k).collect())
    val (sizeS, sizeL) = (s"small ($rows docs)", s"large (${rows * 10} docs)")
    learn(small, sizeS, 1)
    val mSmall = learn(small, sizeS, 17)
    learn(large, sizeL, 1)
    val mLarge = learn(large, sizeL, 17)
    val (s1, s17) = (r.seconds(s"$sizeS k=1"), r.seconds(s"$sizeS k=17"))
    val (l1, l17) = (r.seconds(s"$sizeL k=1"), r.seconds(s"$sizeL k=17"))

    // Identical merges, pair counts exactly 10×.
    def merges(rows: Array[org.apache.spark.sql.Row]) = rows.map(m =>
      (m.getInt(0), m.getString(1), m.getString(2), m.getLong(3)))
    val (a, b) = (merges(mSmall), merges(mLarge))
    assert(a.length == 17 && b.length == 17, s"${a.length}/${b.length} merges")
    assert(a.zip(b).forall { case ((ra, la, rra, ca), (rb, lb, rrb, cb)) =>
      ra == rb && la == lb && rra == rrb && cb == 10 * ca
    }, "replicated corpus must learn the identical merge sequence at 10x counts")

    val perIterSmall = (s17 - s1) / 16
    val perIterLarge = (l17 - l1) / 16
    println(f"per-iteration  small ${perIterSmall}%.2f s   large ${perIterLarge}%.2f s   ratio ${perIterLarge / perIterSmall}%.2f (claim: ~1, corpus-independent)")
    println(f"histogram+init small ${s1 - perIterSmall}%.2f s   large ${l1 - perIterLarge}%.2f s (scales with corpus)")
  }
}
