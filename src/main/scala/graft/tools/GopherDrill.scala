package graft.tools

import org.apache.spark.sql.functions._

import graft.ext.TextAnalysis

/** Gopher-battery scale drill
  * (`gopher [docs]`, default 2M docs — 4000×
  * the sf0.01 doc count). Unplanted docs are unique random-vocab text
  * (30 × ~19-char tokens); four planted families each trip EXACTLY ONE
  * of the three gates, so every expected count is exact and
  * cross-contamination between batteries would show as a count
  * mismatch, not a vague slowdown:
  *
  *  - `%1000 == 1`: the doc's first 8 tokens re-appended — duplicated
  *    5..8-gram coverage ≈ 0.42 (n-gram gate fails; top-gram rules,
  *    line and quality batteries all pass).
  *  - `%1000 == 2`: three copies of a boilerplate line ahead of unique
  *    filler — dup_line_frac 0.5 (line gate fails; 33 words, no
  *    repeated n-gram ≥ 5, quality passes).
  *  - `%1000 == 3`: eight `##` tokens appended — symbol ratio 0.42
  *    and alpha-word fraction 0.79 (quality gate fails; the run is
  *    short enough that every top-gram share and the dup-5..10-gram
  *    coverage stay under their bars — sixteen copies would trip the
  *    0.16 top-4-gram rule at 0.173, measured — so the n-gram gate
  *    passes).
  *  - `%1000 == 4`: 200 words against a 150-word ceiling (quality gate
  *    fails on the window alone; no repetition anywhere).
  *
  * Thresholds: word window [20, 150], maxMeanLen 25 (the drill vocab's
  * ~19-char tokens sit over the published web-text 10), minStopwords 0
  * (no English function words in the vocab); all other bounds
  * published. Each battery is one phase. The point at 100 TB: all
  * three are scan-bound zero-hash-exchange projections (PlanGuardSpec
  * pins the plans), so drill wall-time ≈ generate + fold cost, with
  * 0.00 GB device reads off the checkpointed corpus.
  */
private[tools] object GopherDrill extends DrillDef("gopher", Seq("2000")) {
  def run(r: DrillRun, args: Seq[String]): Unit = {
    val n = args.lift(0).fold(2000000L)(_.toLong)
    require(n >= 5, "need the planted residues populated")

    val doc = col("doc_id")
    val base = ToolSession.drillTokens(doc, 30)
    val text = when(doc % 1000 === 1,
        concat_ws(" ", base, ToolSession.drillTokens(doc, 8)))
      .when(doc % 1000 === 2,
        concat(lit("hotline one\nhotline one\nhotline one\n"),
          ToolSession.drillTokens(doc, 27)))
      .when(doc % 1000 === 3,
        concat_ws(" ", base,
          lit(Seq.fill(8)("##").mkString(" "))))
      .when(doc % 1000 === 4, ToolSession.drillTokens(doc, 200))
      .otherwise(base)
    val docs = r.spark.range(n).select(col("id").as("doc_id"))
      .select(doc, text.as("text"))
      .localCheckpoint()

    // Exact planted-family sizes for ANY n ≥ 5, closed form.
    def fam(k: Long): Long = if (n > k) (n - 1 - k) / 1000 + 1 else 0L
    val (nA, nB, nC, nD) = (fam(1), fam(2), fam(3), fam(4))

    val cfg = TextAnalysis.GopherGateConfig(minWords = 20, maxWords = 150,
      maxMeanLen = 25.0, minStopwords = 0)
    val qFail = r.phase("quality battery") {
      TextAnalysis.gopherQualityStats(docs, minWords = cfg.minWords,
          maxWords = cfg.maxWords, maxMeanLen = cfg.maxMeanLen,
          minStopwords = cfg.minStopwords)
        .filter(!col("gopher_quality_ok")).count()
    }
    assert(qFail == nC + nD, s"quality gate: $qFail != ${nC + nD}")

    val gFail = r.phase("n-gram battery") {
      TextAnalysis.gopherNgramStats(docs)
        .filter(!col("gopher_ngram_ok")).count()
    }
    assert(gFail == nA, s"ngram gate: $gFail != $nA")

    val lFail = r.phase("line battery") {
      TextAnalysis.lineRepetitionStats(docs)
        .filter(!col("gopher_ok")).count()
    }
    assert(lFail == nB, s"line gate: $lFail != $nB")

    println(s"OK: n=$n families A=$nA B=$nB C=$nC D=$nD " +
      "— each battery failed exactly its own plants")
  }
}
