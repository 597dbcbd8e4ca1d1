package graft.tools

import org.apache.spark.sql.functions._

/** Backfill-scale proof for the BATCH curation composite at the
  * corpus_prep_v5 config (`prepbackfill [batchDocs]`, default 2M): every screen on — quality, blocklist,
  * exact dedup, LSH near-dup clustering widened with containment
  * edges, all THREE contamination rules (scattered-count,
  * contiguous-span, fuzzy near-dup), the semantic-outlier screen, the
  * repetition veto, and (r18 ext-2) the full Gopher doc-quality
  * battery — over a parquet-backed corpus-sized batch, with planted
  * truth per family. The run's phase line carries the device read AND
  * write bytes: the write counter is where a hidden second corpus pass
  * or a corpus-sized shuffle of the fuzzy veto would show up.
  *
  * Plants (1% each; every family caught by EXACTLY the screens its
  * design names):
  *   - blocklist hits (" plantbad" appended);
  *   - intra-batch twin PAIRS (byte-identical: one survivor each,
  *     counted by BOTH the exact-dup and near-dup verdicts);
  *   - verbatim copies of DISTINCT 30-token eval docs (count rule ≥ 5
  *     shared rare grams, span rule ≥ 8-token run, fuzzy rule J = 1.0
  *     — all three contamination verdicts, deterministically);
  *   - verbatim copies of DISTINCT 5-token eval docs (3 shared grams
  *     < 5: count rule blind; 5-token run < 8: span rule blind;
  *     J = 1.0: ONLY the fuzzy veto catches them — its unique
  *     coverage, with no LSH recall-knee risk);
  *   - copy-paste stutter (own 3-token phrase × 20: ONLY the
  *     repetition veto);
  *   - symbol spam (eight `##` tokens appended: symbol ratio 0.42 and
  *     alpha-word fraction 0.79 — ONLY the Gopher battery; the gate's
  *     word floor is 5 and maxMeanLen 40 so the 5-token fuzzy plants
  *     and the ~32-char stutter tokens pass every OTHER battery rule);
  *   - garbage embeddings on fresh text (ONLY the outlier screen;
  *     outlierZ = 4 so the in-frame boundary never clips the clean
  *     cloud's own tail — the ScreenDrill pin, same reasoning).
  *
  * Eval suites are sized so every verbatim plant copies a DISTINCT
  * eval doc: plant digests stay unique (no accidental exact-dup
  * groups) and each eval gram's corpus-side df stays 1 ≤ 20 (the
  * count rule's stop-gram cap never prunes the planted evidence).
  *
  * Heap: the 2M run holds the positional shingle checkpoint (~2.3 GB)
  * plus the composite's window/aggregate state — the default sbt
  * -Xmx4g starves execution memory (measured: UNABLE_TO_ACQUIRE at
  * stage 30). Run with SBT_OPTS raising -Xmx to ≥ 16g, and with
  * SPARK_GRAFT_CPUS at 16 or fewer: the composite's per-task hash
  * state (collect_set aggregates, positional windows) divides the
  * execution pool by the task count, and 32-way concurrency starved it
  * at 2M docs (measured UNABLE_TO_ACQUIRE even at 48g). A cluster
  * deployment has executor memory for this by construction.
  */
private[tools] object PrepBackfillDrill
    extends DrillDef("prepbackfill", Seq("2000")) {
  def run(r: DrillRun, args: Seq[String]): Unit = {
    val batchN = args.lift(0).fold(2000000L)(_.toLong)
    val spark = r.spark
    def tokensN(seed: org.apache.spark.sql.Column, n: Int) =
      ToolSession.drillTokens(seed, n)

    // Eval suites: enough docs that every plant copies a DISTINCT one.
    val evalSeed = 3333333333L
    val ndSeed = 5555555555L
    val plantsPerFam = (batchN / 100).toInt
    val evalN = plantsPerFam.max(1)
    val evalDocs = spark.range(evalN)
      .select(col("id").as("doc_id"), tokensN(col("id") + evalSeed, 30)
        .as("text"))
      .union(spark.range(evalN)
        .select((col("id") + evalN).as("doc_id"),
          tokensN(col("id") + ndSeed, 5).as("text")))

    // Plant layout on k = doc_id - base.
    val blocked = plantsPerFam
    val twinPairs = plantsPerFam
    val contam = plantsPerFam
    val fuzzy = plantsPerFam
    val stutter = plantsPerFam
    val gopherSpam = plantsPerFam
    val outliers = plantsPerFam
    val planted =
      blocked + 2 * twinPairs + contam + fuzzy + stutter + gopherSpam
    val fresh = batchN - planted - outliers
    val batchDir = r.dir("batch")
    val base = 100000000L
    spark.range(base, base + batchN)
      .select(col("id").as("doc_id"), (col("id") - base).as("k"))
      .select(col("doc_id"), col("k"),
        when(col("k") < blocked,
          concat(tokensN(col("doc_id"), 30), lit(" plantbad")))
        .when(col("k") < blocked + 2 * twinPairs,
          tokensN(lit(-1) - floor((col("k") - blocked) / 2), 30))
        .when(col("k") < blocked + 2 * twinPairs + contam,
          tokensN(col("k") - blocked - 2 * twinPairs + evalSeed, 30))
        .when(col("k") < blocked + 2 * twinPairs + contam + fuzzy,
          tokensN(col("k") - blocked - 2 * twinPairs - contam + ndSeed, 5))
        .when(col("k") < planted - gopherSpam,
          concat_ws(" ", transform(sequence(lit(1), lit(20)),
            _ => concat_ws(" ",
              concat(lit("stutterphrasealphaworda"), col("doc_id")),
              concat(lit("stutterphrasealphawordb"), col("doc_id")),
              concat(lit("stutterphrasealphawordc"), col("doc_id"))))))
        .when(col("k") < planted,
          concat_ws(" ", tokensN(col("doc_id") + 13131313L, 30),
            lit(Seq.fill(8)("##").mkString(" "))))
        .otherwise(tokensN(col("doc_id") + 7777777L, 30)).as("text"))
      .write.mode("overwrite").parquet(batchDir)
    val batch = spark.read.parquet(batchDir)

    // Distributed embedding generation (2M × 64 floats never touches
    // the driver): a tight clean cloud at (10, 0, …) ± 0.01 per dim;
    // the garbage plants (k in [planted, planted + outliers)) get ± 3
    // noise. NOTE the outlier family's ground truth is NOT "garbage is
    // flagged": the IN-FRAME screen fits k-means on the 99/1 mixture
    // itself, and a garbage blob can earn its own centroid (or land on
    // a stale never-updated one), whose cell then has garbage-sized
    // moments and flags only its own tail — measured 951/1000 and
    // 135/1000 under two garbage shapes at 100k. That is correct
    // SCREEN behavior on adversarial mixtures (the frozen-model screen
    // ScreenDrill pins is the deployment answer); what the COMPOSITE
    // must guarantee is that its outlier verdict column equals the
    // standalone screen's output row-for-row, so that is what this
    // drill asserts, and expected kept is derived from the standalone
    // flagged set.
    val garbage = col("k") >= planted && col("k") < planted + outliers
    val noise = when(garbage, lit(3.0)).otherwise(lit(0.01))
    val emb = batch.select(col("doc_id").as("vec_id"),
      lit("drill").as("label"),
      transform(sequence(lit(0), lit(63)),
        j => (when(j === 0, 10.0).otherwise(0.0) +
          (pmod(xxhash64(col("doc_id") * 67 + j), lit(10000)) / 10000.0
            - 0.5) * 2.0 * noise).cast("float")).as("embedding"))

    // Independent ground truth for the outlier family: the standalone
    // screen over the same frame (deterministic end to end: hash-ordered
    // fit sample, DECIMAL moments, exact IEEE z cut — the corpus_prep
    // oracle replays the same chain in SQL). Flagged set is outlier-
    // boundary-sized; bounded collect.
    val flaggedK = graft.ext.Similarity.semanticOutliers(emb, k = 8,
        iters = 4, z = 4.0)
      .select(col("vec_id")).collect().map(_.getLong(0) - base).toSet

    val rep = r.phase(s"prepare+report ($batchN-doc backfill, " +
        "corpus_prep_v5 config)") {
      val out = graft.ext.CorpusPrep.prepare(
        batch.select("doc_id", "text"), evalDocs,
        blocklist = Seq("plantbad"),
        containmentThreshold = Some(0.5),
        embeddings = Some(emb),
        outlierZ = 4.0,
        repetitionMaxDupFrac = Some(0.2),
        contamSpanMinRun = Some(8),
        contamNeardupThreshold = Some(0.5),
        gopherGate = Some(graft.ext.TextAnalysis.GopherGateConfig(
          minWords = 5, maxWords = 1000000L, maxMeanLen = 40.0,
          minStopwords = 0)),
        sorted = false)
      graft.ext.CorpusPrep.report(out).head()
    }
    println(rep.toString)

    def n(name: String): Long = rep.getAs[Long](name)
    assert(n("total_docs") == batchN)
    assert(n("low_quality") == 0, s"low_quality ${n("low_quality")}")
    assert(n("blocked") == blocked, s"blocked ${n("blocked")}")
    assert(n("exact_dups") == twinPairs, s"exact_dups ${n("exact_dups")}")
    assert(n("near_dups") == twinPairs, s"near_dups ${n("near_dups")}")
    assert(n("contaminated") == contam, s"contaminated ${n("contaminated")}")
    assert(n("span_vetoed") == contam, s"span_vetoed ${n("span_vetoed")}")
    // the 30-token eval copies sit at J = 1.0 too — the fuzzy verdict
    // covers BOTH verbatim families; only the short copies are its
    // unique coverage
    assert(n("neardup_vetoed") == contam + fuzzy,
      s"neardup_vetoed ${n("neardup_vetoed")}")
    assert(n("repetition_vetoed") == stutter,
      s"repetition_vetoed ${n("repetition_vetoed")}")
    assert(n("gopher_vetoed") == gopherSpam,
      s"gopher_vetoed ${n("gopher_vetoed")}")
    // Composite ≡ standalone: the outlier verdict column must carry the
    // standalone screen's flagged set exactly (the wiring property; see
    // the embedding-generation note for why "garbage is flagged" is not
    // the contract for an in-frame fit).
    assert(n("outliers") == flaggedK.size,
      s"outliers ${n("outliers")} != standalone ${flaggedK.size}")
    // Expected kept from the plant layout + the standalone flagged set:
    // the four text-vetoed families and the garbage plants contribute
    // kept docs only where not vetoed; each twin pair keeps its minimum
    // ELIGIBLE member (1 unless both members are outlier-flagged);
    // fresh docs are kept unless outlier-flagged.
    val twinLo = blocked
    val twinHi = blocked + 2 * twinPairs
    val fullyFlaggedPairs = flaggedK
      .filter(k => k >= twinLo && k < twinHi)
      .groupBy(k => (k - twinLo) / 2).count(_._2.size == 2)
    val garbageKept = (planted until planted + outliers)
      .count(k => !flaggedK(k.toLong))
    val freshFlagged = flaggedK.count(_ >= planted + outliers)
    val expectKept = fresh - freshFlagged + (twinPairs - fullyFlaggedPairs) +
      garbageKept
    assert(n("kept_docs") == expectKept,
      s"kept ${n("kept_docs")} != $expectKept " +
        s"(|flagged|=${flaggedK.size}, garbageKept=$garbageKept)")
    println(s"plant asserts OK (eleven families exact; outliers " +
      s"composite≡standalone at ${flaggedK.size} flagged, " +
      s"$garbageKept garbage docs legitimately under the in-frame cut)")
  }
}
