package graft.tools

import org.apache.spark.sql.functions._

/** Streaming-curation scale drill (`screen [standingDocs] [triggers]
  * [batchSize] [full|fullcache]`, default 200k / 6 / 1000): builds the
  * standing MinHash index once, then drives
  * [[graft.stream.Pipeline.curationStream]] through repeated triggers
  * of planted batches — per trigger: 10% byte-identical copies of
  * standing docs (must be caught by the novelty screen), 5%
  * blocklisted (must fail the gate), 5% intra-batch twin pairs (one
  * survivor each), the rest fresh (must be kept). Asserts the verdict
  * counts per trigger and prints each trigger's phase line (wall, GC,
  * device read/write, steal) — the number that
  * matters at 100 TB is that trigger cost tracks the BATCH, not the
  * standing corpus, and stays flat as the index absorbs survivors.
  *
  * `full` additionally configures the r14 screens: a persisted
  * eval-gram contamination index (1,000 benchmark docs), a frozen
  * embedding-outlier model (fit on a 50k clean cloud), and the
  * repetition veto — and (r18) the fuzzy contamination screen against
  * its own 5-token eval MinHash index, completing the
  * curation_screen_v3 config — with four more plant families per
  * trigger: 5% verbatim eval-benchmark copies (novel to every dedup
  * index; the contamination count AND span rules catch exactly them),
  * 5% verbatim copies of 5-token fuzzy-eval docs (3 shared grams < 5
  * so the count rule is blind, a 5-token run < 8 so the span rule is
  * blind, J = 1.0 so the fuzzy screen catches them DETERMINISTICALLY —
  * no recall-knee risk), 5% fresh-text docs carrying garbage
  * embeddings (ONLY the outlier screen can catch them), and 5%
  * copy-paste-stutter docs (unique phrase repeated 20×; ONLY the
  * repetition veto can catch them) — asserted per trigger.
  * `fullcache` is `full` with the cross-trigger index cache on.
  */
private[tools] object ScreenDrill
    extends DrillDef("screen", Seq("2000", "2", "200", "fullcache")) {
  def run(r: DrillRun, args: Seq[String]): Unit = {
    val standingN = args.lift(0).fold(200000L)(_.toLong)
    val triggers = args.lift(1).fold(6)(_.toInt)
    val batchN = args.lift(2).fold(1000)(_.toInt)
    val full = args.lift(3).exists(_.startsWith("full"))
    val spark = r.spark
    // `fullcache`: the A/B for the at-rest-rescan bottleneck the 10M
    // run named.
    if (args.lift(3).contains("fullcache"))
      spark.conf.set("spark.graft.indexCache", "true")
    import spark.implicits._

    def tokensN(seed: org.apache.spark.sql.Column, n: Int) =
      ToolSession.drillTokens(seed, n)
    def tokens(seed: org.apache.spark.sql.Column) = tokensN(seed, 30)
    val standing = spark.range(standingN)
      .select(col("id").as("doc_id"), tokens(col("id")).as("text"))
      .localCheckpoint()

    val idx = r.dir("idx")
    r.phase(s"index build ($standingN docs)") {
      graft.ext.Dedup.buildMinhashIndex(standing, idx)
    }

    // Full mode: the frozen reference state the r14 screens consume.
    val evalN = 1000
    val evalSeed = 3333333333L
    def mkEmb(id: Long, noise: Float): Array[Float] = {
      val rnd = new scala.util.Random(id)
      Array.tabulate(64)(j => (if (j == 0) 10f else 0f) +
        (rnd.nextFloat() * 2 - 1) * noise)
    }
    // Fuzzy (r18, the curation_screen_v3 config): a SECOND eval suite
    // of 5-token docs with its own MinHash index — short enough that a
    // verbatim copy carries 3 < contamMinShared grams (count rule
    // blind) in a 5 < 8-token run (span rule blind) but J = 1.0
    // (deterministic LSH catch, no recall-knee risk); the fuzzy
    // screen's UNIQUE coverage, planted through the composite.
    val ndEvalN = 1000
    val ndSeed = 5555555555L
    val (evIdx, oIdx, ndIdx) = (r.dir("evidx"), r.dir("oidx"), r.dir("ndidx"))
    if (full) {
      r.phase(s"eval-gram index build ($evalN docs)") {
        graft.ext.Contamination.buildEvalIndex(
          spark.range(evalN).select(col("id").as("doc_id"),
            tokens(col("id") + evalSeed).as("text")), evIdx)
      }
      r.phase(s"fuzzy-eval MinHash index build ($ndEvalN docs)") {
        graft.ext.Dedup.buildMinhashIndex(
          spark.range(ndEvalN).select(col("id").as("doc_id"),
            tokensN(col("id") + ndSeed, 5).as("text")), ndIdx)
      }
      r.phase("outlier model fit (50000 vecs)") {
        graft.ext.Similarity.buildOutlierIndex(
          spark.range(50000).select(col("id").as("vec_id")).as[Long]
            .map(i => (i, mkEmb(i, 0.01f))).toDF("vec_id", "embedding"),
          oIdx)
      }
    }

    val copies = batchN / 10      // planted standing dups
    val blocked = batchN / 20     // planted blocklist hits
    val twinPairs = batchN / 20   // planted intra-batch twin PAIRS
    val contam = if (full) batchN / 20 else 0   // planted eval copies
    val fuzzy = if (full) batchN / 20 else 0    // planted short-eval copies
    val outliers = if (full) batchN / 20 else 0 // planted garbage embs
    val stutter = if (full) batchN / 20 else 0  // planted repetition
    val fresh = batchN - copies - blocked - 2 * twinPairs - contam -
      fuzzy - outliers - stutter

    // One generator for both modes; the stream drops the embedding
    // column outside full mode.
    def mkBatch(trig: Int): Seq[(Long, String, Array[Float])] = {
      val base = standingN * 10L + trig.toLong * batchN
      spark.range(base, base + batchN).select(
          col("id").as("doc_id"),
          (col("id") - base).as("k"))
        .select(col("doc_id"), col("k"),
          when(col("k") < copies, tokens(pmod(col("doc_id"), lit(standingN))))
          .when(col("k") < copies + blocked,
            concat(tokens(col("doc_id")), lit(" plantbad")))
          .when(col("k") < copies + blocked + 2 * twinPairs,
            tokens(lit(-1) - col("doc_id") + pmod(col("k") - copies - blocked, lit(2))))
          .when(col("k") < copies + blocked + 2 * twinPairs + contam,
            tokens(pmod(col("k") + lit(trig.toLong * contam), lit(evalN))
              + evalSeed))
          // Fuzzy plants: verbatim copies of DISTINCT 5-token fuzzy-eval
          // docs — J = 1.0 against the fuzzy index (deterministic LSH
          // catch), invisible to the count rule (3 shared grams < 5),
          // the span rule (5-token run < 8), and every dedup index.
          .when(col("k") < copies + blocked + 2 * twinPairs + contam +
              fuzzy,
            tokensN(pmod(col("k") + lit(trig.toLong * fuzzy), lit(ndEvalN))
              + ndSeed, 5))
          // Stutter plants: each repeats its OWN unique 3-token phrase
          // 20× — novel to every index, quality-clean (long alpha
          // prefixes keep the alpha ratio above the 0.6 boundary
          // despite the ~10-digit id suffix), dup-3-gram frac ≈ 0.95;
          // only the repetition veto can catch it.
          .when(col("k") < copies + blocked + 2 * twinPairs + contam +
              fuzzy + stutter,
            concat_ws(" ", transform(sequence(lit(1), lit(20)),
              _ => concat_ws(" ",
                concat(lit("stutterphrasealphaworda"), col("doc_id")),
                concat(lit("stutterphrasealphawordb"), col("doc_id")),
                concat(lit("stutterphrasealphawordc"), col("doc_id"))))))
          .otherwise(tokens(col("doc_id") + 7777777L)).as("text"))
        .collect().map { row =>
          val (id, k) = (row.getLong(0), row.getLong(1))
          val garbage = k >= copies + blocked + 2 * twinPairs + contam +
            fuzzy + stutter &&
            k < copies + blocked + 2 * twinPairs + contam + fuzzy +
              stutter + outliers
          (id, row.getString(2), mkEmb(id, if (garbage) 3f else 0.01f))
        }.toSeq
    }

    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Array[Float])](
        implicitly[org.apache.spark.sql.Encoder[(Long, String, Array[Float])]],
        spark.sqlContext)
    val input = source.toDF().toDF("doc_id", "text", "embedding")
    // outlierZ = 4: at the default z = 2 the frozen boundary flags the
    // clean cloud's own ~2σ tail by construction (measured 2.7% of
    // in-distribution docs at this corpus) — correct screen behavior,
    // but this drill asserts EXACT planted counts, so it pins at a cut
    // where clean docs never land while the garbage plants (cos ≈ 0.58
    // vs µ ≈ 0.9999, tens of σ out) always do.
    val query = graft.stream.Pipeline.curationStream(
      if (full) input else input.select("doc_id", "text"), idx,
      r.dir("verdicts"), r.dir("ckpt"), blocklist = Seq("plantbad"),
      contamIndexPath = Option.when(full)(evIdx),
      contamSpanMinRun = Option.when(full)(8),
      neardupEvalIndexPath = Option.when(full)(ndIdx),
      outlierIndexPath = Option.when(full)(oIdx), outlierZ = 4.0,
      repetitionMaxDupFrac = Option.when(full)(0.2),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"))
    try {
      (0 until triggers).foreach { trig =>
        val batch = mkBatch(trig)
        r.phase(s"trigger $trig") {
          source.addData(batch: _*)
          query.processAllAvailable()
        }
        val v = spark.read.parquet(r.dir(s"verdicts/batch_id=$trig"))
        val kept = v.filter(col("kept")).count()
        val caught = v.filter(!col("is_novel")).count()
        val gated = v.filter(!col("blocklist_ok")).count()
        val cont = v.filter(col("is_contaminated")).count()
        val spanHits = v.filter(!col("span_ok")).count()
        val fuzz = v.filter(!col("neardup_ok")).count()
        val outl = v.filter(col("is_outlier")).count()
        val rep = v.filter(!col("repetition_ok")).count()
        println(f"trigger $trig%d: kept=$kept%d caught=$caught%d blocked=$gated%d contaminated=$cont%d spans=$spanHits%d fuzzy=$fuzz%d outliers=$outl%d stutter=$rep%d")
        assert(caught == copies, s"trigger $trig: caught $caught != $copies")
        assert(gated == blocked, s"trigger $trig: blocked $gated != $blocked")
        assert(cont == contam, s"trigger $trig: contaminated $cont != $contam")
        // the verbatim eval copies are 30-token runs — the span rule
        // catches exactly them (standing/fresh/stutter text shares no
        // eval 3-gram sequences)
        assert(spanHits == contam, s"trigger $trig: spans $spanHits != $contam")
        // the fuzzy screen's index is the SHORT suite only, so its
        // planted family is exactly the flagged set — the count/span
        // plants share no gram with it
        assert(fuzz == fuzzy, s"trigger $trig: fuzzy $fuzz != $fuzzy")
        assert(outl == outliers, s"trigger $trig: outliers $outl != $outliers")
        assert(rep == stutter, s"trigger $trig: stutter $rep != $stutter")
        assert(kept == fresh + twinPairs,
          s"trigger $trig: kept $kept != ${fresh + twinPairs}")
      }
    } finally query.stop()
  }
}
