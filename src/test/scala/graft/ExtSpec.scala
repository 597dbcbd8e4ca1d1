package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Contamination, CorpusPrep, Dedup, IndexCache, Multimodal, Sampling, Similarity, TextAnalysis}

/** North-star extensions on hand-built corpora. */
class ExtSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again"),
    (1L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 0
    (2L, "The quick brown fox, jumps over the lazy dog again and again!"), // dup after normalize
    (3L, "the quick brown fox jumps over the lazy cat again and again today"), // near-dup
    (4L, "completely different content about spark query engines at scale"))
    .toDF("doc_id", "text")

  test("exact dedup counts duplicates via content digest") {
    val r = Dedup.exactStats(docs).head()
    assert(r.getAs[Long]("total_docs") == 5)
    assert(r.getAs[Long]("distinct_docs") == 4)
    assert(r.getAs[Long]("duplicate_docs") == 1)
  }

  test("normalized dedup folds case/punctuation variants") {
    val r = Dedup.normalizedStats(docs).head()
    assert(r.getAs[Long]("distinct_docs") == 3) // {0,1,2} fold together
  }

  test("keep-first dedup keeps the lowest doc_id per group") {
    val groups = Dedup.dedupKeepFirst(docs).collect()
    assert(groups.length == 4)
    val dupGroup = groups.filter(_.getAs[Long]("group_size") == 2)
    assert(dupGroup.length == 1 && dupGroup.head.getAs[Long]("keep_doc_id") == 0L)
  }

  test("bloom-prescreened incremental dedup equals the exact anti-join") {
    val seen = docs.filter(col("doc_id") <= 2)
    val fresh = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"), // dup of seen 0
      (11L, "a genuinely new document that the corpus has never held"),
      (12L, "completely different content about spark query engines at scale"))
      .toDF("doc_id", "text") // 12 is NOT in seen (doc 4 is filtered out)
    val exact = Dedup.dedupAgainstSeen(fresh, seen)
      .select("doc_id").as[Long].collect().toSet
    val bloomed = Dedup.dedupAgainstSeenBloom(fresh, seen)
      .select("doc_id").as[Long].collect().toSet
    assert(bloomed == exact && exact == Set(11L, 12L))
    // A tiny, collision-heavy filter must still verify exactly: misses
    // short-circuit, hits fall through to the digest anti-join.
    val tiny = Dedup.dedupAgainstSeenBloom(fresh, seen, numBits = 64,
        numHashes = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(tiny == exact)
  }

  test("count-min estimates dominate exact counts; screen loses no heavy token") {
    val exact = TextAnalysis.heavyHittersExact(docs, k = 1000).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    // Narrow width forces collisions so est > exact for some token —
    // the overcount-only property is what the test pins.
    val est = TextAnalysis.heavyHittersCms(docs, k = 1000, depth = 2,
        width = 16).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(exact.keySet == est.keySet)
    exact.foreach { case (tok, cnt) => assert(est(tok) >= cnt, tok) }
    // The screened-exact form returns exactly the plain HAVING query.
    val screened = TextAnalysis.frequentTokensCms(docs, minCount = 3,
        depth = 2, width = 16).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val plainHaving = exact.filter(_._2 >= 3).toSet
    assert(screened == plainHaving && screened.nonEmpty)
  }

  test("contamination: copied docs flagged, stop-grams carry no signal") {
    val eval = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val train = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"), // verbatim copy
      (101L, "alpha beta gamma something else entirely here now"), // 2 shared
      (102L, "unrelated training text with no overlap at all whatsoever"))
      .toDF("doc_id", "text")
    val out = Contamination.ngramOverlap(eval, train, minShared = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 100L, 6L))) // 8 tokens → 6 trigrams, all shared
    // A gram present in every training doc is pruned by the df cap.
    val spam = (200L to 230L).map(i => (i, s"common phrase here plus-$i"))
      .toDF("doc_id", "text")
    val out2 = Contamination.ngramOverlap(
      Seq((2L, "common phrase here")).toDF("doc_id", "text"),
      spam, minShared = 1, dfCap = 20)
    assert(out2.isEmpty) // df=31 > cap for the only shared gram
  }

  test("scrubCommonSpans drops only corpus-common windows, unions overlaps") {
    val corpus = Seq(
      (1L, "please visit our site today"),
      (2L, "visit our site"),
      (3L, "we say visit our site and more"),
      (4L, "totally unrelated words here"),
      (5L, "visit our site visit our site"))
      .toDF("doc_id", "text")
    // "visit our site" occurs in docs 1,2,3,5 (df=4 ≥ 3); every other
    // 3-gram is df ≤ 2 and survives.
    val out = TextAnalysis.scrubCommonSpans(corpus, n = 3, minDf = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (1L, "please today", 3L),
      (2L, "", 3L),                 // fully scrubbed doc still emits a row
      (3L, "we say and more", 3L),
      (4L, "totally unrelated words here", 0L), // untouched
      (5L, "", 6L)))                // two windows in one doc both removed
  }

  test("decontaminate removes exactly the flagged training docs") {
    val eval = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val train = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"), // flagged
      (101L, "alpha beta gamma something else entirely here now"), // 2 < 5 shared
      (102L, "unrelated training text with no overlap at all whatsoever"))
      .toDF("doc_id", "text")
    val kept = Contamination.decontaminate(train, eval, minShared = 5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(101L, 102L))
    // Columns pass through untouched — the screen is corpus-preserving
    // for the survivors.
    assert(Contamination.decontaminate(train, eval, minShared = 5)
      .columns.toSeq == train.columns.toSeq)
  }

  test("contaminationAgainstIndex: frozen eval-gram screen, full index lifecycle") {
    val evalSuite = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("contam-idx").toString + "/evalgrams"
    // Fail CLOSED: a missing index (typo'd path, never built) is a
    // misconfiguration — an all-clean verdict would silently disable
    // the screen, so the reader fails loudly instead.
    intercept[IllegalArgumentException] {
      Contamination.contaminationAgainstIndex(
        Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"))
          .toDF("doc_id", "text"), path)
    }
    // ... while a COMMITTED empty suite (marker present, zero postings)
    // legitimately flags nothing — the one all-clean state.
    Contamination.buildEvalIndex(evalSuite.limit(0), path)
    val cold = Contamination.contaminationAgainstIndex(
      Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"))
        .toDF("doc_id", "text"), path)
    assert(cold.count() == 1 && cold.filter(col("is_contaminated")).isEmpty)
    Contamination.buildEvalIndex(evalSuite, path)
    val batch = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"), // verbatim
      (101L, "alpha beta gamma something else entirely here now"), // 2 < 5
      (102L, "unrelated training text with no overlap at all whatsoever"))
      .toDF("doc_id", "text")
    val v = Contamination.contaminationAgainstIndex(batch, path)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(v(100L).getAs[Boolean]("is_contaminated") &&
      v(100L).getAs[Long]("shared_ngrams") == 6L &&
      v(100L).getAs[Long]("match_id") == 1L, v(100L).toString)
    assert(!v(101L).getAs[Boolean]("is_contaminated") &&
      v(101L).isNullAt(v(101L).fieldIndex("shared_ngrams")))
    assert(!v(102L).getAs[Boolean]("is_contaminated"))
    // Append a new benchmark (replayed ingest id no-ops), then a copy
    // of IT is flagged with the new eval id as the match.
    val bench2 = Seq((2L, "omega psi chi phi upsilon tau sigma rho nu mu"))
      .toDF("doc_id", "text")
    Contamination.appendEvalIndex(bench2, path, ingestId = 5L)
    Contamination.appendEvalIndex(bench2, path, ingestId = 5L) // replay
    assert(spark.read.parquet(s"$path/grams")
      .filter(col("eval_id") === 2L)
      .select(col("ingest").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq == Seq(5L))
    val probe2 = Seq((200L, "omega psi chi phi upsilon tau sigma rho nu mu"))
      .toDF("doc_id", "text")
    val v2 = Contamination.contaminationAgainstIndex(probe2, path).head()
    assert(v2.getBoolean(1) && v2.getLong(3) == 2L, v2.toString)
    // Compaction is pure re-layout: identical verdicts, one base dir.
    assert(Contamination.compactEvalIndex(spark, path))
    assert(Contamination.contaminationAgainstIndex(probe2, path)
      .head().toSeq == v2.toSeq)
    val ingests = new java.io.File(s"$path/grams").listFiles()
      .filter(_.getName.startsWith("ingest=")).map(_.getName).toSeq
    assert(ingests == Seq("ingest=0"), ingests.toString)
    // Stop-gram pruning is EVAL-side df with the stored cap: a gram in
    // 31 of 31 eval docs carries no signal even at minShared = 1.
    val spamEval = (300L to 330L).map(i => (i, s"common phrase here plus-$i"))
      .toDF("doc_id", "text")
    val path2 = java.nio.file.Files
      .createTempDirectory("contam-idx2").toString + "/evalgrams"
    Contamination.buildEvalIndex(spamEval, path2, dfCap = 20)
    val vs = Contamination.contaminationAgainstIndex(
      Seq((400L, "common phrase here")).toDF("doc_id", "text"),
      path2, minShared = 1).head()
    assert(!vs.getBoolean(1), vs.toString)
    // ... while a rare gram from the same suite still flags.
    val vr = Contamination.contaminationAgainstIndex(
      Seq((401L, "common phrase here plus-305")).toDF("doc_id", "text"),
      path2, minShared = 1).head()
    assert(vr.getBoolean(1) && vr.getLong(3) == 305L, vr.toString)
    // the decision form removes exactly the flagged docs, columns
    // preserved (decontaminate's contract over the frozen index)
    val deco = Contamination.decontaminateAgainstIndex(batch, path)
    assert(deco.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(101L, 102L))
    assert(deco.columns.toSeq == batch.columns.toSeq)
  }

  test("spanContaminationAgainstIndex: contiguous runs flag; the same grams scattered do not") {
    val bench = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta")) // 8 tokens, 6 grams
      .toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("contam-span").toString + "/evalgrams"
    Contamination.buildEvalIndex(bench, path)
    val quote = "alpha beta gamma delta epsilon zeta eta theta"
    val batch = Seq(
      // verbatim 8-token quote embedded in fresh text → one 8-token run
      (100L, s"intro words here $quote closing words after"),
      // the SAME shared grams but scattered: two 3-token fragments →
      // max run 3 — clean under the span rule (the doc-level screen at
      // minShared = 2 would flag this; the run rule is the point)
      (101L, "alpha beta gamma filler tokens pad delta epsilon zeta"),
      (102L, "wholly unrelated training text with no overlap at all"),
      (103L, "hi"), // under 3 tokens: no grams, 0/0/false
      // the quote TWICE, separated → two spans
      (104L, s"$quote separator words break adjacency $quote"))
      .toDF("doc_id", "text")
    val v = Contamination.spanContaminationAgainstIndex(batch, path,
        minRunTokens = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(v(100L) == ((8L, 1L, true)), v(100L).toString)
    assert(v(101L) == ((3L, 0L, false)), v(101L).toString)
    assert(v(102L) == ((0L, 0L, false)))
    assert(v(103L) == ((0L, 0L, false)))
    assert(v(104L) == ((8L, 2L, true)), v(104L).toString)
    // contrast pinned: the doc-level count screen flags the scattered
    // doc the span rule clears
    val docLevel = Contamination.contaminationAgainstIndex(batch, path,
      minShared = 2).collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(docLevel(101L) && !v(101L)._3)
    // fail-closed like the whole family
    intercept[IllegalArgumentException] {
      Contamination.spanContaminationAgainstIndex(batch,
        java.nio.file.Files.createTempDirectory("contam-span-none")
          .toString + "/nope")
    }
  }

  test("scrubContaminatedSpans removes exactly the quoted spans and keeps the rest") {
    val bench = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("contam-scrub").toString + "/evalgrams"
    Contamination.buildEvalIndex(bench, path)
    val quote = "alpha beta gamma delta epsilon zeta eta theta"
    val batch = Seq(
      (100L, s"intro words here $quote closing words after"),
      // scattered fragments (runs of 3 < 8): untouched
      (101L, "alpha beta gamma filler tokens pad delta epsilon zeta"),
      (102L, "hi"),
      // the quote twice: both spans removed, separator kept
      (103L, s"$quote keep these middle words $quote"),
      // leading NON-SPACE whitespace: the rebuild must tokenize like
      // the gram stream (Scala-trim parity — SQL trim strips spaces
      // only and would shift every span index by one, cutting a clean
      // token and keeping a contaminated one)
      (104L, s"\t\n $quote trailing words kept"))
      .toDF("doc_id", "text")
    val v = Contamination.scrubContaminatedSpans(batch, path,
        minRunTokens = 8)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    assert(v(100L) == (("intro words here closing words after", 8L)),
      v(100L).toString)
    assert(v(101L) ==
      (("alpha beta gamma filler tokens pad delta epsilon zeta", 0L)))
    assert(v(102L) == (("hi", 0L)))
    assert(v(103L) == (("keep these middle words", 16L)), v(103L).toString)
    assert(v(104L) == (("trailing words kept", 8L)), v(104L).toString)
  }

  test("redecontaminateDelta: append → screen → delta reports exactly the newly flagged docs") {
    val baseBench = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val newBench = Seq(
      (2L, "omega psi chi phi upsilon tau sigma rho nu mu"))
      .toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("contam-delta").toString + "/evalgrams"
    Contamination.buildEvalIndex(baseBench, path)
    Contamination.appendEvalIndex(newBench, path, ingestId = 1L)
    val corpus = Seq(
      // base-benchmark copy: the ORIGINAL screen already removed it —
      // must NOT reappear in the delta
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      // appended-benchmark copy: passed the original screen, newly
      // flagged — THE delta
      (101L, "omega psi chi phi upsilon tau sigma rho nu mu"),
      (102L, "unrelated training text with no overlap at all whatsoever"))
      .toDF("doc_id", "text")
    val delta = Contamination.redecontaminateDelta(corpus, path,
      sinceIngestId = 1L).collect()
    assert(delta.length == 1 && delta.head.getLong(0) == 101L &&
      delta.head.getLong(1) == 8L && delta.head.getLong(2) == 2L,
      delta.toSeq.toString)
    // a doc overlapping BOTH suites was removed by the base screen —
    // not in the delta even though the appended benchmark also matches
    val both = Seq((200L,
      "alpha beta gamma delta epsilon zeta eta theta " +
        "omega psi chi phi upsilon tau sigma rho nu mu"))
      .toDF("doc_id", "text")
    assert(Contamination.redecontaminateDelta(both, path,
      sinceIngestId = 1L).isEmpty)
    // the family's fail-closed rule: a missing index is loud
    intercept[IllegalArgumentException] {
      Contamination.redecontaminateDelta(corpus,
        java.nio.file.Files.createTempDirectory("contam-delta-none")
          .toString + "/nope", sinceIngestId = 1L)
    }
  }

  test("neardupContaminationAgainstIndex: fail-closed, committed-empty, scan-form parity, both plans") {
    def longText(tag: String, edits: Set[Int] = Set.empty) =
      (1 to 60).map(i =>
        if (edits(i)) s"edited$i" else s"${tag}tok$i").mkString(" ")
    val evalSuite = Seq((1L, longText("bench"))).toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("contam-mh").toString + "/mhidx"
    // Fail CLOSED: a missing eval index is a misconfiguration — the
    // underlying dedup screen's all-novel cold start would silently
    // disable the screen under this polarity.
    intercept[IllegalArgumentException] {
      Contamination.neardupContaminationAgainstIndex(
        Seq((100L, longText("bench"))).toDF("doc_id", "text"), path)
    }
    // Committed empty suite: the one legitimate all-clean state, typed.
    Dedup.buildMinhashIndex(evalSuite.limit(0), path)
    val cold = Contamination.neardupContaminationAgainstIndex(
      Seq((100L, longText("bench"))).toDF("doc_id", "text"), path)
    assert(cold.columns.toSeq ==
      Seq("doc_id", "is_contaminated", "jaccard", "match_id"))
    assert(cold.count() == 1 && cold.filter(col("is_contaminated")).isEmpty)
    Dedup.buildMinhashIndex(evalSuite, path)
    val batch = Seq(
      (100L, longText("bench")),                     // verbatim: J = 1
      (101L, longText("bench", Set(30))),            // light edit: J ≈ 0.90
      (102L, longText("unrelated")))                 // disjoint
      .toDF("doc_id", "text")
    val v = Contamination.neardupContaminationAgainstIndex(batch, path)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(v(100L).getAs[Boolean]("is_contaminated") &&
      v(100L).getAs[Double]("jaccard") == 1.0 &&
      v(100L).getAs[Long]("match_id") == 1L, v(100L).toString)
    assert(v(101L).getAs[Boolean]("is_contaminated"), v(101L).toString)
    assert(!v(102L).getAs[Boolean]("is_contaminated") &&
      v(102L).isNullAt(v(102L).fieldIndex("jaccard")))
    // Scan-form parity: flagged == NOT novel under minhashNovel against
    // the same eval set (the polarity-flip contract the indexed query
    // certifies through the shared oracle).
    val novelIds = Dedup.minhashNovel(batch, evalSuite)
      .collect().map(_.getLong(0)).toSet
    assert(v.values.filter(_.getAs[Boolean]("is_contaminated"))
      .map(_.getLong(0)).toSet == Set(100L, 101L, 102L).diff(novelIds))
    // The merge plan (broadcastIndex = false) verdicts identically.
    val vMerge = Contamination.neardupContaminationAgainstIndex(
        batch, path, broadcastIndex = false)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    assert(v.keys.forall(k => vMerge(k) == v(k).toSeq))
  }

  test("minhashDupIds: broadcastCorpus plan verdicts ≡ merge plan (scan-form broadcastIndex twin)") {
    // The r18 knob: under the decontamination polarity the `corpus`
    // arg is a benchmark-sized eval suite, and its bands + sets
    // broadcast into a streamed scan of the new side instead of
    // merge-shuffling new-side band rows. Both shapes must flag the
    // exact same docs, including the no-shingle edges on each side.
    def longText(tag: String, edits: Set[Int] = Set.empty) =
      (1 to 60).map(i =>
        if (edits(i)) s"edited$i" else s"${tag}tok$i").mkString(" ")
    val evalSuite = Seq(
      (1L, longText("bench")),
      (2L, "tiny doc"))                       // < 3 tokens: no shingles
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, longText("bench")),              // verbatim: J = 1 → flagged
      (101L, longText("bench", Set(30))),     // light edit: J ≈ 0.90 → flagged
      (102L, longText("unrelated")),          // disjoint → novel
      (103L, "xs"))                           // no shingles → novel
      .toDF("doc_id", "text")
    val merge = Dedup.minhashNovel(batch, evalSuite)
      .collect().map(_.getLong(0)).toSet
    val bcast = Dedup.minhashNovel(batch, evalSuite, broadcastCorpus = true)
      .collect().map(_.getLong(0)).toSet
    assert(bcast == Set(102L, 103L), bcast.toString)
    assert(merge == bcast, s"merge=$merge bcast=$bcast")
  }

  test("decontaminateNeardup: flagged docs removed, fail-closed, committed-empty removes nothing, both plans") {
    def longText(tag: String, edits: Set[Int] = Set.empty) =
      (1 to 60).map(i =>
        if (edits(i)) s"edited$i" else s"${tag}tok$i").mkString(" ")
    val evalSuite = Seq((1L, longText("bench"))).toDF("doc_id", "text")
    val base = java.nio.file.Files
      .createTempDirectory("nd-deco").toString
    val path = s"$base/mhidx"
    val corpus = Seq(
      (100L, longText("bench")),              // verbatim → removed
      (101L, longText("bench", Set(30))),     // light edit → removed
      (102L, longText("unrelated")),          // survives, text intact
      (103L, "xs yz"))                        // < 3 tokens: no shingles,
      .toDF("doc_id", "text")                 //   never flags, survives
    // Family discipline: a missing eval index is loud, not all-kept.
    intercept[IllegalArgumentException] {
      Contamination.decontaminateNeardup(corpus, s"$base/nope")
    }
    // Committed-empty suite: the one legitimate remove-nothing state.
    Dedup.buildMinhashIndex(evalSuite.limit(0), path)
    assert(Contamination.decontaminateNeardup(corpus, path).count() == 4)
    Dedup.buildMinhashIndex(evalSuite, path)
    val out = Contamination.decontaminateNeardup(corpus, path)
    assert(out.columns.toSeq == Seq("doc_id", "text"))
    assert(out.collect().map(_.getLong(0)).toSet == Set(102L, 103L))
    // The merge fallback decides identically.
    assert(Contamination.decontaminateNeardup(corpus, path,
        broadcastIndex = false)
      .collect().map(_.getLong(0)).toSet == Set(102L, 103L))
  }

  test("fuzzy veto catches the short benchmark copy BOTH gram rules miss; batch ≡ incremental") {
    // A 5-token eval item carries only 3 grams: a verbatim copy shares
    // 3 < minShared=5 (count rule clears) in a run of 5 < 8 tokens
    // (span rule clears) — but its shingle Jaccard is 1.0 (fuzzy rule
    // flags). This is the rule's unique coverage: short quotes and
    // templated benchmarks, not a redundant third path.
    val evalSuite = Seq((1L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon"), // verbatim short copy
      (101L, (1 to 20).map(i => s"clean$i").mkString(" ")))
      .toDF("doc_id", "text")
    val v = CorpusPrep.prepare(corpus, evalSuite,
        contamSpanMinRun = Some(8), contamNeardupThreshold = Some(0.5))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!v(100L).getAs[Boolean]("is_contaminated"), // count rule blind
      v(100L).toString)
    assert(v(100L).getAs[Boolean]("span_ok"))          // span rule blind
    assert(!v(100L).getAs[Boolean]("neardup_ok"))      // fuzzy rule catches
    assert(!v(100L).getAs[Boolean]("kept"))
    assert(v(101L).getAs[Boolean]("neardup_ok") &&
      v(101L).getAs[Boolean]("kept"))
    // Executable symmetry: the incremental path's frozen-index screen
    // vetoes the same doc with the same verdict column.
    val base = java.nio.file.Files
      .createTempDirectory("nd-sym").toString
    val (mh, nd) = (s"$base/mh", s"$base/nd")
    Dedup.buildMinhashIndex(
      Seq((900L, (1 to 30).map(i => s"corp$i").mkString(" ")))
        .toDF("doc_id", "text"), mh)
    Dedup.buildMinhashIndex(evalSuite, nd)
    val inc = CorpusPrep.screenIncremental(corpus, mh,
        neardupEvalIndexPath = Some(nd))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!inc(100L).getAs[Boolean]("neardup_ok") &&
      inc(100L).getAs[Double]("eval_jaccard") == 1.0 &&
      inc(100L).getAs[Long]("eval_match_id") == 1L, inc(100L).toString)
    // The veto must reach the DECISION, not just the audit column — in
    // r17 `eligible` omitted neardup_ok and the verify fixtures masked
    // it (every fuzzy-flagged doc there failed another screen too);
    // this doc fails ONLY the fuzzy rule, so kept must be false.
    assert(!inc(100L).getAs[Boolean]("kept"), inc(100L).toString)
    assert(inc(101L).getAs[Boolean]("neardup_ok") &&
      inc(101L).getAs[Boolean]("kept"))
    assert(corpus.collect().map(_.getLong(0)).toSet.forall(id =>
      v(id).getAs[Boolean]("neardup_ok") ==
        inc(id).getAs[Boolean]("neardup_ok")))
  }

  test("redecontaminateNeardupDelta: appended-suite matches only; base-flagged docs stay out") {
    def longText(tag: String, edits: Set[Int] = Set.empty) =
      (1 to 60).map(i =>
        if (edits(i)) s"edited$i" else s"${tag}tok$i").mkString(" ")
    val baseBench = Seq((1L, longText("alpha"))).toDF("doc_id", "text")
    val newBench = Seq((2L, longText("omega"))).toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("nd-delta").toString + "/mhidx"
    // Fail closed before any index exists.
    intercept[IllegalArgumentException] {
      Contamination.redecontaminateNeardupDelta(
        Seq((100L, longText("alpha"))).toDF("doc_id", "text"),
        path, sinceIngestId = 1L)
    }
    // Committed-empty base: typed empty frame, not a crash.
    Dedup.buildMinhashIndex(baseBench.limit(0), path)
    val cold = Contamination.redecontaminateNeardupDelta(
      Seq((100L, longText("alpha"))).toDF("doc_id", "text"),
      path, sinceIngestId = 1L)
    assert(cold.isEmpty &&
      cold.columns.toSeq == Seq("doc_id", "jaccard", "match_id"))
    Dedup.buildMinhashIndex(baseBench, path)
    Dedup.appendMinhashIndex(newBench, path, ingestId = 1L)
    val train = Seq(
      (100L, longText("alpha", Set(30))), // near-dup of BASE: stays out
      (101L, longText("omega", Set(30))), // near-dup of APPENDED: delta
      (102L, longText("unrelated")))      // clean: stays out
      .toDF("doc_id", "text")
    val d = Contamination.redecontaminateNeardupDelta(train, path,
      sinceIngestId = 1L).collect()
    assert(d.map(_.getLong(0)).toSeq == Seq(101L), d.mkString(";"))
    assert(d.head.getAs[Long]("match_id") == 2L)
    assert(d.head.getAs[Double]("jaccard") >= 0.5)
    // A doc matching BOTH suites is a base responsibility — never in
    // the delta even though its full-state match also qualifies.
    val both = Seq((200L, longText("alpha"))).toDF("doc_id", "text")
    Dedup.appendMinhashIndex(
      Seq((3L, longText("alpha", Set(7)))).toDF("doc_id", "text"),
      path, ingestId = 2L)
    val d2 = Contamination.redecontaminateNeardupDelta(both, path,
      sinceIngestId = 1L).collect()
    assert(d2.isEmpty, d2.mkString(";"))
  }

  test("redecontaminateSpansDelta: newly-qualifying spans only; base-flagged docs stay out") {
    val baseBench = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val newBench = Seq(
      (2L, "omega psi chi phi upsilon tau sigma rho nu mu"))
      .toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("contam-sdelta").toString + "/evalgrams"
    Contamination.buildEvalIndex(baseBench, path)
    Contamination.appendEvalIndex(newBench, path, ingestId = 1L)
    val corpus = Seq(
      // base-benchmark quote: base run 8 ≥ 8 — the base deployment
      // already cut it; NOT in the delta though its full run also hits
      (100L, "intro words alpha beta gamma delta epsilon zeta eta theta out"),
      // appended-benchmark quote (10 tokens → run 10): full run 10,
      // base run 0 — THE delta
      (101L, "lead in omega psi chi phi upsilon tau sigma rho nu mu tail"),
      // appended grams SCATTERED (two 5-token fragments → runs of 5):
      // under the run rule nothing qualifies — stays out even though
      // the doc-level count rule would see 6 shared grams
      (102L, "omega psi chi phi upsilon gap here tau sigma rho nu mu"),
      (103L, "unrelated training text with no overlap at all whatsoever"))
      .toDF("doc_id", "text")
    val delta = Contamination.redecontaminateSpansDelta(corpus, path,
      sinceIngestId = 1L, minRunTokens = 8).collect()
    assert(delta.length == 1, delta.toSeq.toString)
    assert(delta.head.getLong(0) == 101L &&
      delta.head.getLong(1) == 10L && delta.head.getLong(2) == 0L,
      delta.head.toString)
    // fail-closed like the whole family
    intercept[IllegalArgumentException] {
      Contamination.redecontaminateSpansDelta(corpus,
        java.nio.file.Files.createTempDirectory("contam-sdelta-none")
          .toString + "/nope", sinceIngestId = 1L)
    }
    // committed-EMPTY base (explicit initialization): typed empty delta
    val empty = java.nio.file.Files
      .createTempDirectory("contam-sdelta-empty").toString + "/evalgrams"
    Contamination.buildEvalIndex(baseBench.limit(0), empty)
    val noneDf = Contamination.redecontaminateSpansDelta(corpus, empty,
      sinceIngestId = 1L)
    assert(noneDf.isEmpty && noneDf.columns.toSeq ==
      Seq("doc_id", "max_run_tokens", "base_run_tokens"))
  }

  test("ivf index: cached reads equal direct reads for top-k and the semantic screen") {
    val emb = (0L until 40L).map(i => (i, (i % 3).toInt,
        Seq.tabulate(4)(j => math.sin(i.toDouble * 7 + j).toFloat)))
      .toDF("vec_id", "label", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("ivf-cache").toString + "/idx"
    Similarity.buildIvfIndex(emb.filter(col("vec_id") < 20), dir,
      nlist = 4, dim = 4)
    val (qv, qn) = Similarity.lookupVec(spark, dir, 0L)
    def topk() = Similarity.annTopKIndexed(spark, dir, qv, qn, k = 10,
      nprobe = 2).collect().map(_.toSeq).toSeq
    def novel() = Similarity.semanticNovelAgainstIndex(emb, dir,
      threshold = 0.99).collect().map(_.toSeq).toSeq
    val (dT, dN) = (topk(), novel())
    spark.conf.set("spark.graft.indexCache", "true")
    try {
      assert(topk() == dT && novel() == dN) // cold fill
      assert(topk() == dT && novel() == dN) // hit
      // append lands a partition: incremental refresh must see it
      Similarity.appendIvfIndex(emb.filter(col("vec_id") >= 20), dir,
        nlist = 4, dim = 4)
      val (aT, aN) = (topk(), novel())
      spark.conf.unset("spark.graft.indexCache")
      assert(topk() == aT && novel() == aN) // cached ≡ plain scan
    } finally {
      spark.conf.unset("spark.graft.indexCache")
      IndexCache.clear()
    }
  }

  test("corpus prep composes the filters and audits each verdict") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 10
      (12L, "short"), // low quality (under 5 tokens)
      (13L, "held out evaluation sentence appearing verbatim in training data today"),
      (14L, "a genuinely unique training document about distributed query engines"))
      .toDF("doc_id", "text")
    val evalSet = Seq(
      (1L, "held out evaluation sentence appearing verbatim in training data today"))
      .toDF("doc_id", "text")
    val prepared = graft.ext.CorpusPrep.prepare(corpus, evalSet)
    val out = prepared
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("quality_ok"), r.getAs[Boolean]("is_exact_dup"),
          r.getAs[Boolean]("is_near_dup"),
          r.getAs[Boolean]("is_contaminated"),
          r.getAs[Boolean]("kept"))).toMap
    // (quality_ok, is_exact_dup, is_near_dup, is_contaminated, kept)
    assert(out(10L) == ((true, false, false, false, true)))
    assert(out(11L)._2 || out(11L)._3) // flagged as a duplicate either way
    assert(!out(11L)._5)
    assert(out(12L)._1 == false && !out(12L)._5)
    assert(out(13L)._4 == true && !out(13L)._5)
    assert(out(14L) == ((true, false, false, false, true)))
    // screens off → the new audit columns are uniformly false
    assert(prepared.filter(col("is_blocked") || col("is_outlier")).isEmpty)
    val rep = graft.ext.CorpusPrep.report(prepared).head()
    assert(rep.getAs[Long]("total_docs") == 5)
    assert(rep.getAs[Long]("kept_docs") == 2)
    assert(rep.getAs[Long]("blocked") == 0)
    assert(rep.getAs[Long]("outliers") == 0)
    // sorted = false drops only the presentation sort — same verdicts
    val unsorted = graft.ext.CorpusPrep.prepare(corpus, evalSet,
        sorted = false)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.toSeq).toMap
    assert(unsorted ==
      prepared.collect().map(r => r.getAs[Long]("doc_id") -> r.toSeq).toMap)
  }

  test("prepare: repetition veto — the batch path vetoes copy-paste stutter every other screen passes") {
    val stutter = Array.fill(20)("spam ham eggs").mkString(" ")
    val corpus = Seq(
      (10L, (1 to 30).map(i => s"unique$i").mkString(" ")), // clean
      (11L, stutter),   // quality-clean, novel, vetoed by repetition alone
      (12L, "hi there")) // < 3 tokens: no grams, no repetition verdict
      .toDF("doc_id", "text")
    val evalSet = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val prepared = graft.ext.CorpusPrep.prepare(corpus, evalSet,
      repetitionMaxDupFrac = Some(0.05))
    val byId = prepared.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // the stutter doc passes quality and every dedup/contamination
    // screen and dies to the veto alone — 58 grams, 3 distinct
    assert(byId(11L).getAs[Boolean]("quality_ok") &&
      !byId(11L).getAs[Boolean]("is_near_dup") &&
      !byId(11L).getAs[Boolean]("is_contaminated") &&
      !byId(11L).getAs[Boolean]("repetition_ok") &&
      byId(11L).getAs[Double]("dup_3gram_frac") > 0.9 &&
      !byId(11L).getAs[Boolean]("kept"), byId(11L).toString)
    assert(byId(10L).getAs[Boolean]("kept") &&
      byId(10L).getAs[Double]("dup_3gram_frac") == 0.0)
    // under 3 tokens: no verdict, never flagged by THIS screen
    assert(byId(12L).getAs[Boolean]("repetition_ok") &&
      byId(12L).isNullAt(byId(12L).fieldIndex("dup_3gram_frac")))
    val rep = graft.ext.CorpusPrep.report(prepared).head()
    assert(rep.getAs[Long]("repetition_vetoed") == 1L)
    // screen off (the default): same stutter doc rides through — and
    // the audit columns read as screen-off constants
    val off = graft.ext.CorpusPrep.prepare(corpus, evalSet)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(off(11L).getAs[Boolean]("kept") &&
      off(11L).getAs[Boolean]("repetition_ok") &&
      off(11L).isNullAt(off(11L).fieldIndex("dup_3gram_frac")))
  }

  test("prepare: span veto — the batch path applies the contiguous-run rule, contrast with the count rule both ways") {
    // 20-token eval doc; every 3-gram has eval-side df 1 (all rare).
    val evalSet = Seq((1L, (1 to 20).map(i => s"tok$i").mkString(" ")))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // 8 consecutive eval tokens (6 grams) inside a long clean doc:
      // UNDER the count threshold (6 < 10) but run 8 ≥ 8 — the span
      // veto catches the verbatim quote the doc-level screen clears.
      (100L, "filler one two " + (5 to 12).map(i => s"tok$i").mkString(" ")
        + " closing words here"),
      // the SAME eval content scattered: four disjoint 5-token windows
      // (12 distinct grams ≥ 10 — doc-level flags) but max run 5 < 8 —
      // span-clean. The two rules catch DIFFERENT docs.
      (101L, (1 to 5).map(i => s"tok$i").mkString(" ") + " gapx " +
        (6 to 10).map(i => s"tok$i").mkString(" ") + " gapy " +
        (11 to 15).map(i => s"tok$i").mkString(" ") + " gapz " +
        (16 to 20).map(i => s"tok$i").mkString(" ")),
      (102L, "a genuinely unique training document about query engines"),
      (103L, "hi")) // < 3 tokens: no grams → run 0, span_ok, never flags
      .toDF("doc_id", "text")
    val prepared = graft.ext.CorpusPrep.prepare(corpus, evalSet,
      contaminationMinShared = 10, contamSpanMinRun = Some(8))
    val byId = prepared.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!byId(100L).getAs[Boolean]("is_contaminated") &&
      byId(100L).getAs[Long]("contam_span_run") == 8L &&
      !byId(100L).getAs[Boolean]("span_ok") &&
      !byId(100L).getAs[Boolean]("kept"), byId(100L).toString)
    assert(byId(101L).getAs[Boolean]("is_contaminated") &&
      byId(101L).getAs[Long]("contam_span_run") == 5L &&
      byId(101L).getAs[Boolean]("span_ok") &&
      !byId(101L).getAs[Boolean]("kept"), byId(101L).toString)
    assert(byId(102L).getAs[Boolean]("span_ok") &&
      byId(102L).getAs[Long]("contam_span_run") == 0L &&
      byId(102L).getAs[Boolean]("kept"))
    assert(byId(103L).getAs[Long]("contam_span_run") == 0L &&
      byId(103L).getAs[Boolean]("span_ok"), byId(103L).toString)
    val rep = graft.ext.CorpusPrep.report(prepared).head()
    assert(rep.getAs[Long]("span_vetoed") == 1L &&
      rep.getAs[Long]("contaminated") == 1L)
    // SYMMETRY, made executable: the batch path's span verdicts equal
    // the indexed screen's ([[spanContaminationAgainstIndex]] over an
    // index built from the same eval set) — batch backfill and
    // streaming ingest flag identically.
    val idxPath = java.nio.file.Files
      .createTempDirectory("prep-span-idx").toString + "/evalgrams"
    graft.ext.Contamination.buildEvalIndex(evalSet, idxPath)
    val indexed = graft.ext.Contamination
      .spanContaminationAgainstIndex(corpus, idxPath, minRunTokens = 8)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), !r.getBoolean(3)))).toMap
    val batchSide = byId.map { case (id, r) =>
      id -> ((r.getAs[Long]("contam_span_run"), r.getAs[Boolean]("span_ok")))
    }
    assert(batchSide == indexed, s"$batchSide vs $indexed")
    // screen off (the default): constants, and the quote doc survives
    val off = graft.ext.CorpusPrep.prepare(corpus, evalSet,
        contaminationMinShared = 10)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(off(100L).getAs[Boolean]("kept") &&
      off(100L).getAs[Boolean]("span_ok") &&
      off(100L).isNullAt(off(100L).fieldIndex("contam_span_run")))
  }

  test("staged survivors: clean near-dup copy survives a tainted canonical") {
    // Docs 20/21 are near-dups (one token apart); the eval slice overlaps
    // doc 20's tail with 3 trigrams but doc 21's with only 2, so at
    // minShared=3 the cluster's minimum doc is contaminated while its
    // copy is clean. Naive AND-of-verdicts would delete the content
    // entirely; staged promotion keeps the clean copy.
    val corpus = Seq(
      (20L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (21L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"),
      (22L, "completely unrelated training document about engines and physics"))
      .toDF("doc_id", "text")
    val evalSet = Seq((1L, "theta iota kappa lambda mu nu xi omicron"))
      .toDF("doc_id", "text")
    val out = graft.ext.CorpusPrep
      .prepare(corpus, evalSet, contaminationMinShared = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("is_contaminated"), r.getAs[Boolean]("kept"))).toMap
    assert(out(20L) == ((true, false)))
    assert(out(21L) == ((false, true))) // near-dup, but the clean survivor
    assert(out(22L) == ((false, true)))
  }

  test("staged survivors: blocklisted canonical falls to the next eligible copy") {
    // 30/31 near-dups (one token apart); the cluster minimum carries a
    // blocklisted token, its copy is clean. Independent AND-ing would
    // delete the content; staged promotion keeps 31. The audit flags
    // stay independent: 30 is is_blocked, 31 is is_near_dup (cluster
    // non-minimum) yet kept.
    val corpus = Seq(
      (30L, "alpha beta gamma delta epsilon zeta eta theta iota badword"),
      (31L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (32L, "completely unrelated training document about engines and physics"))
      .toDF("doc_id", "text")
    val evalSet = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out = graft.ext.CorpusPrep
      .prepare(corpus, evalSet, blocklist = Seq("badword"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("is_blocked"), r.getAs[Boolean]("is_near_dup"),
          r.getAs[Boolean]("kept"))).toMap
    assert(out(30L) == ((true, false, false)))
    assert(out(31L) == ((false, true, true)))
    assert(out(32L) == ((false, false, true)))
  }

  test("containment edges widen the cluster graph: quoted passage joins its container") {
    // The passage (40) is fully quoted inside the much longer container
    // (41): Jaccard is far below 0.5 (the union is container-sized) so
    // the default graph keeps BOTH; with containment edges they share a
    // cluster and one survivor remains.
    // filler stays ALPHABETIC: digit-heavy tokens would fail the
    // quality screen's alpha-ratio bar and mask the clustering change
    val filler = (0 until 40).map(i =>
      s"filler${('a' + i / 26).toChar}${('a' + i % 26).toChar}").mkString(" ")
    val passage = "the quick brown fox jumps over the lazy dog tonight"
    val corpus = Seq(
      (40L, passage),
      (41L, s"$filler $passage"),
      (42L, "completely unrelated training document about engines and physics"))
      .toDF("doc_id", "text")
    val evalSet = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val without = graft.ext.CorpusPrep.prepare(corpus, evalSet)
      .filter(col("kept")).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(without == Set(40L, 41L, 42L))
    val withEdges = graft.ext.CorpusPrep.prepare(corpus, evalSet,
        containmentThreshold = Some(0.5))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("is_near_dup"), r.getAs[Boolean]("kept"))).toMap
    assert(withEdges(40L) == ((false, true))) // cluster minimum survives
    assert(withEdges(41L) == ((true, false)))
    assert(withEdges(42L) == ((false, true)))
  }

  test("semantic outlier screen feeds eligibility in the composite") {
    // Over the real sf0.001 tables (the detection itself is certified
    // by the semantic_outliers oracle + its own specs): every doc the
    // screen flags must carry is_outlier in prepare's audit, be
    // ineligible (never kept), and the report's outliers count must
    // equal the screen's flag count over corpus docs.
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.load(spark, dir, "documents")
      .filter(col("doc_id") >= 50)
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
    val evalSet = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val flagged = graft.ext.Similarity
      .semanticOutliers(emb, k = 8, iters = 4, z = 2.0)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(flagged.nonEmpty) // the fixture actually exercises the screen
    val prepared = graft.ext.CorpusPrep.prepare(docs, evalSet,
      embeddings = Some(emb))
    val audit = prepared.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Boolean]("is_outlier"), r.getAs[Boolean]("kept"))).toMap
    val corpusFlagged = flagged.filter(_ >= 50L)
    assert(corpusFlagged.nonEmpty)
    corpusFlagged.foreach { id =>
      assert(audit(id)._1 && !audit(id)._2, s"doc $id")
    }
    assert(audit.count(_._2._1) == corpusFlagged.size)
    val rep = graft.ext.CorpusPrep.report(prepared).head()
    assert(rep.getAs[Long]("outliers") == corpusFlagged.size.toLong)
  }

  test("set_overlap skips null elements instead of reading them as 0") {
    val r = spark.sql(
      """SELECT set_overlap(array(CAST(NULL AS BIGINT), 5L), array(5L)) AS a,
        |       set_overlap(array(CAST(NULL AS BIGINT)), array(0L)) AS b
        |""".stripMargin).head()
    assert(r.getInt(0) == 1 && r.getInt(1) == 0)
  }

  test("agree_count equals the zip_with agreement fold (incl. length mismatch)") {
    val r = spark.sql(
      """SELECT agree_count(array(1L, 2L, 3L, 4L), array(1L, 9L, 3L, 4L)) AS a,
        |       agree_count(array(1L, 2L), array(1L, 2L, 3L)) AS b,
        |       agree_count(CAST(array() AS ARRAY<BIGINT>), array(5L)) AS c""".stripMargin).head()
    assert(r.getInt(0) == 3 && r.getInt(1) == 2 && r.getInt(2) == 0)
  }

  test("connected components fail loudly when maxIter is too small") {
    val chain = (1L until 6L).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      // force the distributed loop: the driver fast path has no
      // iteration count to exhaust
      Dedup.connectedComponents(chain, maxIter = 2, driverEdgeLimit = 0)
        .collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("connected components: min label reaches every vertex of a chain") {
    // Two components: a 5-vertex chain 1-2-3-4-5 (diameter forces several
    // propagation rounds) and the pair 10-11; edges arbitrary direction.
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (5L, 4L), (11L, 10L))
      .toDF("src", "dst")
    val got = Dedup.connectedComponents(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got === Array((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L),
      (10L, 10L), (11L, 10L)))
    // the driver fast path and the distributed loop are the same
    // function: identical labels on a graph with chains, a clique, and
    // singleton-free components in arbitrary edge directions
    val r = new scala.util.Random(11)
    val big = (1 to 400).map(_ => (r.nextInt(300).toLong, r.nextInt(300).toLong))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    val fast = Dedup.connectedComponents(big).collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted
    val loop = Dedup.connectedComponents(big, driverEdgeLimit = 0)
      .collect().map(x => (x.getLong(0), x.getLong(1))).sorted
    assert(fast === loop)
  }

  test("near-dup clusters: dups share a cluster, canonical keeps min id") {
    val out = Dedup.nearDupClusters(docs, threshold = 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    val cluster = out.filter(_._2 == 0L).map(_._1).toSet
    assert(Set(0L, 1L).subsetOf(cluster)) // exact dups share cluster 0
    assert(!cluster.contains(4L))         // unrelated doc is singleton
    assert(out.find(_._1 == 4L).get._2 == 4L)
    // keep = exactly the cluster minima
    assert(out.filter(_._3).map(_._1).toSet ==
      out.map(_._2).toSet)
  }

  test("set_overlap equals size(array_intersect) on random long sets") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      val a = Seq.fill(rnd.nextInt(50))(rnd.nextInt(40).toLong).distinct
      val b = Seq.fill(rnd.nextInt(50))(rnd.nextInt(40).toLong).distinct
      (i, a, b)
    }
    val df = rows.toDF("i", "a", "b")
    val got = df.select(col("i"),
        graft.functions.SetFunctions.set_overlap(col("a"), col("b")).as("ov"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
      .collect()
    got.foreach(r => assert(r.getInt(1) === r.getInt(2), s"row ${r.getInt(0)}"))
    // Degenerate shapes: empty either side, zero element value.
    val edge = Seq((Seq.empty[Long], Seq(1L, 2L)), (Seq(0L, 5L), Seq.empty[Long]),
      (Seq(0L), Seq(0L))).toDF("a", "b")
    val eg = edge.select(
      graft.functions.SetFunctions.set_overlap(col("a"), col("b"))).collect()
    assert(eg.map(_.getInt(0)).toSeq === Seq(0, 0, 1))
  }

  test("minhash LSH surfaces exact and near dups, not unrelated docs") {
    val pairs = Dedup.minhashNearDupPairs(docs, threshold = 0.4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L))) // identical → jaccard 1.0
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated stays out
  }

  test("exact n-gram jaccard: identical docs → 1.0") {
    val pairs = Seq((0L, 1L), (0L, 4L)).toDF("doc_a", "doc_b")
    val j = Dedup.exactJaccard(docs, pairs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard"))).toList
    assert(j.exists { case (a, b, v) => a == 0 && b == 1 && v == 1.0 })
    assert(j.exists { case (a, b, v) => a == 0 && b == 4 && v == 0.0 })
  }

  test("one-pass LSH-verified jaccard equals the two-scan candidate+verify form") {
    val onePass = Dedup.lshVerifiedJaccardPairs(docs, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val twoScan = Dedup.exactJaccard(docs,
        Dedup.lshCandidatePairs(Dedup.minhashSignatures(docs), 8, 4))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(onePass == twoScan)
    assert(onePass.contains((0L, 1L, 1.0))) // identical docs verify at 1.0
  }

  test("minhashVerifiedPairs: est-thresholded pair set, exact jaccard, sig-consistent estimate") {
    val verified = Dedup.minhashVerifiedPairs(docs, threshold = 0.4)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("est_jaccard"), r.getAs[Double]("jaccard")))
    // Same pair set as the estimate-only operator at the same threshold…
    val estOnly = Dedup.minhashNearDupPairs(docs, threshold = 0.4)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("est_jaccard")))
    assert(verified.map(t => (t._1, t._2)).toSet ===
      estOnly.map(t => (t._1, t._2)).toSet)
    // …with the SAME estimate values (the set-derived signature must be
    // bit-identical to the aggregated one)…
    assert(verified.map(t => (t._1, t._2) -> t._3).toMap ===
      estOnly.map(t => (t._1, t._2) -> t._3).toMap)
    // …and the exact side agrees with the standalone verify operator.
    val exact = Dedup.exactJaccard(docs,
        Dedup.minhashNearDupPairs(docs, threshold = 0.4)
          .select("doc_a", "doc_b"))
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jaccard")).toMap
    assert(verified.map(t => (t._1, t._2) -> t._4).toMap === exact)
    // Identical docs: estimate and exact both 1.0.
    val id = verified.find(t => t._1 == 0L && t._2 == 1L).get
    assert(id._3 == 1.0 && id._4 == 1.0)
  }

  test("minhashNovel: exact dups screened out, novel and short docs pass") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (4L, "completely different content about spark query engines at scale"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 0
      (11L, "entirely unrelated words never appearing in the standing corpus"),
      (12L, "too short")) // < 3 words: no shingles, always novel
      .toDF("doc_id", "text")
    val novel = Dedup.minhashNovel(batch, corpus)
      .as[Long].collect().sorted.toSeq
    assert(novel === Seq(11L, 12L))
  }

  test("dedupKeepPreferred: priority beats doc_id order, ties fall back to min id") {
    val d = Seq(
      (5L, "same text here", 2), // dup group: lower id but WORSE priority…
      (9L, "same text here", 1), // …so 9 (priority 1) survives
      (3L, "other text entirely", 2),
      (7L, "other text entirely", 2), // tie on priority → min id 3
      (8L, "unique text", 0))
      .toDF("doc_id", "text", "prio")
    val kept = Dedup.dedupKeepPreferred(d, col("prio"))
      .select("keep_doc_id", "keep_priority", "group_size")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(kept === Set((9L, 1, 2L), (3L, 2, 2L), (8L, 0, 1L)))
  }

  test("minhashNovel edges: empty corpus admits all; empty batch yields none; monotone in corpus and threshold") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (4L, "completely different content about spark query engines at scale"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "entirely unrelated words never appearing in the standing corpus"))
      .toDF("doc_id", "text")
    val empty = corpus.limit(0)
    // No corpus → everything is novel (the batch screen's cold start).
    assert(Dedup.minhashNovel(batch, empty).as[Long].collect().sorted.toSeq
      === Seq(10L, 11L))
    // No batch → no verdicts.
    assert(Dedup.minhashNovel(empty, corpus).count() === 0)
    // Growing the corpus can only shrink the novel set.
    val vsHalf = Dedup.minhashNovel(batch,
      corpus.filter(col("doc_id") === 4L)).as[Long].collect().toSet
    val vsFull = Dedup.minhashNovel(batch, corpus).as[Long].collect().toSet
    assert(vsFull.subsetOf(vsHalf))
    // Raising the threshold can only grow the novel set.
    val strict = Dedup.minhashNovel(batch, corpus, threshold = 0.99)
      .as[Long].collect().toSet
    assert(vsFull.subsetOf(strict))
  }

  test("persisted MinHash index: indexed verdicts equal recompute; append/replay/compact lifecycle") {
    val tmp = java.nio.file.Files
      .createTempDirectory("minhash-idx").toString + "/idx"
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (4L, "completely different content about spark query engines at scale"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "entirely unrelated words never appearing in the standing corpus"))
      .toDF("doc_id", "text")
    Dedup.buildMinhashIndex(corpus, tmp)
    val verdicts = Dedup.minhashNovelAgainstIndex(batch, tmp).collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        Option(r.get(3)).map(_.asInstanceOf[Long]))).toSeq
    assert(verdicts === Seq((10L, false, Some(0L)), (11L, true, None)))
    // The exact dup's verify rides the stored set: jaccard 1.0.
    assert(Dedup.minhashNovelAgainstIndex(batch, tmp)
      .filter(col("doc_id") === 10L).head().getDouble(2) == 1.0)
    // Indexed novel ids equal the recompute form at the same threshold.
    val recompute = Dedup.minhashNovel(batch, corpus)
      .as[Long].collect().sorted.toSeq
    val indexed = Dedup.minhashNovelAgainstIndex(batch, tmp)
      .filter(col("is_novel")).select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(indexed === recompute)
    // Append the novel docs; a dup of an APPENDED doc is now screened.
    Dedup.appendMinhashIndex(
      batch.filter(col("doc_id") === 11L), tmp, ingestId = 1L)
    val batch2 = Seq(
      (20L, "entirely unrelated words never appearing in the standing corpus"),
      (21L, "yet another brand new document with its own fresh wording"))
      .toDF("doc_id", "text")
    val v2 = Dedup.minhashNovelAgainstIndex(batch2, tmp).collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        Option(r.get(3)).map(_.asInstanceOf[Long]))).toSeq
    assert(v2 === Seq((20L, false, Some(11L)), (21L, true, None)))
    // Replay of the same ingest id is idempotent (dynamic overwrite).
    val before = spark.read.parquet(s"$tmp/sets").count()
    Dedup.appendMinhashIndex(
      batch.filter(col("doc_id") === 11L), tmp, ingestId = 1L)
    assert(spark.read.parquet(s"$tmp/sets").count() === before)
    // Compaction folds to a single base partition and is verdict-invariant.
    assert(Dedup.compactMinhashIndex(spark, tmp))
    val v2c = Dedup.minhashNovelAgainstIndex(batch2, tmp).collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        Option(r.get(3)).map(_.asInstanceOf[Long]))).toSeq
    assert(v2c === v2)
    val ingests = new java.io.File(s"$tmp/sets").listFiles()
      .map(_.getName).filter(_.startsWith("ingest=")).toSeq
    assert(ingests === Seq("ingest=0"))
    // A replay of the folded id no-ops (its rows live in the base now).
    Dedup.appendMinhashIndex(
      batch.filter(col("doc_id") === 11L), tmp, ingestId = 1L)
    assert(new java.io.File(s"$tmp/sets").listFiles()
      .map(_.getName).count(_.startsWith("ingest=")) === 1)
  }

  test("index screens consume a supplied shingle stream; gram-size mismatch falls back to a fresh pass") {
    // The r18 one-batch-tokenize contract (screenIncremental threads ONE
    // hashedShingles stream through every index screen): (1) a matching
    // stream yields identical verdicts, (2) the stream is genuinely
    // CONSUMED — a poisoned stream (one doc's shingles withheld) flips
    // that doc's verdict, proving no silent recompute, (3) a declared
    // gram size differing from the index's stored one falls back to a
    // fresh pass — the poison then has no effect, (4) a stream without
    // its declared size fails loudly.
    val tmp = java.nio.file.Files
      .createTempDirectory("minhash-shared").toString + "/idx"
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (4L, "completely different content about spark query engines at scale"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "entirely unrelated words never appearing in the standing corpus"))
      .toDF("doc_id", "text")
    Dedup.buildMinhashIndex(corpus, tmp) // stores shingle_size = 3
    def verdicts(sh: Option[org.apache.spark.sql.DataFrame], n: Option[Int]) =
      Dedup.minhashNovelAgainstIndex(batch, tmp, shingles = sh, shinglesN = n)
        .select("doc_id", "is_novel").as[(Long, Boolean)].collect().toSet
    val base = verdicts(None, None)
    assert(base === Set((10L, false), (11L, true)))
    val stream = Dedup.hashedShingles(batch, 3)
    assert(verdicts(Some(stream), Some(3)) === base)
    val poisoned = stream.filter(col("doc_id") =!= 10L)
    assert(verdicts(Some(poisoned), Some(3)) === Set((10L, true), (11L, true)),
      "poisoned stream must be consumed, not recomputed")
    assert(verdicts(Some(poisoned), Some(4)) === base,
      "declared size 4 != stored 3 must recompute a fresh pass")
    intercept[IllegalArgumentException] { verdicts(Some(stream), None) }
    // Same contract on the eval-gram contamination screen.
    val evalPath = java.nio.file.Files
      .createTempDirectory("contam-shared").toString + "/evalgrams"
    Contamination.buildEvalIndex(
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
        .toDF("doc_id", "text"), evalPath)
    val cBatch = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "unrelated training text with no overlap at all whatsoever"))
      .toDF("doc_id", "text")
    def cVerdicts(sh: Option[org.apache.spark.sql.DataFrame], n: Option[Int]) =
      Contamination.contaminationAgainstIndex(cBatch, evalPath,
          shingles = sh, shinglesN = n)
        .select("doc_id", "is_contaminated").as[(Long, Boolean)]
        .collect().toSet
    val cBase = cVerdicts(None, None)
    assert(cBase === Set((100L, true), (101L, false)))
    val cStream = Dedup.hashedShingles(cBatch, 3)
    assert(cVerdicts(Some(cStream), Some(3)) === cBase)
    assert(cVerdicts(Some(cStream.filter(col("doc_id") =!= 100L)), Some(3))
      === Set((100L, false), (101L, false)),
      "poisoned stream must be consumed, not recomputed")
    assert(cVerdicts(Some(cStream.filter(col("doc_id") =!= 100L)), Some(4))
      === cBase, "size mismatch must recompute a fresh pass")
  }

  test("dedupKeepPreferred: NULL priority is LEAST preferred (classifiable copy survives)") {
    // A digit-free source yields a null trust rank at the SparkEntry
    // call site; Spark's raw struct-min would sort that null FIRST and
    // crown the unclassifiable copy — the is-null flag pins null LAST,
    // matching the SQL twin's default NULLS LAST ordering.
    val d = Seq(
      (2L, "same text here", Some(3)),
      (6L, "same text here", None), // null priority loses to ANY ranked copy
      (1L, "all null group", None),
      (4L, "all null group", None)) // all-null group → min doc_id
      .toDF("doc_id", "text", "prio")
    val kept = Dedup.dedupKeepPreferred(d, col("prio"))
      .select("keep_doc_id", "keep_priority")
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(kept === Set((2L, Some(3)), (1L, None)))
  }

  test("minhash index rebuild resets the compaction fold record (a folded id lands again)") {
    // The ADVICE scenario: build → append → compact folds ids {0,1} →
    // REBUILD on a regenerated corpus. The rebuild resets the ingest-id
    // namespace, so a subsequent append reusing folded id 1 must LAND —
    // a stale `_compacted_ids` record would silently no-op it and those
    // novel docs would never enter the index.
    val tmp = java.nio.file.Files
      .createTempDirectory("minhash-rebuild").toString + "/idx"
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    Dedup.buildMinhashIndex(corpus, tmp)
    Dedup.appendMinhashIndex(Seq(
        (11L, "entirely unrelated words never appearing in the standing corpus"))
      .toDF("doc_id", "text"), tmp, ingestId = 1L)
    assert(Dedup.compactMinhashIndex(spark, tmp))
    Dedup.buildMinhashIndex(corpus, tmp) // regenerated-source rebuild
    Dedup.appendMinhashIndex(Seq(
        (30L, "a brand new post-rebuild document that must be screenable"))
      .toDF("doc_id", "text"), tmp, ingestId = 1L)
    // The appended doc is reachable: its exact dup is now non-novel.
    val v = Dedup.minhashNovelAgainstIndex(Seq(
        (40L, "a brand new post-rebuild document that must be screenable"))
      .toDF("doc_id", "text"), tmp).head()
    assert(!v.getBoolean(1) && v.getLong(3) === 30L)
  }

  private val boilerText =
    "common template header repeated across the fleet of documents here"

  test("hot LSH band buckets are capped, observably; cold-bucket pairs survive") {
    // A 12-doc boilerplate cluster of IDENTICAL text (identical
    // signatures → all 8 of its band buckets hot at maxBucket = 8) plus
    // a genuine dup pair elsewhere: the cap must drop the cluster's
    // pair space, keep the cold pair, and report exactly what it cost.
    val d = ((100L until 112L).map(i => (i, boilerText)) ++ Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (4L, "completely different content about spark query engines at scale")))
      .toDF("doc_id", "text")
    val capped = Dedup.minhashNearDupPairs(d, threshold = 0.4, maxBucket = 8)
    val pairs = capped.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 >= 100L || p._2 >= 100L))
    val m = capped.queryExecution.observedMetrics("lsh_bucket_clamp")
    assert(m.getAs[Long]("dropped_buckets") == 8L) // every band of the cluster
    assert(m.getAs[Long]("dropped_rows") == 96L)   // 12 docs × 8 bands
    assert(m.getAs[Long]("max_bucket") == 12L)
    // maxBucket <= 0 disables the clamp: the cluster's C(12,2) = 66
    // pairs reappear and nothing else changes.
    val uncapped = Dedup.minhashNearDupPairs(d, threshold = 0.4, maxBucket = 0)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(uncapped.count(p => p._1 >= 100L && p._2 >= 100L) == 66)
    assert((uncapped -- pairs).forall(p => p._1 >= 100L && p._2 >= 100L))
    // The verified one-pass forms clamp identically.
    assert(Dedup.lshVerifiedJaccardPairs(d, maxBucket = 8).collect()
      .forall(r => r.getLong(0) < 100L && r.getLong(1) < 100L))
    assert(Dedup.minhashVerifiedPairs(d, threshold = 0.4, maxBucket = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === pairs)
  }

  test("nearDupClustersKeepBest keeps the longest copy, not the min id") {
    // Docs 0/1 are exact dups; 3 is a tight near-dup (one appended
    // token, J = 10/11) and the LONGEST member (13 tokens vs 12) — the
    // quality rule must crown doc 3 even though min-id would keep doc
    // 0. Singleton 4 keeps itself.
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy dog again and again today"),
      (4L, "completely different content about spark query engines at scale"))
      .toDF("doc_id", "text")
    val out = Dedup.nearDupClustersKeepBest(corpus,
        graft.ext.TextAnalysis.tokenCount(col("text")).cast("long"),
        threshold = 0.4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val cluster0 = out.filter(_._2 == 0L)
    assert(Set(0L, 1L, 3L).subsetOf(cluster0.map(_._1).toSet))
    assert(cluster0.filter(_._4).map(_._1).toSeq === Seq(3L))
    assert(out.find(_._1 == 4L).get._4) // singleton keeps itself
    // Exactly one survivor per cluster.
    val perCluster = out.groupBy(_._2).view.mapValues(_.count(_._4))
    assert(perCluster.values.forall(_ == 1))
    // Ties (exact dups 0 and 1, equal length) break on doc_id: had doc
    // 3 not been longer the survivor would be 0 — assert the rule
    // directly on a tie-only corpus.
    val tied = Seq(
      (7L, "same words here exactly now"),
      (5L, "same words here exactly now"))
      .toDF("doc_id", "text")
    val tiedOut = Dedup.nearDupClustersKeepBest(tied,
        graft.ext.TextAnalysis.tokenCount(col("text")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getBoolean(3))).toMap
    assert(tiedOut(5L) && !tiedOut(7L))
  }

  test("nearDupClusters keeps template mega-clusters grouped under the cap (digest star edges)") {
    // The 12-doc identical-template cluster's LSH pairs are dropped by
    // the bucket cap — without the exact-digest star edges it would
    // dissolve into 12 singleton "survivors". With them, the cluster
    // keeps exactly one canonical doc, at O(n) edge cost.
    val d = ((100L until 112L).map(i => (i, boilerText)) ++ Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (4L, "completely different content about spark query engines at scale")))
      .toDF("doc_id", "text")
    val out = Dedup.nearDupClusters(d, threshold = 0.4, maxBucket = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byDoc = out.map(t => t._1 -> (t._2, t._3)).toMap
    (100L until 112L).foreach { i =>
      assert(byDoc(i) === (100L, i == 100L), s"doc $i: ${byDoc(i)}")
    }
    assert(byDoc(0L) === (0L, true) && byDoc(1L) === (0L, false))
    assert(byDoc(4L) === (4L, true))
  }

  test("nearDupClusters normalizedStarEdges: case/punct template variants collapse only when opted in") {
    // A template cluster whose members differ ONLY in case/punctuation:
    // byte digests all differ, raw-token shingles all differ (lower()
    // changes every token), so under a cap that drops its hot buckets
    // the default contract honestly leaves them singletons — and the
    // opt-in normalized star edges collapse them.
    val variants = (100L until 112L).map { i =>
      val t = boilerText
      (i, if (i % 2 == 0) t.toUpperCase else t + "!!!")
    }
    val d = (variants ++ Seq(
      (4L, "completely different content about spark query engines at scale")))
      .toDF("doc_id", "text")
    def clusters(flag: Boolean) =
      Dedup.nearDupClusters(d, threshold = 0.4, maxBucket = 4,
          observeName = if (flag) "ndc_norm" else "ndc_raw",
          normalizedStarEdges = flag)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val on = clusters(true)
    (100L until 112L).foreach(i => assert(on(i) == 100L, s"doc $i"))
    assert(on(4L) == 4L)
    // default: byte-exact stars only — the upper/lower halves cannot
    // star together (different normalize-less digests); the UPPERCASE
    // docs share one digest and the "!!!" docs share another, so two
    // clusters survive rather than one
    val off = clusters(false)
    assert(off.values.toSet.intersect(Set(100L, 101L)).size == 2,
      s"expected the two byte-digest groups to stay separate: $off")
  }

  test("hot-bucket cap in the novelty screens: recompute, broadcast and merge index plans agree") {
    val corpus = ((100L until 112L).map(i => (i, boilerText)) ++ Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again")))
      .toDF("doc_id", "text")
    val batch = Seq(
      (200L, boilerText), // matches ONLY the hot cluster → errs novel
      (201L, "the quick brown fox jumps over the lazy dog again and again"),
      (202L, "entirely unrelated words never appearing in the standing corpus"))
      .toDF("doc_id", "text")
    val novel = Dedup.minhashNovel(batch, corpus, maxBucket = 8)
      .as[Long].collect().sorted.toSeq
    // 200 errs novel (its only matches live in dropped buckets — the
    // documented recall trade); 201's match is a cold bucket → screened.
    assert(novel === Seq(200L, 202L))
    assert(Dedup.minhashNovel(batch, corpus, maxBucket = 0)
      .as[Long].collect().sorted.toSeq === Seq(202L))
    // Indexed screens under the cap: the broadcast plan's probed-bucket
    // window and the merge plan's corpus-wide window must yield the
    // SAME verdicts as the recompute form.
    val path = java.nio.file.Files
      .createTempDirectory("minhash-cap-idx").toString + "/idx"
    Dedup.buildMinhashIndex(corpus, path)
    def run(bc: Boolean) =
      Dedup.minhashNovelAgainstIndex(batch, path, broadcastBatch = bc,
          maxBucket = 8)
        .filter(col("is_novel")).select("doc_id")
        .as[Long].collect().sorted.toSeq
    assert(run(true) === novel)
    assert(run(false) === novel)
  }

  test("PII redaction replaces emails, urls and long digit runs only") {
    val rows = Seq(
      (0L, "mail me at jane.doe+x@sub.example.org today"),
      (1L, "see https://a.example.com/p?q=1 and http://b.io"),
      (2L, "order 12345678 shipped; pin 123 stays, word7777777word stays"),
      (3L, "nothing to scrub here"))
      .toDF("doc_id", "text")
    val out = rows.select(col("doc_id"),
        TextAnalysis.redactPii(col("text")).as("clean"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) == "mail me at <EMAIL> today")
    assert(out(1L) == "see <URL> and <URL>")
    // 7+ digit runs need word boundaries: short pins and digit runs
    // embedded in words survive.
    assert(out(2L) == "order <NUMBER> shipped; pin 123 stays, word7777777word stays")
    assert(out(3L) == "nothing to scrub here")
  }

  test("incremental dedup keeps only digests unseen in the standing corpus") {
    val seen = docs.filter(col("doc_id") < 3)
    val fresh = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"), // dup of seen 0
      (11L, "genuinely new content never seen before"))
      .toDF("doc_id", "text")
    val kept = Dedup.dedupAgainstSeen(fresh, seen)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(11L))
  }

  test("simhash: identical docs share fingerprints; hamming small for near-dups") {
    val sh = Dedup.simhash(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sh(0L) == sh(1L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(0L), sh(3L)) < hamming(sh(0L), sh(4L)))
  }

  test("simhashNearDupPairs equals the exhaustive Hamming enumeration (pigeonhole-complete banding)") {
    val pairs = Dedup.simhashNearDupPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sh = Dedup.simhash(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (a, ha) <- sh; (b, hb) <- sh if a < b
      h = java.lang.Long.bitCount(ha ^ hb) if h <= 3
    } yield (a, b, h)).toSet
    // 4×16-bit banding is complete at Hamming ≤ 3 — the banded join
    // must find EXACTLY the exhaustive set, not a subset.
    assert(pairs === brute)
    assert(pairs.exists(t => t._1 == 0L && t._2 == 1L && t._3 == 0))
    // beyond the multi-index bound the operator refuses, never
    // recalls < 1
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDupPairs(docs, maxHamming = 8)
    }
  }

  test("simhashNearDupPairs radius 4-7 (multi-index hashing) equals the exhaustive enumeration") {
    // A graded mutation ladder off one base text: fingerprints land at
    // a spread of Hamming distances, so the 4..7 window the MIH layout
    // exists for is actually exercised (asserted non-empty below).
    val texts = (0 until 14).map { m =>
      val words = (0 until 24).map { i =>
        if (i < m) s"alt${m}x$i" else f"w$i%02d"
      }
      (m.toLong, words.mkString(" "))
    }
    val graded = texts.toDF("doc_id", "text")
    val sh = Dedup.simhash(graded).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def brute(r: Int) = (for {
      (a, ha) <- sh; (b, hb) <- sh if a < b
      h = java.lang.Long.bitCount(ha ^ hb) if h <= r
    } yield (a, b, h)).toSet
    for (r <- Seq(4, 5, 7)) {
      val got = Dedup.simhashNearDupPairs(graded, maxHamming = r,
          observeName = s"sim_r$r")
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
      assert(got === brute(r), s"radius $r")
    }
    // the window is genuinely exercised: some true pair sits in (3, 7]
    val mid = brute(7) -- brute(3)
    assert(mid.nonEmpty, "fixture must produce pairs at Hamming 4..7; " +
      s"distances seen: ${
        (for { (a, ha) <- sh; (b, hb) <- sh if a < b }
          yield java.lang.Long.bitCount(ha ^ hb)).sorted.mkString(",")}")
    // and the MIH result at radius 3 degenerates to the banded result
    // (two layouts, one contract)
    assert(Dedup.simhashNearDupPairs(graded, maxHamming = 3,
        observeName = "sim_r3")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
      === brute(3))
  }

  test("containmentPairs: one-sided inclusion surfaces where Jaccard stays low") {
    val short = (1 to 30).map(i => s"inner$i").mkString(" ")
    val long = ((1 to 40).map(i => s"pre$i") ++ (1 to 30).map(i => s"inner$i")
      ++ (1 to 40).map(i => s"post$i")).mkString(" ")
    val d = Seq(
      (0L, short),                                  // fully quoted inside 1
      (1L, long),
      (2L, (1 to 30).map(i => s"other$i").mkString(" "))) // unrelated
      .toDF("doc_id", "text")
    val rows = Dedup.containmentPairs(d, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getDouble(4)))
    assert(rows.length == 1)
    val (a, b, aInB, bInA) = rows.head
    assert((a, b) == (0L, 1L))
    // most of the short doc's fingerprints appear in the long one
    // (winnowing shares interior window minima; only the quoted span's
    // boundary windows can differ)...
    assert(aInB >= 0.6, s"a_in_b $aInB")
    // ...while the symmetric direction (and so Jaccard) stays low
    assert(bInA < 0.5, s"b_in_a $bInA")
    assert(aInB > bInA)
    // the unrelated doc pairs with nothing
    assert(!rows.exists(t => t._1 == 2L || t._2 == 2L))
    // independent check against the fingerprint sets themselves
    val fps = Dedup.winnowedFingerprints(d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val inter = (fps(0L) & fps(1L)).size
    assert(aInB ==
      BigDecimal(inter.toDouble / fps(0L).size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(bInA ==
      BigDecimal(inter.toDouble / fps(1L).size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("sourceCaps keeps the top-cap docs per source by the preference order") {
    val docs = (1L to 10L).map(i => (i, if (i <= 7) "a" else "b", i * 10))
      .toDF("doc_id", "source", "n_chars")
    val out = Sampling.sourceCaps(docs, cap = 3, preference = col("n_chars"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    // source a: longest three are 7,6,5; source b: all three survive
    assert(out.toSeq == Seq((7L, "a", 1), (6L, "a", 2), (5L, "a", 3),
      (10L, "b", 1), (9L, "b", 2), (8L, "b", 3)))
    // deterministic tie-break: equal lengths rank by ascending doc_id
    val tied = Seq((1L, "s", 100L), (2L, "s", 100L), (3L, "s", 100L))
      .toDF("doc_id", "source", "n_chars")
    assert(Sampling.sourceCaps(tied, 2, col("n_chars")).collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("containmentAgainstIndex: persisted screen matches in-corpus semantics; cold start is all-novel") {
    val short = (1 to 30).map(i => s"inner$i").mkString(" ")
    val long = ((1 to 40).map(i => s"pre$i") ++ (1 to 30).map(i => s"inner$i")
      ++ (1 to 40).map(i => s"post$i")).mkString(" ")
    val corpus = Seq(
      (0L, long),
      (1L, (1 to 30).map(i => s"corpusonly$i").mkString(" ")))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, short),                                   // quoted inside 0
      (11L, (1 to 30).map(i => s"fresh$i").mkString(" "))) // novel
      .toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("contain-idx").toString
    // cold start: no index at all → every doc novel, not an error
    val cold = Dedup.containmentAgainstIndex(batch, s"$path/missing")
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    assert(cold.toSeq == Seq((10L, true), (11L, true)))
    Dedup.buildContainmentIndex(corpus, path)
    for (bb <- Seq(true, false)) {
      val v = Dedup.containmentAgainstIndex(batch, path,
          broadcastBatch = bb)
        .collect().map(r => r.getLong(0) ->
          (r.getBoolean(1), Option(r.get(2)).map(_.asInstanceOf[Double]),
            Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
      assert(!v(10L)._1 && v(10L)._3 == Some(0L), s"bb=$bb: ${v(10L)}")
      assert(v(10L)._2.get >= 0.6)
      assert(v(11L) == ((true, None, None)), s"bb=$bb")
      // the screen's score equals the in-corpus containmentPairs value
      // over the union frame — index vs recompute agree
      val pairScore = Dedup.containmentPairs(
          corpus.unionByName(batch), threshold = 0.5)
        .filter(col("doc_a") === 0L && col("doc_b") === 10L)
        .head().getAs[Double]("b_in_a")
      assert(v(10L)._2.get == pairScore)
    }
    // stored-parameter rule: the screen derives batch fingerprints with
    // the INDEX's shingle/window values, not caller-supplied ones
    val params = spark.read.parquet(s"$path/params").head()
    assert(params.getAs[Int]("shingle_size") == 3 &&
      params.getAs[Int]("window") == 4)
    // append lifecycle: a new corpus doc lands in its own ingest
    // partition; a quote of IT now flags; a replayed ingest id no-ops
    val addition = Seq((2L, ((1 to 10).map(i => s"addpre$i") ++
      (1 to 12).map(i => s"quote$i")).mkString(" ")))
      .toDF("doc_id", "text")
    Dedup.appendContainmentIndex(addition, path, ingestId = 7L)
    Dedup.appendContainmentIndex(addition, path, ingestId = 7L) // replay
    val probe = Seq((12L, (2 to 11).map(i => s"quote$i").mkString(" ")))
      .toDF("doc_id", "text")
    val after = Dedup.containmentAgainstIndex(probe, path).head()
    assert(!after.getBoolean(1) && after.getLong(3) == 2L, after.toString)
    assert(spark.read.parquet(s"$path/fps")
      .filter(col("doc_id") === 2L)
      .select(col("ingest").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq == Seq(7L))
    // compaction is pure re-layout: identical verdicts, one base dir
    assert(Dedup.compactContainmentIndex(spark, path))
    val afterFold = Dedup.containmentAgainstIndex(probe, path).head()
    assert(afterFold.toSeq == after.toSeq)
    val ingests = new java.io.File(s"$path/fps").listFiles()
      .filter(_.getName.startsWith("ingest=")).map(_.getName).toSeq
    assert(ingests == Seq("ingest=0"), ingests.toString)
  }

  test("simhashNovelAgainstIndex: both probe paths match the exhaustive verdict; lifecycle is idempotent") {
    // Corpus/batch over seeded token streams: batch 10 is byte-identical
    // to corpus 3 (Hamming 0), batch 11 perturbs two of corpus 5's
    // tokens (small but data-dependent distance), batch 12 is fresh.
    // The assertions never guess distances — every radius is checked
    // against a brute-force verdict computed from [[Dedup.simhash]]
    // itself, so the test certifies the banded probe (≤ 3), the
    // expanded multi-index probe (4–7), and both join plans.
    def text(tag: String, n: Int) =
      (1 to n).map(i => s"$tag$i").mkString(" ")
    val corpus = (0L to 7L).map(i => (i, text(s"c${i}_tok", 30))).toDF(
      "doc_id", "text")
    val batch = Seq(
      (10L, text("c3_tok", 30)),
      (11L, text("c5_tok", 28) + " zz1 zz2"),
      (12L, text("fresh", 30))).toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("simhash-idx").toString
    // cold start: no index at all → every doc novel, not an error
    val cold = Dedup.simhashNovelAgainstIndex(batch, s"$path/missing")
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    assert(cold.toSeq == Seq((10L, true), (11L, true), (12L, true)))
    Dedup.buildSimhashIndex(corpus, path)
    val cfp = Dedup.simhash(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val bfp = Dedup.simhash(batch).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def brute(maxHamming: Int) = bfp.map { case (id, f) =>
      val best = cfp.map { case (cid, cf) =>
        (java.lang.Long.bitCount(f ^ cf), cid)
      }.filter(_._1 <= maxHamming).sorted.headOption
      (id, best.isEmpty, best.map(_._1), best.map(_._2))
    }.toSeq
    for (r <- Seq(0, 3, 5, 7); bb <- Seq(true, false)) {
      val got = Dedup.simhashNovelAgainstIndex(batch, path,
          maxHamming = r, broadcastBatch = bb)
        .collect().map(x => (x.getLong(0), x.getBoolean(1),
          Option(x.get(2)).map(_.asInstanceOf[Int]),
          Option(x.get(3)).map(_.asInstanceOf[Long]))).toSeq
      assert(got == brute(r), s"radius $r bb=$bb")
    }
    // the identical doc matches its twin at distance 0
    val r0 = Dedup.simhashNovelAgainstIndex(batch, path, maxHamming = 0)
      .filter(col("doc_id") === 10L).head()
    assert(!r0.getBoolean(1) && r0.getInt(2) == 0 && r0.getLong(3) == 3L)
    // append lifecycle: replayed ingest id no-ops; the admitted doc is
    // then caught at radius 0 by a byte-identical probe
    val addition = Seq((8L, text("added", 25))).toDF("doc_id", "text")
    Dedup.appendSimhashIndex(addition, path, ingestId = 4L)
    Dedup.appendSimhashIndex(addition, path, ingestId = 4L) // replay
    assert(spark.read.parquet(s"$path/fps")
      .filter(col("doc_id") === 8L)
      .select(col("ingest").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq == Seq(4L))
    val probe8 = Seq((20L, text("added", 25))).toDF("doc_id", "text")
    val v8 = Dedup.simhashNovelAgainstIndex(probe8, path, maxHamming = 0)
      .head()
    assert(!v8.getBoolean(1) && v8.getLong(3) == 8L)
    // compaction is pure re-layout: identical verdicts, one base dir
    assert(Dedup.compactSimhashIndex(spark, path))
    assert(Dedup.simhashNovelAgainstIndex(probe8, path, maxHamming = 0)
      .head().toSeq == v8.toSeq)
    val ingests = new java.io.File(s"$path/fps").listFiles()
      .filter(_.getName.startsWith("ingest=")).map(_.getName).toSeq
    assert(ingests == Seq("ingest=0"), ingests.toString)
  }

  test("gopher gate vetoes docs every other screen passes — both composite paths") {
    // Unique-coverage plants (the r18 neardup_ok lesson): each veto doc
    // fails ONLY the gopher battery, on a DIFFERENT rule, so a dropped
    // gate term in either composite's kept conjunction fails here.
    val cfg = TextAnalysis.GopherGateConfig(minWords = 20, minStopwords = 1)
    val corpus = Seq(
      // 31 words incl. 'the': passes everything.
      (10L, (1 to 30).map(i => s"gwords$i").mkString(" ") + " the"),
      // 11 words: quality_ok (>= 5 toks) but under the gopher floor.
      (11L, (1 to 10).map(i => s"aaword$i").mkString(" ") + " the"),
      // 26 words but mean word length > 10: fails only that rule.
      (12L, (1 to 25).map(i => s"verylongtoken$i" + "padded")
        .mkString(" ") + " the"),
      // 21 words, none of the 8 indicator stopwords.
      (13L, (1 to 21).map(i => s"nostops$i").mkString(" ")))
      .toDF("doc_id", "text")
    val evalSet = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val prepared = graft.ext.CorpusPrep.prepare(corpus, evalSet,
      gopherGate = Some(cfg))
    val byId = prepared.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(10L).getAs[Boolean]("gopher_ok") &&
      byId(10L).getAs[Boolean]("kept"))
    for (id <- Seq(11L, 12L, 13L))
      assert(byId(id).getAs[Boolean]("quality_ok") &&
        !byId(id).getAs[Boolean]("is_near_dup") &&
        byId(id).getAs[Boolean]("repetition_ok") &&
        !byId(id).getAs[Boolean]("gopher_ok") &&
        !byId(id).getAs[Boolean]("kept"), byId(id).toString)
    assert(graft.ext.CorpusPrep.report(prepared).head()
      .getAs[Long]("gopher_vetoed") == 3L)
    // Gate off (default): all four ride through, column all-true.
    val off = graft.ext.CorpusPrep.prepare(corpus, evalSet)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(Seq(10L, 11L, 12L, 13L).forall(id =>
      off(id).getAs[Boolean]("gopher_ok") && off(id).getAs[Boolean]("kept")))
    // The incremental twin applies the SAME gate (screen-set parity).
    val idx = java.nio.file.Files
      .createTempDirectory("gopher-screen-idx").toString + "/mh"
    Dedup.buildMinhashIndex(
      Seq((0L, (1 to 30).map(i => s"standing$i").mkString(" ")))
        .toDF("doc_id", "text"), idx)
    val v = CorpusPrep.screenIncremental(corpus, idx,
        gopherGate = Some(cfg))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(v(10L).getAs[Boolean]("gopher_ok") &&
      v(10L).getAs[Boolean]("kept"))
    for (id <- Seq(11L, 12L, 13L))
      assert(v(id).getAs[Boolean]("is_novel") &&
        !v(id).getAs[Boolean]("gopher_ok") &&
        !v(id).getAs[Boolean]("kept"), v(id).toString)
  }

  test("screenIncremental merge path (the backfill shape): batch parquet scanned once, novelty screen merge-joins, verdicts equal the broadcast path") {
    // broadcastBatch = false is the plan for a corpus-sized batch that
    // arrives as files: every screen rides the one up-front checkpoint
    // of the batch, and the novelty screen's band join is a shuffled
    // merge, never a broadcast of the batch side.
    def text(tag: String, i: Long) =
      (1 to 30).map(j => s"$tag${i}x$j").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("screen-merge").toString
    val idx = s"$dir/mh"
    Dedup.buildMinhashIndex(
      (0L until 20L).map(i => (i, text("standing", i))).toDF("doc_id", "text"),
      idx)
    // 4 copies of standing docs, 2 blocklisted, 14 fresh
    (100L until 120L).map { i =>
        (i, if (i < 104) text("standing", i - 100)
            else if (i < 106) text("freshtext", i) + " plantbad"
            else text("freshtext", i))
      }.toDF("doc_id", "text").write.parquet(s"$dir/batch")
    val batch = spark.read.parquet(s"$dir/batch")
    def screen(broadcastBatch: Boolean) = CorpusPrep.screenIncremental(
      batch, idx, blocklist = Seq("plantbad"),
      broadcastBatch = broadcastBatch, sorted = false)
    val merge = screen(broadcastBatch = false)
    val v = merge.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val p = merge.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!p.contains(s"$dir/batch"), s"batch FileScan in the final plan:\n$p")
    val novelty = Dedup.minhashNovelAgainstIndex(batch, idx,
      broadcastBatch = false)
    novelty.collect()
    val np = novelty.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(np.contains("SortMergeJoin") || np.contains("ShuffledHashJoin"),
      s"no shuffled join in the merge-path novelty screen:\n$np")
    assert(v.values.count(!_.getAs[Boolean]("is_novel")) == 4)
    assert(v.values.count(!_.getAs[Boolean]("blocklist_ok")) == 2)
    assert(v.values.count(_.getAs[Boolean]("kept")) == 14)
    val bcast = screen(broadcastBatch = true).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.toSeq).toMap
    assert(bcast == v.map { case (k, r) => k -> r.toSeq })
  }

  test("screenIncremental: each screen vetoes independently; intra-batch dups keep one survivor") {
    // 8-letter tags keep the alpha ratio comfortably above the 0.6
    // quality boundary (4-letter tags + digits land exactly ON it).
    def text(tag: String, n: Int) =
      (1 to n).map(i => s"$tag$i").mkString(" ")
    val standing = Seq(
      (0L, text("heldtext", 30)),
      (1L, text("corptext", 30))).toDF("doc_id", "text")
    val idx = java.nio.file.Files
      .createTempDirectory("screen-idx").toString + "/mh"
    Dedup.buildMinhashIndex(standing, idx)
    val batch = Seq(
      (10L, text("heldtext", 30)),              // standing near-dup (J=1)
      (11L, text("freshdoc", 30)),              // survives everything
      (12L, "short doc"),                       // fails quality (< 5 toks)
      (13L, text("okaydocs", 20) + " badword"), // blocklisted
      (14L, text("twindocs", 30)),              // intra-batch pair ...
      (15L, text("twindocs", 30)))              // ... one survivor
      .toDF("doc_id", "text")
    val v = CorpusPrep.screenIncremental(batch, idx,
        blocklist = Seq("badword"), blocklistMaxFraction = 0.0)
      .collect().map(r => r.getLong(0) -> r).toMap
    def kept(id: Long) = v(id).getAs[Boolean]("kept")
    assert(!kept(10L) && !v(10L).getAs[Boolean]("is_novel") &&
      v(10L).getAs[Long]("match_id") == 0L &&
      v(10L).getAs[Double]("best_jaccard") == 1.0, v(10L).toString)
    assert(kept(11L) && v(11L).getAs[Boolean]("batch_survivor"))
    assert(!kept(12L) && !v(12L).getAs[Boolean]("quality_ok"))
    assert(!kept(13L) && !v(13L).getAs[Boolean]("blocklist_ok") &&
      v(13L).getAs[Boolean]("quality_ok"))
    // the twins both pass screens 1-3 but only the min doc survives 4
    assert(kept(14L) && !kept(15L) &&
      v(15L).getAs[Boolean]("is_novel") &&
      !v(15L).getAs[Boolean]("batch_survivor"), s"${v(14L)} / ${v(15L)}")
    // no DSIR model passed: score null, screen vacuously true
    assert(v(11L).isNullAt(v(11L).fieldIndex("mean_log_ratio")) &&
      v(11L).getAs[Boolean]("dsir_ok"))
    // with a DSIR model: a target-unlike doc is vetoed by selection
    // alone (every other screen green), and a featureless doc would
    // fail rather than pass silently
    val dsirIdx = java.nio.file.Files
      .createTempDirectory("screen-dsir").toString + "/model"
    TextAnalysis.buildDsirIndex(
      Seq((100L, text("ontopics", 40))).toDF("doc_id", "text"), dsirIdx)
    val v2 = CorpusPrep.screenIncremental(
        Seq((20L, text("ontopics", 30)), (21L, text("offtopic", 30)))
          .toDF("doc_id", "text"),
        idx, dsirIndexPath = Some(dsirIdx))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(v2(20L).getAs[Boolean]("dsir_ok") &&
      v2(20L).getAs[Boolean]("kept"))
    assert(!v2(21L).getAs[Boolean]("dsir_ok") &&
      !v2(21L).getAs[Boolean]("kept") &&
      v2(21L).getAs[Boolean]("is_novel"), v2(21L).toString)
    // with containment + simhash indexes configured: a short QUOTE of
    // held content dodges the Jaccard screen (J ≈ 0.36 < 0.5) but the
    // containment screen vetoes it and names the container; a byte
    // copy trips Jaccard AND Hamming at distance 0; fresh content
    // passes all five screens
    val cidx = java.nio.file.Files
      .createTempDirectory("screen-cidx").toString + "/contain"
    val sidx = java.nio.file.Files
      .createTempDirectory("screen-sidx").toString + "/simhash"
    Dedup.buildContainmentIndex(standing, cidx)
    Dedup.buildSimhashIndex(standing, sidx)
    val batch3 = Seq(
      (30L, (5 to 16).map(i => s"heldtext$i").mkString(" ")),
      (31L, text("corptext", 30)),
      (32L, text("brandnew", 30))).toDF("doc_id", "text")
    val v3 = CorpusPrep.screenIncremental(batch3, idx,
        containmentIndexPath = Some(cidx), simhashIndexPath = Some(sidx))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(v3(30L).getAs[Boolean]("is_novel") &&
      v3(30L).getAs[Boolean]("is_contained") &&
      v3(30L).getAs[Long]("container_id") == 0L &&
      !v3(30L).getAs[Boolean]("kept"), v3(30L).toString)
    assert(!v3(31L).getAs[Boolean]("is_novel") &&
      v3(31L).getAs[Boolean]("is_hamming_dup") &&
      v3(31L).getAs[Int]("best_hamming") == 0 &&
      v3(31L).getAs[Long]("hamming_match_id") == 1L &&
      !v3(31L).getAs[Boolean]("kept"), v3(31L).toString)
    assert(v3(32L).getAs[Boolean]("kept") &&
      !v3(32L).getAs[Boolean]("is_contained") &&
      !v3(32L).getAs[Boolean]("is_hamming_dup"), v3(32L).toString)
    // with the contamination + outlier screens configured the
    // incremental screen is a strict superset of the batch composite:
    // an eval-suite copy (novel to every dedup index!) and an
    // embedding-space garbage doc are each vetoed by exactly their
    // screen; a doc with no embedding row gets no outlier verdict
    val evIdx = java.nio.file.Files
      .createTempDirectory("screen-evidx").toString + "/evalgrams"
    Contamination.buildEvalIndex(
      Seq((900L, text("benchline", 30))).toDF("doc_id", "text"), evIdx)
    val mkEmb = udf((id: Long, noise: Float) => {
      val r = new scala.util.Random(id)
      Array.tabulate(64)(j => (if (j == 0) 10f else 0f) +
        (r.nextFloat() * 2 - 1) * noise)
    })
    val trainEmb = spark.range(100).select(col("id").as("vec_id"),
        mkEmb(col("id"), lit(0.01f)).as("embedding"))
      .localCheckpoint()
    val oIdx = java.nio.file.Files
      .createTempDirectory("screen-oidx").toString + "/model"
    Similarity.buildOutlierIndex(trainEmb, oIdx)
    val batch4 = Seq(
      (40L, text("cleandocs", 30)),   // clean text, clean embedding
      (41L, text("tidydocum", 30)),   // clean text, garbage embedding
      (42L, text("plaindocs", 30)),   // clean text, NO embedding row
      (43L, text("benchline", 30)),   // copies the eval benchmark
      (44L, ("spam one two " * 20).trim)) // copy-paste stutter
      .toDF("doc_id", "text")
    val emb4 = Seq(40L -> 0.01f, 41L -> 3f).toDF("vec_id", "noise")
      .select(col("vec_id"), mkEmb(col("vec_id"), col("noise")).as("embedding"))
    val v4 = CorpusPrep.screenIncremental(batch4, idx,
        contamIndexPath = Some(evIdx), contamSpanMinRun = Some(8),
        embeddings = Some(emb4), outlierIndexPath = Some(oIdx),
        repetitionMaxDupFrac = Some(0.2))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(v4(40L).getAs[Boolean]("kept") &&
      !v4(40L).getAs[Boolean]("is_outlier") &&
      v4(40L).getAs[Boolean]("span_ok") &&
      v4(40L).getAs[Long]("contam_span_run") == 0L &&
      !v4(40L).getAs[Boolean]("is_contaminated"), v4(40L).toString)
    assert(!v4(41L).getAs[Boolean]("kept") &&
      v4(41L).getAs[Boolean]("is_outlier") &&
      v4(41L).getAs[Double]("outlier_zscore") < -2.0 &&
      v4(41L).getAs[Boolean]("is_novel"), v4(41L).toString)
    assert(v4(42L).getAs[Boolean]("kept") &&
      !v4(42L).getAs[Boolean]("is_outlier") &&
      v4(42L).isNullAt(v4(42L).fieldIndex("outlier_zscore")), v4(42L).toString)
    assert(!v4(43L).getAs[Boolean]("kept") &&
      v4(43L).getAs[Boolean]("is_contaminated") &&
      v4(43L).getAs[Long]("contam_match_id") == 900L &&
      !v4(43L).getAs[Boolean]("span_ok") &&
      v4(43L).getAs[Long]("contam_span_run") >= 8L &&
      v4(43L).getAs[Boolean]("is_novel"), v4(43L).toString)
    // half-configured span screen fails loudly
    intercept[IllegalArgumentException] {
      CorpusPrep.screenIncremental(batch4, idx, contamSpanMinRun = Some(8))
    }
    // the stutter doc passes every standing screen (novel, clean,
    // uncontaminated) and is vetoed by the repetition gate alone:
    // 58 3-grams, 3 distinct → dup frac ≈ 0.948
    assert(!v4(44L).getAs[Boolean]("kept") &&
      !v4(44L).getAs[Boolean]("repetition_ok") &&
      v4(44L).getAs[Double]("dup_3gram_frac") > 0.9 &&
      v4(44L).getAs[Boolean]("is_novel") &&
      v4(44L).getAs[Boolean]("quality_ok"), v4(44L).toString)
    assert(v4(40L).getAs[Boolean]("repetition_ok") &&
      v4(40L).getAs[Double]("dup_3gram_frac") == 0.0)
    // half-configured outlier screen fails loudly instead of silently
    // skipping
    intercept[IllegalArgumentException] {
      CorpusPrep.screenIncremental(batch4, idx, embeddings = Some(emb4))
    }
    // sorted = false drops only the presentation sort — same verdicts
    val unsorted = CorpusPrep.screenIncremental(batch4, idx,
        contamIndexPath = Some(evIdx), contamSpanMinRun = Some(8),
        embeddings = Some(emb4), outlierIndexPath = Some(oIdx),
        repetitionMaxDupFrac = Some(0.2),
        sorted = false)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    assert(unsorted == v4.map { case (k, r) => k -> r.toSeq })
  }

  test("index cache: cached verdicts equal direct reads across append, compact, and the rebuild trap") {
    def text(tag: String, n: Int) =
      (1 to n).map(i => s"$tag$i").mkString(" ")
    val standing = Seq(
      (0L, text("cachedocs", 30)), (1L, text("otherdocs", 30)))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files
      .createTempDirectory("idx-cache").toString + "/mh"
    Dedup.buildMinhashIndex(standing, idx)
    val batch = Seq(
      (10L, text("cachedocs", 30)), (11L, text("freshdocs", 30)))
      .toDF("doc_id", "text")
    def screen(b: org.apache.spark.sql.DataFrame) =
      Dedup.minhashNovelAgainstIndex(b, idx).collect().map(_.toSeq).toSeq
    val direct = screen(batch)
    spark.conf.set("spark.graft.indexCache", "true")
    try {
      assert(screen(batch) == direct)  // cold fill
      assert(screen(batch) == direct)  // cache hit
      // append lands a new partition: the incremental refresh must see
      // it without a full invalidate
      Dedup.appendMinhashIndex(
        Seq((2L, text("addeddocs", 30))).toDF("doc_id", "text"), idx,
        ingestId = 3L)
      val probe = Seq((20L, text("addeddocs", 30))).toDF("doc_id", "text")
      val v = screen(probe)
      assert(v.head(1) == false && v.head(3) == 2L, v.toString)
      // compaction folds partitions — rows move, the entry must
      // invalidate and still agree
      assert(Dedup.compactMinhashIndex(spark, idx))
      assert(screen(probe) == v)
      // the rebuild trap: a rebuilt index again holds EXACTLY ingest=0
      // — same partition names as the compacted index — but a
      // different corpus; the metadata fingerprint (file names carry
      // write UUIDs) must invalidate, never serve the old corpus
      Dedup.buildMinhashIndex(
        Seq((5L, text("newcorpdoc", 30))).toDF("doc_id", "text"), idx)
      assert(screen(probe).head(1) == true)  // addeddocs gone → novel
      val v5 = screen(Seq((21L, text("newcorpdoc", 30)))
        .toDF("doc_id", "text"))
      assert(v5.head(1) == false && v5.head(3) == 5L, v5.toString)
    } finally {
      spark.conf.unset("spark.graft.indexCache")
      IndexCache.clear()
    }
    // cache off again: plain reads agree with the post-rebuild state
    // (the original standing corpus is gone, so the old dup is novel)
    assert(screen(batch).forall(_(1) == true))
  }

  test("index cache: an append keeps the standing mirrors persisted and adds one mirror per table (the round-16 recache-thrash fix)") {
    // A DataFrame.persist mirror is plan-keyed, so Spark's
    // recacheByPath dropped it on every write under the index root —
    // every streaming fold re-read the full table. The RDD mirror must
    // survive the append: same RDD id, still persisted, and the refresh
    // adds exactly the new partition's mirror.
    def text(tag: String, n: Int) =
      (1 to n).map(i => s"$tag$i").mkString(" ")
    val idx = java.nio.file.Files
      .createTempDirectory("idx-cache-mirror").toString + "/mh"
    Dedup.buildMinhashIndex(Seq((0L, text("mirrordocs", 30)),
      (1L, text("otherdocs", 30))).toDF("doc_id", "text"), idx)
    val batch = Seq((10L, text("mirrordocs", 30)), (11L, text("freshdocs", 30)))
      .toDF("doc_id", "text")
    def mirrors: Map[String, Int] = spark.sparkContext.getPersistentRDDs
      .values.map(rdd => Option(rdd.name).getOrElse("") -> rdd.id)
      .filter(_._1.startsWith(s"graft-index-mirror:$idx/")).toMap
    spark.conf.set("spark.graft.indexCache", "true")
    try {
      Dedup.minhashNovelAgainstIndex(batch, idx).collect()
      val before = mirrors
      val tables = Seq("bands", "sets")
      assert(tables.forall(t =>
        before.contains(s"graft-index-mirror:$idx/$t/ingest=0")), before)
      Dedup.appendMinhashIndex(
        Seq((2L, text("addeddocs", 30))).toDF("doc_id", "text"), idx,
        ingestId = 3L)
      Dedup.minhashNovelAgainstIndex(batch, idx).collect()
      val after = mirrors
      tables.foreach { t =>
        val base = s"graft-index-mirror:$idx/$t/ingest=0"
        assert(after.get(base) == before.get(base), s"$t: $before -> $after")
      }
      assert(after.keySet -- before.keySet == tables.map(t =>
        s"graft-index-mirror:$idx/$t/ingest=3").toSet, s"$before -> $after")
      assert(before.keySet.subsetOf(after.keySet), s"$before -> $after")
    } finally {
      spark.conf.unset("spark.graft.indexCache")
      IndexCache.clear()
    }
  }

  test("outliersAgainstIndex: frozen-model verdicts match the in-frame screen; new garbage flags without moving the boundary") {
    // One tight 64-dim cloud along e0; ids ≡ 7 (mod 50) carry 300× the
    // noise — low cosine to any centroid, mutually dissimilar (the
    // identical-garbage σ=0 trap doesn't apply).
    val mkEmb = udf((id: Long) => {
      val r = new scala.util.Random(id)
      val noise = if (id % 50 == 7) 3f else 0.01f
      Array.tabulate(64)(j => (if (j == 0) 10f else 0f) +
        (r.nextFloat() * 2 - 1) * noise)
    })
    val emb = spark.range(200).select(col("id").as("vec_id"),
        lit(0).as("label"), mkEmb(col("id")).as("embedding"))
      .localCheckpoint()
    val path = java.nio.file.Files
      .createTempDirectory("outlier-idx").toString + "/model"
    Similarity.buildOutlierIndex(emb, path)
    // the frozen screen over the TRAINING corpus flags exactly what the
    // in-frame fit flags (same centroids, same moments, same z-cut)
    val inFrame = Similarity.semanticOutliers(emb, k = 8, iters = 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val fromIdx = Similarity.outliersAgainstIndex(emb, path)
      .filter(col("is_outlier"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(inFrame.nonEmpty && fromIdx == inFrame,
      s"in-frame $inFrame vs indexed $fromIdx")
    // screen shape: every row gets a verdict, clean rows unflagged
    val all = Similarity.outliersAgainstIndex(emb, path)
    assert(all.count() == 200 &&
      all.filter(!col("is_outlier")).count() == 200 - inFrame.size)
    // frozen boundary: a batch of NEW garbage (same construction,
    // unseen ids) is flagged wholesale — the model didn't absorb it
    val garbage = spark.range(3).select(
      (col("id") * 50 + 1007L).as("vec_id"), lit(0).as("label"),
      mkEmb(col("id") * 50 + 1007L).as("embedding"))
    val gv = Similarity.outliersAgainstIndex(garbage, path)
    assert(gv.filter(col("is_outlier")).count() == 3, gv.collect().toSeq)
  }

  test("dsirWeights: target-likely docs outrank target-unlike; values match an independent recomputation") {
    val target = Seq(
      (0L, "spark shuffle join spark shuffle join"),
      (1L, "spark join agg shuffle"))
      .toDF("doc_id", "text")
    val cand = Seq(
      (10L, "spark shuffle join"),        // pure target vocabulary
      (11L, "llama vicuna alpaca"))       // disjoint from the target
      .toDF("doc_id", "text")
    val got = TextAnalysis.dsirWeights(target, cand).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got.keySet == Set(10L, 11L))
    assert(got(10L)._1 == 5L && got(11L)._1 == 5L) // 3 uni + 2 bi each
    // the ratio isolates domain signal: target vocabulary scores above,
    // disjoint vocabulary below (its target probability is pure floor)
    assert(got(10L)._3 > got(11L)._3)
    assert(!got.values.exists(v => v._2.isNaN || v._2.isInfinite))

    // Independent recomputation from the shared shingle stream (plain
    // Scala math with the engine's decimal discipline) — pins the
    // bucketing, smoothing, full-outer ratio and per-doc aggregation.
    val B = 1024L
    def feats(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      (Dedup.hashedShingles(df, 1).collect() ++
        Dedup.hashedShingles(df, 2).collect())
        .map(r => (r.getLong(0), ((r.getLong(2) % B) + B) % B)).toSeq
    val tf = feats(target).groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val sfAll = feats(cand)
    val sf = sfAll.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val (nt, ns) = (tf.values.sum.toDouble, sf.values.sum.toDouble)
    def lr(f: Long): BigDecimal = BigDecimal(
      math.log((tf.getOrElse(f, 0L) + 1.0) / (nt + 1024.0)) -
        math.log((sf.getOrElse(f, 0L) + 1.0) / (ns + 1024.0)))
      .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    sfAll.groupBy(_._1).foreach { case (doc, fs) =>
      val s = fs.map(x => lr(x._2)).sum
      val expSum = (s.setScale(4, BigDecimal.RoundingMode.HALF_UP)).toDouble
      val expMean = (s / fs.size).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(got(doc)._2 - expSum) < 1e-9, s"doc $doc sum")
      assert(math.abs(got(doc)._3 - expMean) < 1e-9, s"doc $doc mean")
    }
  }

  test("blocklistGate: case-insensitive token fractions, tolerance boundary inclusive") {
    val d = Seq(
      (0L, "clean words only here"),
      (1L, "one BAD word in twenty tokens a b c d e f g h i j k l m n"),
      (2L, "bad bad bad good"),
      (3L, "badge embedded stays unflagged"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.blocklistGate(d, Seq("bad"), maxFraction = 0.05)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
      .toMap
    assert(out(0L) == (4L, 0L, 0.0, true))
    // exactly at the 0.05 boundary: 1/20 — kept (inclusive), and the
    // uppercase hit counts (case-insensitive)
    assert(out(1L) == (20L, 1L, 0.05, true))
    assert(out(2L) == (4L, 3L, 0.75, false))
    // whole-token membership — substrings never match
    assert(out(3L) == (4L, 0L, 0.0, true))
  }

  test("dsirWeightsIndexed equals the in-frame form over the same target") {
    val target = Seq(
      (0L, "spark shuffle join spark shuffle join"),
      (1L, "spark join agg shuffle"))
      .toDF("doc_id", "text")
    val cand = Seq(
      (10L, "spark shuffle join"),
      (11L, "llama vicuna alpaca"),
      (12L, "spark llama shuffle vicuna"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-dsir")
      .toString + "/idx"
    TextAnalysis.buildDsirIndex(target, dir)
    val indexed = TextAnalysis.dsirWeightsIndexed(spark, dir, cand)
      .collect().toSeq
    val inframe = TextAnalysis.dsirWeights(target, cand).collect().toSeq
    assert(indexed === inframe)
    // the model is genuinely bounded: one row per observed bucket
    val model = spark.read.parquet(dir)
    assert(model.count() <= 1024 &&
      model.select("buckets").head().getInt(0) == 1024)
  }

  test("token stats and fingerprints are deterministic") {
    val t = TextAnalysis.tokenStats(docs).head()
    assert(t.getAs[Int]("n_tokens") == 12)
    val f1 = TextAnalysis.fingerprint(docs).collect()
    val f2 = TextAnalysis.fingerprint(docs).collect()
    assert(f1.sameElements(f2))
  }

  test("cosine: orthogonal → 0, identical → 1") {
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f), 0), (1L, Seq(0f, 1f, 0f), 0),
      (2L, Seq(1f, 0f, 0f), 1), (3L, Seq(0.6f, 0.8f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    val top = Similarity.cosineTopK(emb, queryId = 0L, k = 3).collect()
    assert(top.head.getAs[Long]("vec_id") == 2L)
    assert(top.head.getAs[Double]("cosine") == 1.0)
    assert(top.map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cosine"))
      .toMap.apply(1L) == 0.0)
  }

  test("mmrTopK diversifies: a near-dup of the top pick defers to a distinct doc") {
    // v1/v2 point nearly the same way (sim ≈ 0.9995); v3 is slightly
    // less relevant but in a different plane (sim to v1 ≈ 0.88). Pure
    // relevance orders 1, 2, 3; MMR at 0.7/0.3 must pick the distinct
    // v3 at step 2 (0.7·0.9298 − 0.3·0.8834 ≈ 0.386 beats
    // 0.7·0.9401 − 0.3·0.9995 ≈ 0.358) and defer the near-dup v2.
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f), 0),
      (1L, Seq(0.95f, 0.312f, 0f), 0),
      (2L, Seq(0.94f, 0.341f, 0f), 0),
      (3L, Seq(0.93f, 0f, 0.368f), 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.mmrTopK(emb, queryId = 0L, k = 3, nCand = 3)
      .collect()
    assert(out.map(_.getAs[Long]("vec_id")).toSeq === Seq(1L, 3L, 2L))
    assert(out.map(_.getAs[Int]("rank")).toSeq === Seq(1, 2, 3))
    // Step 1 is the pure-relevance argmax, scored λ_rel·rel.
    val rel1 = out.head.getAs[Double]("relevance")
    assert(out.head.getAs[Double]("mmr_score") ===
      math.rint(0.7 * rel1 * 1e4) / 1e4)
    // mmr_score is strictly decreasing along the greedy trajectory.
    val scores = out.map(_.getAs[Double]("mmr_score")).toSeq
    assert(scores === scores.sorted.reverse)

    // λ_div = 0 degenerates to the pure relevance order.
    val pure = Similarity.mmrTopK(emb, queryId = 0L, k = 3, nCand = 3,
      lambdaRel = 1.0, lambdaDiv = 0.0).collect()
    assert(pure.map(_.getAs[Long]("vec_id")).toSeq === Seq(1L, 2L, 3L))
  }

  test("multiprobe LSH ANN finds the identical vector") {
    val emb = (0 until 32).map { i =>
      val v = Array.fill(8)(0f); v(i % 8) = 1f
      (i.toLong, v.toSeq, i % 4)
    }.toDF("vec_id", "embedding", "label")
    val top = Similarity.annTopK(emb, queryId = 0L, k = 5, numPlanes = 4,
      dim = 8, probe = 2).collect()
    assert(top.nonEmpty)
    assert(top.head.getAs[Double]("cosine") == 1.0) // vec 8/16/24 ≡ vec 0
  }

  test("IVF ANN finds the identical vector through probed lists") {
    val emb = (0 until 64).map { i =>
      val v = Array.fill(8)(0.1f); v(i % 8) = 1f
      (i.toLong, v.toSeq, i % 4)
    }.toDF("vec_id", "embedding", "label")
    val top = Similarity.annTopKIvf(emb, queryId = 0L, k = 5, nlist = 4,
      dim = 8, nprobe = 4).collect() // nprobe = nlist → exhaustive, recall 1
    assert(top.head.getAs[Double]("cosine") == 1.0) // vec 8/16/... ≡ vec 0
  }

  test("winnowed fingerprints: shared regions → shared fingerprints") {
    val fp = Dedup.winnowedFingerprints(docs).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues(_.map(_.getAs[Long]("fingerprint")).toSet).toMap
    assert(fp(0L) == fp(1L)) // identical docs → identical fingerprint sets
    val inter03 = fp(0L).intersect(fp(3L)).size.toDouble / fp(0L).union(fp(3L)).size
    val inter04 = fp(0L).intersect(fp(4L)).size.toDouble / fp(0L).union(fp(4L)).size
    assert(inter03 > inter04) // near-dup overlaps more than unrelated
    assert(inter04 == 0.0)
  }

  test("multimodal feature-extraction composes with similarity search") {
    val media = Multimodal.mediaFromDocuments(docs)
    val feats = Multimodal.extractFeatures(spark, media)
    assert(feats.schema("embedding").dataType.simpleString == "array<float>")
    // identical payloads → identical embeddings, found by brute-force ANN
    val emb = feats.withColumnRenamed("id", "vec_id")
      .withColumn("label", lit(0))
    val top = Similarity.cosineTopK(emb, queryId = 0L, k = 1).head()
    assert(top.getAs[Long]("vec_id") == 1L) // doc 1 is doc 0's exact dup
    assert(top.getAs[Double]("cosine") == 1.0)
  }

  test("multimodal resize and frame-sampling keep the batch shape") {
    val media = Multimodal.mediaFromDocuments(docs)
    val resized = Multimodal.resize(spark, media, 64, 64)
    assert(resized.count() == 5)
    assert(resized.head().getAs[Array[Byte]]("payload").length == 64)
    val frames = Multimodal.sampleFrames(spark, media, frameBytes = 16, stride = 2)
    assert(frames.count() > 5) // fan-out: multiple frames per payload
    assert(frames.groupBy("id").count().count() == 5)
  }

  test("multimodal decode plumbing: deterministic metadata per payload") {
    val media = Multimodal.mediaFromDocuments(docs)
    val meta = Multimodal.decodeMeta(spark, media).collect()
      .map(r => r.getAs[Long]("id") -> r).toMap
    assert(meta.size == 5)
    // identical payloads → identical fake metadata
    assert(meta(0L).toSeq.tail == meta(1L).toSeq.tail)
    assert(meta(0L).getAs[Int]("byte_len") ==
      docs.head().getAs[String]("text").getBytes("UTF-8").length)
    assert(Set("jpeg", "png").contains(meta(0L).getAs[String]("format")))
  }

  test("repetition stats: dup-word and top-gram shares are exact ratios") {
    // doc 0: 12 words, 'the'×2 + 'again'×2 → 10 distinct; 11 bigrams,
    // none repeated.
    val r = TextAnalysis.repetitionStats(docs).head()
    assert(r.getAs[Long]("n_words") == 12)
    assert(r.getAs[Double]("dup_word_frac") == math.round((1.0 - 10.0 / 12) * 1e4) / 1e4)
    assert(r.getAs[Double]("top_word_frac") == math.round(2.0 / 12 * 1e4) / 1e4)
    assert(r.getAs[Double]("top_bigram_frac") == math.round(1.0 / 11 * 1e4) / 1e4)
    // A one-word doc has no bigrams: its bigram share must be 0, not null.
    val single = Seq((9L, "solo")).toDF("doc_id", "text")
    val s = TextAnalysis.repetitionStats(single).head()
    assert(s.getAs[Long]("n_words") == 1)
    assert(s.getAs[Double]("top_bigram_frac") == 0.0)
    // Degenerate machine text: one token repeated → dup frac extreme.
    val spam = Seq((8L, "buy buy buy buy buy")).toDF("doc_id", "text")
    val p = TextAnalysis.repetitionStats(spam).head()
    assert(p.getAs[Double]("dup_word_frac") == 0.8)
    assert(p.getAs[Double]("top_word_frac") == 1.0)
    assert(p.getAs[Double]("top_bigram_frac") == 1.0)
  }

  test("gopher doc-quality battery: ratios, line fractions, stopword gate") {
    val fx = Seq(
      // 10 words, all alpha, two stopwords (the, with), 2 non-blank
      // lines, no bullets/ellipses/symbols → passes at minWords=5.
      1L -> "the quick brown fox\njumps right over with ten words",
      // Bullet and ellipsis lines: 4 non-blank lines, 2 bulleted
      // (- and *), 1 ellipsis-ended; '#' symbols; no stopwords → fails.
      2L -> "- first bullet item\n* second bullet here\nplain line kept\ntrailing thought...\n## ##",
      // Non-alpha words: 4 of 6 words have no letter → alpha 0.333.
      3L -> "12 34 ok 56 78 go",
      // Empty: all zeros, fails the word floor.
      4L -> "")
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherQualityStats(fx, minWords = 5,
        minStopwords = 2).collect().map(r => r.getLong(0) -> r).toMap
    def d(id: Long, c: String) = out(id).getAs[Double](c)
    assert(out(1L).getAs[Long]("n_words") == 10)
    assert(d(1L, "alpha_word_frac") == 1.0)
    assert(out(1L).getAs[Int]("stopword_hits") == 2)
    assert(out(1L).getAs[Boolean]("gopher_quality_ok"))
    assert(d(2L, "bullet_line_frac") == 0.4) // 2 of 5 non-blank lines
    assert(d(2L, "ellipsis_line_frac") == 0.2)
    assert(d(2L, "symbol_word_ratio") ==
      math.round(5.0 / 15 * 1e4) / 1e4) // four '#' + one '...' over 15 words
    assert(!out(2L).getAs[Boolean]("gopher_quality_ok"))
    assert(d(3L, "alpha_word_frac") == math.round(2.0 / 6 * 1e4) / 1e4)
    assert(!out(3L).getAs[Boolean]("gopher_quality_ok"))
    assert(out(4L).getAs[Long]("n_words") == 0L)
    assert(!out(4L).getAs[Boolean]("gopher_quality_ok"))
  }

  test("gopher n-gram battery: top-gram char fractions and dup-gram coverage") {
    val fx = Seq(
      // 7 tokens of len 2 (total 14): "ab cd"×3 → top2 = 12/14; the
      // 4-gram "ab cd ab cd"×2 → top4 = 16/14 > 1 (faithful overlap
      // semantics); no 5-gram repeats.
      1L -> "ab cd ab cd ab cd ef",
      // 13 single-char tokens; "a b c d e" at pos 0 and 8 → dup5
      // covers 10/13 positions; no 6-gram repeats.
      2L -> "a b c d e f g h a b c d e",
      // Degenerate two-token doc: top2 = 1.0, longer n-grams absent.
      3L -> "x y",
      // Empty: all zeros, gate passes.
      4L -> "",
      // 40 distinct len-3 tokens: top fracs tiny, dups zero → passes.
      5L -> (1 to 40).map(i => f"t$i%02d").mkString(" "))
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherNgramStats(fx).collect()
      .map(r => r.getLong(0) -> r).toMap
    def f(id: Long, c: String) = out(id).getAs[Double](c)
    def r4(x: Double) = math.round(x * 1e4) / 1e4
    assert(f(1L, "top_2gram_frac") == r4(12.0 / 14))
    assert(f(1L, "top_3gram_frac") == r4(12.0 / 14))
    assert(f(1L, "top_4gram_frac") == r4(16.0 / 14)) // > 1.0 by design
    assert(f(1L, "dup_5gram_frac") == 0.0)
    assert(!out(1L).getAs[Boolean]("gopher_ngram_ok"))
    assert(f(2L, "dup_5gram_frac") == r4(10.0 / 13))
    assert(f(2L, "dup_6gram_frac") == 0.0)
    assert(f(2L, "top_2gram_frac") == r4(4.0 / 13))
    assert(f(3L, "top_2gram_frac") == 1.0)
    assert(f(3L, "top_3gram_frac") == 0.0) // no 3-grams in a 2-token doc
    assert(out(4L).toSeq.tail == Seq.fill(9)(0.0) :+ true)
    assert(out(5L).getAs[Boolean]("gopher_ngram_ok"))
    assert(f(5L, "top_2gram_frac") == r4(6.0 / 120))
  }

  test("frequent n-grams: document frequency over hashes, text joined back") {
    // Five bigrams survive df ≥ 4 across the fixture's first four docs;
    // doc 2's punctuation ('fox,' / 'again!') splits its other variants
    // and doc 4 shares nothing.
    val out = TextAnalysis.frequentNgrams(docs, n = 2, minDf = 4).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("again and", 4L), ("jumps over", 4L),
      ("over the", 4L), ("quick brown", 4L), ("the lazy", 4L)))
    // a gram repeated within one doc still counts once toward df
    val rep = Seq((0L, "x y x y x y"), (1L, "x y z")).toDF("doc_id", "text")
    val df2 = TextAnalysis.frequentNgrams(rep, n = 2, minDf = 2).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(df2.toSeq == Seq(("x y", 2L)))
  }

  test("cross-corpus bigram LM: in-distribution scores higher; unseen grams floor at log(1/V)") {
    def round4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ref = Seq((0L, "the cat sat on the mat")).toDF("doc_id", "text")
    val cand = Seq(
      (10L, "the cat sat"), // in-distribution
      (11L, "purple quantum blender")) // fully out-of-distribution
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogProbAgainst(ref, cand).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // reference: c1(the)=2, others 1; every bigram once; V = 5.
    // doc 10: "the cat" → (1+1)/(2+5), "cat sat" → (1+1)/(1+5)
    val exp10 = (math.log(2.0 / 7) + math.log(2.0 / 6)) / 2
    assert(out(10L)._1 == 2L && math.abs(out(10L)._2 - round4(exp10)) < 1e-9)
    // doc 11: both bigrams AND prefixes unseen → (0+1)/(0+5) each —
    // the finite smoothing floor, not -inf
    assert(out(11L)._1 == 2L &&
      out(11L)._2 == round4(math.log(1.0 / 5)))
    assert(out(10L)._2 > out(11L)._2)
  }

  test("perplexityBuckets cuts terciles per language on the scorer's own order") {
    val ref = Seq((0L, "the cat sat on the mat")).toDF("doc_id", "text")
    val cand = Seq(
      (10L, "the cat sat on the mat", "en"),
      (11L, "the cat sat on", "en"),
      (12L, "the cat sat qq", "en"),
      (13L, "the cat qq rr", "en"),
      (14L, "the qq rr ss", "en"),
      (15L, "qq rr ss tt", "en"),
      // A second language, fully out-of-distribution: its BEST scorer
      // must still land in ITS OWN head — thresholds are per-lang.
      (20L, "zz yy xx ww", "xx"),
      (21L, "zz yy qq rr ss", "xx"),
      (22L, "qq zz rr yy ss ww", "xx"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.perplexityBuckets(ref, cand).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getString(3)))
    // Bucket order must agree with the scorer's own order within each
    // language: no middle doc outscores a head doc, no tail outscores
    // a middle.
    val rank = Map("head" -> 0, "middle" -> 1, "tail" -> 2)
    out.groupBy(_._2).foreach { case (_, docs) =>
      for ((_, _, s1, b1) <- docs; (_, _, s2, b2) <- docs
           if rank(b1) < rank(b2))
        assert(s1 >= s2, s"$b1($s1) must outscore $b2($s2)")
    }
    val en = out.filter(_._2 == "en")
    assert(en.map(_._4).toSet === Set("head", "middle", "tail"))
    // 6 distinct en scores → exact 2/2/2 terciles.
    assert(en.map(_._3).distinct.length === 6)
    assert(en.groupBy(_._4).view.mapValues(_.length).toMap ===
      Map("head" -> 2, "middle" -> 2, "tail" -> 2))
    // The xx language buckets within ITS OWN population: every xx doc
    // is fully out-of-distribution, so all three tie at the smoothing
    // floor log(1/V) — and a fully-tied language collapses to 'head'
    // (>= on equal thresholds), never to 'tail'. Per-lang thresholds:
    // en's distinct scores still split 2/2/2 above.
    val xx = out.filter(_._2 == "xx")
    assert(xx.map(_._3).distinct.length === 1)
    assert(xx.map(_._4).toSet === Set("head"))
  }

  test("unigram log-prob: uniform corpus frequency → exact ln of the share") {
    val tiny = Seq((1L, "a a b"), (2L, "b")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProb(tiny).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // a and b both occur twice in a 4-word corpus: every word's
    // log-prob is ln(1/2), so both docs score round(ln(0.5), 4).
    val half = math.rint(math.log(0.5) * 1e4) / 1e4
    assert(out == Seq((1L, 3L, half), (2L, 1L, half)))
  }

  test("tf-idf top terms: scores and tie order match the hand computation") {
    val corpus = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "apple banana cherry durian")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(corpus, topK = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
    def s(tf: Int, df: Int) = math.rint(tf * math.log(3.0 / df) * 1e4) / 1e4
    assert(out.toSeq == Seq(
      (1L, 1, "apple", s(2, 2)), (1L, 2, "banana", 0.0),
      (2L, 1, "cherry", s(1, 2)), (2L, 2, "banana", 0.0),
      // apple and cherry tie at ln(3/2): term order breaks it
      (3L, 1, "durian", s(1, 1)), (3L, 2, "apple", s(1, 2)),
      (3L, 3, "cherry", s(1, 2))))
  }

  test("mixture sample: integer weights exact, fractional bounded, zero drops") {
    val corpus = (0L until 300L).map { i =>
      (i, if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c")
    }.toDF("doc_id", "stratum")
    val out = Sampling.mixtureSample(corpus, col("stratum"), col("doc_id"),
      Map("a" -> 2.0, "b" -> 0.0), default = 1.5)
    val byStratum = out.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStratum("a") == 200) // exactly 2 epochs per doc
    assert(!byStratum.contains("b")) // weight 0 drops the stratum
    val c = byStratum("c")
    assert(c >= 100 && c <= 200) // 1 full epoch + digest-coin half epoch
    // epoch numbers the copies from 1
    val epochs = out.filter(col("stratum") === "a")
      .groupBy("epoch").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(epochs == Map(1 -> 100, 2 -> 100))
    // pure function of the key: survivors identical on any layout
    val again = Sampling.mixtureSample(corpus.repartition(7),
      col("stratum"), col("doc_id"), Map("a" -> 2.0, "b" -> 0.0), 1.5)
      .orderBy("doc_id", "epoch").collect()
    assert(again.sameElements(
      out.orderBy("doc_id", "epoch").collect()))
  }

  test("temperature mixture: max stratum once, rare strata upsample by sqrt") {
    // 90/10 split: the big stratum's weight is exactly 1.0 (every row
    // once), the small one's is sqrt(90/10) = 3.0 exactly — integer, so
    // the digest coin never fires and the multiplicity is exact.
    val corpus = ((1L to 90L).map(i => (i, "big")) ++
      (91L to 100L).map(i => (i, "small"))).toDF("doc_id", "stratum")
    val out = Sampling.temperatureMixture(corpus, col("stratum"),
      col("doc_id"))
    val byS = out.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byS == Map("big" -> 90L, "small" -> 30L))
    // Fractional weight stays within its floor/ceil epoch bounds and is
    // a pure function of the key (layout-invariant).
    val skew = ((1L to 50L).map(i => (i, "big")) ++
      (51L to 58L).map(i => (i, "small"))).toDF("doc_id", "stratum")
    val s1 = Sampling.temperatureMixture(skew, col("stratum"),
      col("doc_id")).orderBy("doc_id", "epoch").collect()
    val small = s1.count(_.getString(1) == "small")
    assert(small >= 16 && small <= 24) // w = sqrt(50/8) = 2.5
    val s2 = Sampling.temperatureMixture(skew.repartition(7),
      col("stratum"), col("doc_id")).orderBy("doc_id", "epoch").collect()
    assert(s1.sameElements(s2))
    // NULL stratum matches no weight row → default weight 1.0, exactly
    // one copy (the mixtureSample `default` convention).
    val withNull = corpus.union(
      Seq((200L, null.asInstanceOf[String])).toDF("doc_id", "stratum"))
    val nulls = Sampling.temperatureMixture(withNull, col("stratum"),
        col("doc_id"))
      .filter(col("stratum").isNull).collect()
    assert(nulls.length == 1 && nulls(0).getInt(2) == 1)
  }

  test("token chunking covers every token once per window, tail exactly once") {
    val doc = Seq((1L, (0 until 10).map("t" + _).mkString(" ")))
      .toDF("doc_id", "text")
    val chunks = Sampling.chunkByTokens(doc, chunkTokens = 4, strideTokens = 3)
      .orderBy("chunk_id").collect()
    assert(chunks.map(_.getAs[String]("chunk")).toSeq == Seq(
      "t0 t1 t2 t3", "t3 t4 t5 t6", "t6 t7 t8 t9"))
    assert(chunks.map(_.getAs[Int]("n_tokens")).toSeq == Seq(4, 4, 4))
    // short doc → one whole-doc chunk; 5 tokens → tail chunk of 2
    val short = Seq((2L, "a b c"), (3L, "a b c d e")).toDF("doc_id", "text")
    val out = Sampling.chunkByTokens(short, 4, 3)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (2L, 0, 3, "a b c"), (3L, 0, 4, "a b c d"), (3L, 1, 2, "d e")))
  }

  test("train_prep chains curation, mixture, chunking and packing exactly") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog", "en"),
      (1L, "the quick brown fox jumps over the lazy dog", "en"), // exact dup
      (2L, "completely different content about spark engines running at scale", "en"),
      (3L, "zz", "de")) // < 5 tokens → poor quality
      .toDF("doc_id", "text", "lang")
    val eval_ = Seq((100L, "nothing in common here at all whatsoever friends"))
      .toDF("doc_id", "text")
    val out = graft.ext.CorpusPrep.trainPrep(corpus, eval_,
        weights = Map("en" -> 2.0), chunkTokens = 4, strideTokens = 3,
        maxTokens = 8).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // Survivors 0 and 2 (dup 1 and low-quality 3 drop), each chunked to
    // (4, 4, 3) tokens and doubled by the en ×2 mixture; greedy packing
    // of the 12-chunk stream at 8 tokens gives these six sequences.
    assert(out.toSeq == Seq(
      ("en", 0L, 2L, 8L), ("en", 1L, 3L, 11L), ("en", 2L, 2L, 7L),
      ("en", 3L, 2L, 7L), ("en", 4L, 2L, 8L), ("en", 5L, 1L, 3L)))
  }

  test("semantic dedup groups exact copies and keeps the min id per group") {
    val e1 = Seq(1f, 0f, 0f, 0f)
    val e2 = Seq(0f, 1f, 0f, 0f)
    val e3 = Seq(0f, 0f, 1f, 0f)
    val emb = Seq((0L, e1), (1L, e1), (2L, e1), (3L, e2), (4L, e2), (5L, e3))
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(emb, threshold = 0.9, k = 2,
        iters = 2, dim = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq == Seq((0L, 0L, true), (1L, 0L, false), (2L, 0L, false),
      (3L, 3L, true), (4L, 3L, false), (5L, 5L, true)))
  }

  test("multi-assignment semantic dedup recovers pairs straddling a cell boundary") {
    // Constructed geometry: two unit-axis centroids, a near-dup pair
    // (cos ≈ 0.9985) split across the boundary between them, one anchor
    // squarely inside each cell.
    val cs = Seq(Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 0f, 0f))
    val emb = Seq(
      (0L, Seq(0.74f, 0.70f, 0f, 0f)), // best cell 0, second-best 1
      (1L, Seq(0.70f, 0.74f, 0f, 0f)), // best cell 1, second-best 0
      (10L, Seq(1f, 0f, 0f, 0f)),
      (11L, Seq(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    // element 0 of the top-2 assignment IS the single assignment
    val agree = emb.select(
        (Similarity.cellsFor(col("embedding"), cs, 2).getItem(0) ===
          Similarity.cellFor(col("embedding"), cs)).as("ok")).collect()
    assert(agree.forall(_.getBoolean(0)))
    // single assignment: 0 and 1 sit in different cells → pair missed
    val single = Similarity.semanticDedupAssigned(emb, cs, threshold = 0.95,
        assignments = 1).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(single.toMap == Map(0L -> 0L, 1L -> 1L, 10L -> 10L, 11L -> 11L))
    // top-2 assignment: both boundary vectors land in both cells → the
    // pair is compared (in two cells; the edge distinct collapses it)
    // and groups under the min id. Anchors stay singleton groups.
    val multi = Similarity.semanticDedupAssigned(emb, cs, threshold = 0.95,
        assignments = 2).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(multi.toMap == Map(0L -> 0L, 1L -> 0L, 10L -> 10L, 11L -> 11L))
    // the multi-assignment is boundary-CONDITIONAL at the default eps:
    // the straddling pair is dual-assigned (cos gap ~0.039 < 0.1), the
    // anchors are not (gap 1.0) — the pair-space cost tracks the
    // boundary population, not the corpus
    val assigned = Similarity.assignedCells(emb, cs, 2, 0.1)
      .groupBy("vec_id").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(assigned === Map(0L -> 2L, 1L -> 2L, 10L -> 1L, 11L -> 1L))
  }

  test("appendIvfIndex equals a from-scratch rebuild") {
    // Index rows are independent (vector, norm, seeded-quantizer cell),
    // so appending new vectors into the cell= partitions must be
    // indistinguishable from rebuilding over the union.
    val emb = (0L until 40L).map(i => (i, (i % 3).toInt,
        Seq.tabulate(4)(j => math.sin(i.toDouble * 7 + j).toFloat)))
      .toDF("vec_id", "label", "embedding")
    val incDir = java.nio.file.Files
      .createTempDirectory("ivf-inc").toString + "/idx"
    val fullDir = java.nio.file.Files
      .createTempDirectory("ivf-full").toString + "/idx"
    Similarity.buildIvfIndex(emb.filter(col("vec_id") < 20), incDir,
      nlist = 4, dim = 4)
    Similarity.appendIvfIndex(emb.filter(col("vec_id") >= 20), incDir,
      nlist = 4, dim = 4)
    Similarity.buildIvfIndex(emb, fullDir, nlist = 4, dim = 4)
    val (qv, qn) = Similarity.lookupVec(spark, incDir, 0L)
    val inc = Similarity.annTopKIndexed(spark, incDir, qv, qn, k = 10,
      nprobe = 2).collect().toSeq
    val full = Similarity.annTopKIndexed(spark, fullDir, qv, qn, k = 10,
      nprobe = 2).collect().toSeq
    assert(inc.nonEmpty && inc === full)
    // self-initializing: append into an absent index builds it
    val coldDir = java.nio.file.Files
      .createTempDirectory("ivf-cold").toString + "/idx"
    Similarity.appendIvfIndex(emb, coldDir, nlist = 4, dim = 4)
    val cold = Similarity.annTopKIndexed(spark, coldDir, qv, qn, k = 10,
      nprobe = 2).collect().toSeq
    assert(cold === full)
    // replay idempotence: the same batch re-appended under the SAME
    // ingest id overwrites its own partition — no duplicate vectors
    Similarity.appendIvfIndex(emb.filter(col("vec_id") >= 20), incDir,
      nlist = 4, dim = 4, ingestId = 1L)
    Similarity.appendIvfIndex(emb.filter(col("vec_id") >= 20), incDir,
      nlist = 4, dim = 4, ingestId = 1L)
    assert(Similarity.annTopKIndexed(spark, incDir, qv, qn, k = 10,
      nprobe = 2).collect().toSeq === full)
    assert(spark.read.parquet(incDir).count() === 40L)
  }

  test("compactIvfIndex folds ingests into the base; folded replays no-op") {
    val emb = (0L until 40L).map(i => (i, (i % 3).toInt,
        Seq.tabulate(4)(j => math.sin(i.toDouble * 7 + j).toFloat)))
      .toDF("vec_id", "label", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("ivf-compact").toString + "/idx"
    Similarity.buildIvfIndex(emb.filter(col("vec_id") < 20), dir,
      nlist = 4, dim = 4)
    Similarity.appendIvfIndex(emb.filter(col("vec_id") >= 20 &&
      col("vec_id") < 30), dir, nlist = 4, dim = 4, ingestId = 1L)
    Similarity.appendIvfIndex(emb.filter(col("vec_id") >= 30), dir,
      nlist = 4, dim = 4, ingestId = 2L)
    val (qv, qn) = Similarity.lookupVec(spark, dir, 0L)
    def top(d: String) = Similarity.annTopKIndexed(spark, d, qv, qn,
      k = 10, nprobe = 2).collect().toSeq
    val before = top(dir)
    assert(Similarity.compactIvfIndex(spark, dir))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(graft.ext.IndexStamp.ingestIds(fs,
      new org.apache.hadoop.fs.Path(dir)) === Set(0L))
    assert(top(dir) === before)
    assert(spark.read.parquet(dir).count() === 40L)
    // compacted == rebuilt
    val fullDir = java.nio.file.Files
      .createTempDirectory("ivf-compact-full").toString + "/idx"
    Similarity.buildIvfIndex(emb, fullDir, nlist = 4, dim = 4)
    assert(top(dir) === top(fullDir))
    // a folded-id replay no-ops (no duplicate vectors), a new auto-id
    // append skips past the folded namespace and lands
    Similarity.appendIvfIndex(emb.filter(col("vec_id") >= 30), dir,
      nlist = 4, dim = 4, ingestId = 2L)
    assert(spark.read.parquet(dir).count() === 40L)
    Similarity.appendIvfIndex(
      Seq((99L, 0, Seq(1f, 0f, 0f, 0f))).toDF("vec_id", "label", "embedding"),
      dir, nlist = 4, dim = 4)
    assert(graft.ext.IndexStamp.ingestIds(fs,
      new org.apache.hadoop.fs.Path(dir)) === Set(0L, 3L))
    assert(spark.read.parquet(dir).count() === 41L)
    // already-compact after a re-compact → no-op
    assert(Similarity.compactIvfIndex(spark, dir))
    assert(!Similarity.compactIvfIndex(spark, dir))
    assert(spark.read.parquet(dir).count() === 41L)
  }

  test("semanticNovelAgainstIndex screens a batch against the standing corpus") {
    // Index holds two axis vectors; the batch brings a near-copy of the
    // first and a genuinely new direction. nprobe = nlist so the test
    // exercises the verdict logic, not IVF recall.
    val corpus = Seq((0L, 0, Seq(1f, 0f, 0f, 0f)), (1L, 0, Seq(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "label", "embedding")
    val idx = java.nio.file.Files
      .createTempDirectory("sem-novel").toString + "/idx"
    Similarity.buildIvfIndex(corpus, idx, nlist = 4, dim = 4)
    val batch = Seq((10L, 0, Seq(0.99f, 0.05f, 0f, 0f)),
        (11L, 0, Seq(0f, 0f, 1f, 0f)))
      .toDF("vec_id", "label", "embedding")
    val out = Similarity.semanticNovelAgainstIndex(batch, idx,
        threshold = 0.95, nprobe = 4)
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        Option(r.get(3)).map(_.asInstanceOf[Long])))
    assert(out.toSeq === Seq((10L, false, Some(0L)), (11L, true, None)))
  }

  test("spherical k-means separates clusters and improves the objective") {
    val rng = new scala.util.Random(3)
    val emb = (0 until 200).map { i =>
      val base = Array.fill(8)(0f)
      base(if (i % 2 == 0) 0 else 4) = 1f
      val v = base.map(x => x + rng.nextGaussian().toFloat * 0.05f)
      (i.toLong, v.toSeq, i % 2)
    }.toDF("vec_id", "embedding", "label")
    val cs = Similarity.kmeansFit(emb, k = 2, iters = 4, dim = 8, seed = 7L)
    // the two fitted centroids point at the two planted directions
    val dirs = cs.map(_.zipWithIndex.maxBy(_._1.toDouble)._2).toSet
    assert(dirs == Set(0, 4))
    // fitted objective beats the seeded centroids' (iters = 0)
    def objective(iters: Int): Double =
      Similarity.kmeansClusters(emb, k = 2, iters = iters, dim = 8)
        .collect().map(r => r.getAs[Long]("n_vecs") * r.getAs[Double]("mean_cos"))
        .sum
    assert(objective(4) > objective(0))
    // partition-invariant: decimal sums make the fit exact
    val a = Similarity.kmeansClusters(emb, k = 2, iters = 4, dim = 8).collect()
    val b = Similarity.kmeansClusters(emb.repartition(13), k = 2, iters = 4,
      dim = 8).collect()
    assert(a.sameElements(b))
  }

  test("semanticOutliers flags planted far-from-centroid vectors and only those") {
    val rng = new scala.util.Random(5)
    // two tight clusters + two planted garbage vectors pointing nowhere
    val tight = (0 until 100).map { i =>
      val base = Array.fill(8)(0f)
      base(if (i % 2 == 0) 0 else 4) = 1f
      (i.toLong, base.map(x => x + rng.nextGaussian().toFloat * 0.03f).toSeq,
        i % 2)
    }
    val garbage = Seq(
      (500L, Seq(0.4f, -0.5f, 0.6f, -0.2f, 0.4f, 0.3f, -0.6f, 0.2f), 9),
      (501L, Seq(-0.3f, 0.6f, -0.4f, 0.5f, -0.2f, -0.6f, 0.3f, 0.4f), 9))
    val emb = (tight ++ garbage).toDF("vec_id", "embedding", "label")
    val out = Similarity.semanticOutliers(emb, k = 2, iters = 4, dim = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(4)))
    assert(out.map(_._1).toSet == Set(500L, 501L),
      s"flagged: ${out.map(_._1).toSeq}")
    assert(out.forall(_._2 < -2.0)) // z below the cut by construction
    // determinism across partitionings (decimal moments)
    val again = Similarity.semanticOutliers(emb.repartition(13), k = 2,
      iters = 4, dim = 8).collect().map(r => (r.getLong(0), r.getDouble(4)))
    assert(out.sameElements(again))
  }

  test("sampled k-means training is deterministic and equals the explicit-sample fit") {
    // 300 vectors, cap 100 — sampling genuinely restricts the training
    // set; the fit must be a pure function of corpus CONTENTS.
    val emb = (0L until 300L).map(i => (i, (i % 3).toInt,
        Seq.tabulate(8)(j => math.sin(i.toDouble * 13 + j).toFloat)))
      .toDF("vec_id", "label", "embedding")
    val a = Similarity.kmeansFit(emb, k = 4, iters = 3, dim = 8,
      sampleCap = 100)
    // the sample IS the 100 lowest-(xxhash64(id), id) rows: training on
    // that explicit frame with sampling disabled gives the same fit
    val sample = emb.orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(100)
    assert(a == Similarity.kmeansFit(sample, k = 4, iters = 3, dim = 8,
      sampleCap = 0))
    // partition-invariant (TakeOrdered total order + fixed-point sums)
    assert(a == Similarity.kmeansFit(emb.repartition(7), k = 4, iters = 3,
      dim = 8, sampleCap = 100))
    // sampling restricted the training set (the full-corpus fit differs)
    assert(a != Similarity.kmeansFit(emb, k = 4, iters = 3, dim = 8,
      sampleCap = 0))
    // a corpus at/under the cap trains exactly as the unsampled fit
    // (default cap 256·k = 1024 ≥ 300)
    assert(Similarity.kmeansFit(emb, k = 4, iters = 3, dim = 8) ==
      Similarity.kmeansFit(emb, k = 4, iters = 3, dim = 8, sampleCap = 0))
  }

  test("dropRepeatedSpans removes a re-occurring 3-gram block greedily") {
    import graft.ext.TextAnalysis
    val docs = Seq(
        (1L, "a b c a b c"),          // exact phrase repeat
        (2L, "x y z w x y z"),        // repeat not block-aligned
        (3L, "p q"),                  // shorter than the gram
        (4L, "t t t t t t t"))        // degenerate all-same token
      .toDF("doc_id", "text")
    val out = TextAnalysis.dropRepeatedSpans(docs, n = 3).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) === ("a b c", 1L))
    // doc 2: grams seen at cursors 0..3; cursor 4 restarts "x y z" → skip
    assert(out(2L) === ("x y z w", 1L))
    // too short to hold one gram: unchanged, nothing dropped
    assert(out(3L) === ("p q", 0L))
    // all-same tokens: cursor 0 records (t,t,t) and emits one t; every
    // later cursor sees that gram and skips 3 — 7 tokens collapse to 1
    val (t4, d4) = out(4L)
    assert(d4 === 2L && t4 === "t")
  }

  test("dropRepeatedSpans leaves repeat-free text untouched") {
    import graft.ext.TextAnalysis
    val docs = Seq((1L, "the quick brown fox jumps over lazy dog"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.dropRepeatedSpans(docs, n = 3).collect().head
    assert(r.getString(1) === "the quick brown fox jumps over lazy dog")
    assert(r.getLong(2) === 0L)
  }
}
