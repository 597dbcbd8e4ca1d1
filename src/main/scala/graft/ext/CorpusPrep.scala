package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end training-corpus preparation — the composition the rest of
  * `ext` exists for: quality screen, exact dedup, near-dup clustering,
  * and benchmark-contamination removal in one audited job, emitting one
  * row per document with every verdict and the final keep decision.
  *
  * Survivor selection is STAGED: quality and contamination verdicts come
  * first, and each exact-digest group / near-dup cluster then keeps its
  * minimum ELIGIBLE doc. Independent verdicts AND-ed together would
  * silently delete content whose designated survivor happens to fail
  * another filter (cluster {5, 9}: 5 contaminated, 9 clean — naive
  * composition drops both; staged keeps 9). Content dies only when
  * every copy is ineligible.
  *
  * The audit columns stay INDEPENDENT verdicts (what would each filter
  * remove on its own — the numbers a curation report needs); only `kept`
  * uses the staged logic.
  *
  * Note on passes: every shingle consumer — near-dup clustering, the
  * contamination, span and fuzzy screens, containment, repetition —
  * rides ONE `localCheckpoint`ed [[Dedup.hashedShingles]] pass. The
  * round-13 A/B against re-running the compiled, scan-bound hash pass
  * per consumer put the share ahead at every measured size warm (sf0.1
  * 4705-doc corpus 3.7→3.3 s, 400k-doc synthetic 17.2→9.8 s) and
  * at-or-ahead cold (9.1→4.0 s; synthetic within noise; SCALE.md): the
  * checkpoint holds only (doc_id, h) — 16 bytes × shingle count,
  * spillable — and replaces a full corpus re-read + re-tokenize +
  * re-hash. On a cluster, swap for reliable `checkpoint()` to also
  * survive executor loss.
  */
object CorpusPrep {

  /** @param docs     corpus with (doc_id, text)
    * @param evalDocs held-out eval set with (doc_id, text) — contamination
    *                 reference; pass an empty frame to skip
    * @param blocklist stage-1 row-local blocklist screen
    *                 ([[TextAnalysis.blocklistGate]]): docs whose
    *                 blocked-token fraction exceeds
    *                 `blocklistMaxFraction` become ineligible. Empty
    *                 (default) = screen off, `is_blocked` all-false.
    * @param containmentThreshold widen the near-dup cluster graph with
    *                 asymmetric containment edges
    *                 ([[Dedup.containmentPairs]] at this threshold): a
    *                 quoted passage and its container rarely clear a
    *                 Jaccard threshold but are the same content for
    *                 survivor purposes. None (default) = Jaccard-only
    *                 graph. (The winnow pipeline needs shingle
    *                 POSITIONS, so turning this on keeps `pos` in the
    *                 shared shingle checkpoint and all three shingle
    *                 consumers ride one corpus pass.)
    * @param embeddings embedding table (vec_id aligned with doc_id) for
    *                 the semantic outlier screen
    *                 ([[Similarity.semanticOutliers]]): flagged docs
    *                 become ineligible — embedding-space garbage text
    *                 screens can't see. None (default) = screen off,
    *                 `is_outlier` all-false.
    * @param outlierZ z-cut for the outlier screen
    * @param repetitionMaxDupFrac intra-document repetition veto (the
    *                 Gopher-style duplicate-block signal,
    *                 [[screenIncremental]]'s stage 5b brought to the
    *                 batch path so batch backfill and streaming ingest
    *                 screen IDENTICALLY): a doc whose duplicate-3-gram
    *                 fraction exceeds the threshold becomes ineligible.
    *                 Copy-paste stutter passes every OTHER screen —
    *                 quality-clean, novel to every dedup index (its
    *                 grams repeat within itself, not across docs) — so
    *                 without this knob the batch composite admits docs
    *                 the incremental path vetoes. Rides the shared
    *                 shingle checkpoint: zero extra corpus scans. A doc
    *                 with < 3 tokens has no grams, hence no verdict,
    *                 and never flags. None (default) = screen off,
    *                 `repetition_ok` all-true.
    * @param contamSpanMinRun SPAN-level contamination veto (the
    *                 consecutive-overlap rule, [[screenIncremental]]'s
    *                 stage 4b brought to the batch path — the second
    *                 half of the composites' symmetry contract, the
    *                 repetition veto's mirror): a doc sharing a
    *                 contiguous run of at least this many tokens with
    *                 the eval set becomes ineligible even when its
    *                 scattered-gram count stays under
    *                 `contaminationMinShared` (a short verbatim
    *                 benchmark quote inside a long document — the
    *                 doc-level screen's blind spot; ExtSpec pins the
    *                 contrast both ways). Stop-grams are EVAL-side df
    *                 ≤ 20, matching the indexed screen so both paths
    *                 flag identically ([[Contamination.spanOverlapRaw]]
    *                 vs [[Contamination.spanContaminationAgainstIndex]]).
    *                 Rides the shared shingle checkpoint (which keeps
    *                 `pos` when this screen is on): zero extra corpus
    *                 scans. A doc with < 3 tokens has no grams and
    *                 never flags. None (default) = screen off,
    *                 `contam_span_run` null, `span_ok` all-true.
    * @param contamNeardupThreshold FUZZY contamination veto (the
    *                 family's third rule brought to the batch path,
    *                 completing the composites' three-rule symmetry):
    *                 a doc whose shingle-set Jaccard to ANY eval doc
    *                 reaches this threshold becomes ineligible — the
    *                 paraphrased or lightly-edited benchmark copy whose
    *                 exact 3-grams are broken (both gram rules miss it;
    *                 enough shingles survive). The polarity-flipped
    *                 [[Dedup.minhashDupIds]] against the eval set,
    *                 riding the shared shingle checkpoint (MinHash
    *                 needs the same (doc_id, h) stream): zero extra
    *                 corpus scans. A doc or eval doc with < 3 tokens
    *                 has no shingles and never flags; an empty eval
    *                 set flags nothing. None (default) = screen off,
    *                 `neardup_ok` all-true.
    * @param contamNeardupBroadcastEval plan shape for the fuzzy veto
    *                 (default true — the broadcastCorpus plan: the
    *                 eval set is benchmark-sized at every corpus size,
    *                 stage 4c's rationale, so its bands and sets
    *                 broadcast and the veto adds no corpus-sized
    *                 exchange; measured 1.6× over the merge shape at
    *                 2M, SCALE.md r18). Pass false for an eval set
    *                 past broadcast size — the co-partitioned merge
    *                 fallback, verdict-identical (ExtSpec pin), the
    *                 same escape hatch the indexed twin's
    *                 `broadcastIndex` knob provides.
    * @param gopherGate full Gopher DOC-quality battery as a stage-1
    *                 veto (r18 — [[TextAnalysis.gopherQualityOkCol]]
    *                 at the config's thresholds): the published word/
    *                 mean-length/symbol/bullet/ellipsis/alpha/stopword
    *                 rules join `quality_ok`'s 2-signal pre-gate in
    *                 the SAME row-local checkpointed projection — zero
    *                 extra corpus scans, no new exchange. None
    *                 (default) = screen off, `gopher_ok` all-true.
    * @param sorted   order the verdict frame by doc_id (deterministic
    *                 presentation — the oracle queries' contract). A
    *                 production caller writing verdicts onward passes
    *                 false and skips the corpus-wide range shuffle the
    *                 sort costs; every verdict is already final at the
    *                 window stage.
    * @return one row per doc: quality_ok, is_blocked, is_exact_dup
    *         (non-canonical copy, independent verdict), is_near_dup
    *         (cluster non-survivor, independent verdict),
    *         is_contaminated, is_outlier, dup_3gram_frac /
    *         repetition_ok, contam_span_run / span_ok, neardup_ok,
    *         gopher_ok, and
    *         `kept` = eligible AND the minimum eligible doc of both its
    *         digest group and its (possibly containment-widened)
    *         cluster
    */
  def prepare(docs: DataFrame, evalDocs: DataFrame,
              nearDupThreshold: Double = 0.5,
              contaminationMinShared: Int = 5,
              blocklist: Seq[String] = Seq.empty,
              blocklistMaxFraction: Double = 0.0,
              containmentThreshold: Option[Double] = None,
              embeddings: Option[DataFrame] = None,
              outlierZ: Double = 2.0,
              repetitionMaxDupFrac: Option[Double] = None,
              contamSpanMinRun: Option[Int] = None,
              contamNeardupThreshold: Option[Double] = None,
              contamNeardupBroadcastEval: Boolean = true,
              gopherGate: Option[TextAnalysis.GopherGateConfig] = None,
              sorted: Boolean = true): DataFrame = {
    // One compiled shingle pass, shared by the near-dup clustering and
    // the contamination screen (hashedShingles' pos column is pruned
    // before the checkpoint; neither consumer needs it). Lazy checkpoint
    // (eager=false): no Spark job fires at call time — the first
    // consumer's action materializes the blocks, the second reuses them.
    // The executor-local blocks live until the checkpointed RDD is
    // GC-reclaimed on the driver (ContextCleaner), so repeated prepare()
    // calls in one session release earlier passes as their plans go out
    // of scope rather than pinning them for the session's lifetime.
    // With the containment screen on, the winnow stage needs shingle
    // POSITIONS (window minima depend on document order) — and so does
    // the span-contamination screen (runs are positional) — so the
    // checkpoint keeps `pos` (+4 bytes/shingle) when either is on and
    // feeds every shingle consumer — near-dup, contamination,
    // containment, spans, repetition — from one corpus pass; otherwise
    // pos is pruned as before.
    val keepPos = containmentThreshold.isDefined || contamSpanMinRun.isDefined
    // Widen an under-parallel corpus scan before the two CPU-heavy
    // text passes below (stage 1's fused projection and the shared
    // shingle pass): a small/single-row-group input otherwise runs both
    // on ONE task and serializes the whole composite on one core. No-op
    // at scale ([[Parallelism.widen]]).
    // CompositeBytesPerTask, not the leaf default: the widened frame is
    // checkpointed and re-consumed by every downstream screen job, so
    // the per-partition floor must cover that multiplied scheduling
    // cost ([[Parallelism.CompositeBytesPerTask]]).
    val docsWide = Parallelism.widen(docs, Parallelism.CompositeBytesPerTask)
    val sharedShingles = {
      // Composite floor here too: this stream is checkpointed and
      // re-consumed by up to six screen families' jobs, the same
      // multiplied-scheduling argument as the text checkpoint.
      val base = Dedup.hashedShingles(docsWide, 3,
        widenPerTaskBytes = Parallelism.CompositeBytesPerTask)
      (if (keepPos) base else base.select("doc_id", "h"))
        .localCheckpoint(eager = false)
    }
    // ONE corpus set AGGREGATE shared by the set consumers (r19,
    // [[screenIncremental]]'s one-set-aggregate contract on the batch
    // path): when the repetition veto and/or the fuzzy contamination
    // veto are configured, the repetition fraction, the veto's
    // corpus-side sets, and the clusterer's banding signatures all
    // derive from this (doc_id, shset, n_grams) checkpoint — replacing
    // a two-exchange countDistinct, a dedicated collect_set pass, and
    // the sketch aggregate with one aggregate + row-local projections.
    // Deliberately NOT built otherwise: a collect_set aggregate
    // shuffles full partial sets where the sketch aggregate ships a
    // fixed 32-long buffer, so the set form only wins when the sets
    // already exist for another consumer (minhashNearDupPairs' sets
    // seam documents the same rule).
    val sharedSets =
      if (repetitionMaxDupFrac.isDefined || contamNeardupThreshold.isDefined)
        Some(sharedShingles.select(col("doc_id"), col("h"))
          .groupBy("doc_id")
          .agg(collect_set(col("h")).as("shset"),
            count(lit(1)).as("n_grams"))
          .localCheckpoint(eager = false))
      else None

    // Stage 1 — row-local verdicts + content digest, FUSED into one
    // corpus scan: quality, blocklist, and the digest are all per-row
    // expressions, so projecting them together replaces three separate
    // corpus scans + two joins (plan-measured below in PlanGuardSpec;
    // at 100 TB every avoided corpus scan is the win).
    val blockedCol =
      if (blocklist.isEmpty) lit(false)
      else {
        val (_, _, frac) = TextAnalysis.blocklistCols(col("text"), blocklist)
        frac > blocklistMaxFraction
      }
    // Lazy checkpoint (~33 bytes/doc): the frame feeds BOTH the flagged
    // join and the exact-dup star edges inside the clustering, and a
    // recompute would re-read the full text column from parquet for
    // each consumer.
    val stage1 = docsWide.select(
      col("doc_id"),
      TextAnalysis.qualityOkCol(col("text")).as("quality_ok"),
      blockedCol.as("is_blocked"),
      // The full Gopher doc-quality battery (r18) fuses into the SAME
      // row-local projection as the 2-signal pre-gate — zero extra
      // scans, one more boolean in the checkpoint.
      gopherGate.map(cfg =>
          TextAnalysis.gopherQualityOkCol(col("text"), cfg))
        .getOrElse(lit(true)).as("gopher_ok"),
      Dedup.digest(col("text")).as("content_digest"))
      .localCheckpoint(eager = false)
    val contaminated = Contamination
      .ngramOverlap(evalDocs, docs, minShared = contaminationMinShared,
        trainShingles = Some(sharedShingles), trainShinglesN = Some(3))
      .select(col("train_id").as("doc_id")).distinct()
      .withColumn("is_contaminated", lit(true))
    // Embedding-side verdict (flagged rows only — a tiny frame).
    val outliers = embeddings.map(emb =>
      Similarity.semanticOutliers(emb, k = 8, iters = 4, z = outlierZ)
        .select(col("vec_id").as("doc_id"))
        .withColumn("is_outlier", lit(true)))
    // Intra-document repetition verdict — one aggregate over the SAME
    // shingle stream the near-dup and contamination consumers ride
    // (hashed counts equal string-gram counts modulo negligible 64-bit
    // collisions, the contamination family's oracle argument), so the
    // veto costs no extra corpus pass.
    // Row-local over the shared set aggregate, which exists whenever
    // the veto is on: size(shset) IS the distinct count, and the
    // long/long division rounds to the fraction a countDistinct
    // aggregate would.
    val repetition = repetitionMaxDupFrac.flatMap(_ => sharedSets)
      .map(_.select(col("doc_id"),
        round(lit(1.0) -
          size(col("shset")).cast("long") / col("n_grams"), 4)
          .as("dup_3gram_frac")))
    // Span-contamination verdict — hit docs only (match-sized, like the
    // contamination flag list); rides the shared positional checkpoint.
    val spanRuns = contamSpanMinRun.map { r =>
      Contamination.spanOverlapRaw(evalDocs, docs, n = 3,
          minRunTokens = r, trainShingles = Some(sharedShingles),
          trainShinglesN = Some(3))
        .select(col("doc_id"), col("max_run_tokens"))
    }
    // Fuzzy contamination verdict — hit docs only (match-sized): the
    // polarity-flipped MinHash screen against the eval set, riding the
    // same shared shingle checkpoint (MinHash reads only (doc_id, h)).
    // broadcastCorpus by default — stage 4c's rationale on the batch
    // path: the eval set is benchmark-sized at every corpus size, so
    // its bands and sets broadcast into the checkpointed corpus stream
    // instead of merge-shuffling corpus-sized band rows against a
    // benchmark-sized table (the r17 near-miss exchange). The knob
    // falls back to the merge plan for eval sets past broadcast size.
    val neardupHits = contamNeardupThreshold.map { t =>
      Dedup.minhashDupIds(docs, evalDocs, threshold = t,
          observeName = "prep_neardup_clamp",
          newShingles = Some(sharedShingles),
          broadcastCorpus = contamNeardupBroadcastEval,
          newSetsFrame = sharedSets)
        .withColumn("__eval_neardup", lit(true))
    }

    // Stage 2 — group structure (content-based, over the FULL corpus:
    // similarity does not depend on eligibility).
    val containEdges = containmentThreshold.map(t =>
      Dedup.containmentPairsRaw(docs, threshold = t, shingleSize = 3,
          window = 4, maxBucket = Dedup.DefaultMaxBucket,
          observeName = "prep_containment_clamp",
          shingles = Some(sharedShingles), shinglesN = Some(3))
        .select(col("doc_a").as("src"), col("doc_b").as("dst")))
    val clusters = Dedup.nearDupClusters(docs, threshold = nearDupThreshold,
        shingles = Some(sharedShingles), extraEdges = containEdges,
        digests = Some(stage1.select(col("doc_id"),
          col("content_digest").as("__dg"))),
        sets = sharedSets)
      .select(col("doc_id"), col("cluster_id"))

    val withOutliers = outliers.foldLeft(stage1) {
      (acc, o) => acc.join(o, Seq("doc_id"), "left_outer")
    }
    val withRepetition = repetition.foldLeft(withOutliers) {
      (acc, r) => acc.join(r, Seq("doc_id"), "left_outer")
    }
    val withSpans = spanRuns.foldLeft(withRepetition) {
      (acc, sp) => acc.join(sp, Seq("doc_id"), "left_outer")
    }
    val withNeardup = neardupHits.foldLeft(withSpans) {
      (acc, nd) => acc.join(nd, Seq("doc_id"), "left_outer")
    }
    val flagged = withNeardup
      .join(contaminated, Seq("doc_id"), "left_outer")
      .join(clusters, Seq("doc_id"))
      .select(col("doc_id"), col("content_digest"), col("cluster_id"),
        col("quality_ok"), col("is_blocked"), col("gopher_ok"),
        coalesce(col("is_contaminated"), lit(false)).as("is_contaminated"),
        (if (outliers.isDefined) coalesce(col("is_outlier"), lit(false))
         else lit(false)).as("is_outlier"),
        (if (repetition.isDefined) col("dup_3gram_frac")
         else lit(null).cast("double")).as("dup_3gram_frac"),
        repetitionMaxDupFrac
          .map(t => coalesce(col("dup_3gram_frac") <= t, lit(true)))
          .getOrElse(lit(true)).as("repetition_ok"),
        (if (spanRuns.isDefined) coalesce(col("max_run_tokens"), lit(0L))
         else lit(null).cast("long")).as("contam_span_run"),
        contamSpanMinRun
          .map(r => coalesce(col("max_run_tokens"), lit(0L)) < r)
          .getOrElse(lit(true)).as("span_ok"),
        (if (neardupHits.isDefined) !coalesce(col("__eval_neardup"), lit(false))
         else lit(true)).as("neardup_ok"))
      .withColumn("eligible", col("quality_ok") && !col("is_blocked") &&
        col("gopher_ok") && !col("is_contaminated") && !col("is_outlier") &&
        col("repetition_ok") && col("span_ok") && col("neardup_ok"))

    // Stage 3 — survivors: minimum eligible doc per digest group and per
    // cluster (null when a group has no eligible member). Windows reuse
    // one shuffle per grouping; the independent-audit flags use the
    // unconditional minima.
    val eligibleId = when(col("eligible"), col("doc_id"))
    val wd = Window.partitionBy("content_digest")
    val wc = Window.partitionBy("cluster_id")
    val out = flagged
      .withColumn("__digest_survivor", min(eligibleId).over(wd))
      .withColumn("__cluster_survivor", min(eligibleId).over(wc))
      .withColumn("__digest_min", min(col("doc_id")).over(wd))
      .withColumn("__cluster_min", min(col("doc_id")).over(wc))
      .select(
        col("doc_id"),
        col("quality_ok"),
        col("is_blocked"),
        (col("doc_id") =!= col("__digest_min")).as("is_exact_dup"),
        (col("doc_id") =!= col("__cluster_min")).as("is_near_dup"),
        col("is_contaminated"),
        col("is_outlier"),
        col("dup_3gram_frac"),
        col("repetition_ok"),
        col("contam_span_run"),
        col("span_ok"),
        col("neardup_ok"),
        col("gopher_ok"),
        (col("eligible") &&
          col("doc_id") === col("__digest_survivor") &&
          col("doc_id") === col("__cluster_survivor")).as("kept"))
    if (sorted) out.orderBy("doc_id") else out
  }

  /** The curation report: per-filter removal counts plus the final
    * retention.
    */
  def report(prepared: DataFrame): DataFrame = prepared.agg(
    count(lit(1)).as("total_docs"),
    sum(when(!col("quality_ok"), 1L).otherwise(0L)).as("low_quality"),
    sum(when(col("is_blocked"), 1L).otherwise(0L)).as("blocked"),
    sum(when(col("is_exact_dup"), 1L).otherwise(0L)).as("exact_dups"),
    sum(when(col("is_near_dup"), 1L).otherwise(0L)).as("near_dups"),
    sum(when(col("is_contaminated"), 1L).otherwise(0L)).as("contaminated"),
    sum(when(col("is_outlier"), 1L).otherwise(0L)).as("outliers"),
    sum(when(!col("repetition_ok"), 1L).otherwise(0L)).as("repetition_vetoed"),
    sum(when(!col("span_ok"), 1L).otherwise(0L)).as("span_vetoed"),
    sum(when(!col("neardup_ok"), 1L).otherwise(0L)).as("neardup_vetoed"),
    sum(when(!col("gopher_ok"), 1L).otherwise(0L)).as("gopher_vetoed"),
    sum(when(col("kept"), 1L).otherwise(0L)).as("kept_docs"))

  /** The full pretraining shard path in one declarative plan: curation
    * survivors ([[prepare]]) → language-mixture resampling
    * ([[Sampling.mixtureSample]]) → context-window chunking
    * ([[Sampling.chunkByTokens]]) → sharded sequence packing
    * ([[Sampling.packSequencesSharded]]), summarized per (lang, seq_id)
    * training sequence. Chunking runs once per unique doc and the
    * epoch multiplicity joins in afterwards (identical copies need no
    * re-chunking); the packing key (doc_id, epoch, chunk_id) is a
    * struct, so epochs interleave deterministically within a shard.
    * Every stage is an independently verified operator — the composite
    * is plumbing, which is the point: the whole data path is one plan
    * Catalyst optimizes end to end.
    *
    * `dsirTarget` adds the DSIR data-SELECTION stage between curation
    * and mixture: curation survivors are scored by
    * [[TextAnalysis.dsirWeights]] against the target distribution
    * (raw side = the survivors themselves) and only docs with
    * `mean_log_ratio >= dsirMinScore` proceed — the threshold form,
    * matching the streaming screen's semantics
    * ([[graft.stream.Pipeline.dsirScreenStream]]) so batch and stream
    * select identically. Row-local once the broadcast ratio table is
    * built, so it adds no selection shuffle. A survivor carrying NO
    * features (null/whitespace-free-token-less text) has no score and
    * fails the screen — degenerate docs don't ride into the mixture.
    */
  def trainPrep(docs: DataFrame, evalDocs: DataFrame,
                weights: Map[String, Double] = Map.empty,
                chunkTokens: Int = 64, strideTokens: Int = 48,
                maxTokens: Int = 512,
                dsirTarget: Option[DataFrame] = None,
                dsirMinScore: Double = 0.0): DataFrame = {
    // The survivor id-list is consumed by several downstream subtrees
    // (the DSIR scoring pass, the final corpus join feeding both the
    // chunker and the mixture expansion) — checkpoint it (8 bytes/doc,
    // lazy) so the whole curation plan (clusters + contamination +
    // windows) is GUARANTEED to run once regardless of how many
    // consumers reference it: at sf0.1 AQE exchange reuse already
    // dedupes most of it (QBench A/B: train_prep 4.24 → 3.80 s warm,
    // train_prep_dsir within noise), but reuse is a best-effort
    // optimizer property while the checkpoint is a contract — at
    // 100 TB a silently-duplicated curation pass is the bigger risk.
    // Same localCheckpoint-vs-recompute trade as prepare's own shared
    // shingle pass.
    // sorted = false: prepare's presentation orderBy is for the verdict
    // CONSUMER; here the frame is filtered to an id list and
    // checkpointed, and a checkpoint MATERIALIZES its physical plan —
    // EliminateSorts removes sorts below joins/aggregates but not below
    // a checkpointed filter+project, so the default would pay a
    // corpus-verdict range exchange + sort (plus the range-partitioner
    // sampling pass) for rows whose order the id set can't observe.
    val kept0 = prepare(docs, evalDocs, sorted = false)
      .filter(col("kept")).select("doc_id")
      .localCheckpoint(eager = false)
    val kept = dsirTarget match {
      case Some(target) =>
        val survivors = docs.join(kept0, Seq("doc_id"))
        kept0.join(
          TextAnalysis.dsirWeights(target, survivors)
            .filter(col("mean_log_ratio") >= dsirMinScore)
            .select("doc_id"),
          Seq("doc_id"), "left_semi")
      case None => kept0
    }
    val corpus = docs.join(kept, Seq("doc_id"))
    val mixed = Sampling.mixtureSample(corpus, col("lang"), col("doc_id"),
      weights)
    val chunks = Sampling.chunkByTokens(corpus, chunkTokens, strideTokens)
    val expanded = chunks.join(
      mixed.select("doc_id", "lang", "epoch"), Seq("doc_id"))
    Sampling.packSequencesSharded(expanded, col("lang"),
        struct(col("doc_id"), col("epoch"), col("chunk_id")),
        col("n_tokens"), maxTokens)
      .groupBy("lang", "seq_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_tokens").cast("long")).as("seq_tokens"))
      .orderBy("lang", "seq_id")
  }

  /** The INCREMENTAL curation composite — [[prepare]]'s sibling for the
    * ingest-time question: given a new batch and the STANDING corpus'
    * persisted state (a MinHash index, optionally a DSIR target model),
    * which batch docs survive every screen? One verdict row per batch
    * doc, screens in the order a 100-TB ingest wants them:
    *
    *   1. row-local: `quality_ok` ([[TextAnalysis.qualityScore]]'s
    *      boundary) and the blocklist gate (`blocked_frac`,
    *      `blocklist_ok`) — one codegen'd projection, no shuffle;
    *   2. standing-corpus novelty: `is_novel`/`best_jaccard`/`match_id`
    *      from [[Dedup.minhashNovelAgainstIndex]] — corpus text never
    *      re-scanned, cost batch-proportional;
    *   3. data selection (optional): `mean_log_ratio`/`dsir_ok` against
    *      the FROZEN persisted target model
    *      ([[TextAnalysis.dsirWeightsIndexed]], threshold form — the
    *      [[graft.stream.Pipeline.dsirScreenStream]] semantics, so
    *      batch and stream select identically); a doc with no features
    *      has a null score and fails the screen;
    *   4. benchmark contamination (optional): `is_contaminated`/
    *      `contam_shared`/`contam_match_id` against the persisted
    *      eval-gram index ([[Contamination.contaminationAgainstIndex]]
    *      — eval suite never re-tokenized, stop-gram pruning frozen on
    *      eval-side df so verdicts are batch-independent);
    *   4b. span contamination (optional, rides the SAME eval index):
    *      `contam_span_run`/`span_ok` — the consecutive-overlap rule
    *      ([[Contamination.spanContaminationAgainstIndex]]): a doc
    *      sharing a contiguous ≥ `contamSpanMinRun`-token run with the
    *      eval suite fails even when its scattered-gram count stays
    *      under the doc-level threshold (a short verbatim benchmark
    *      quote inside a long document — the doc-level screen's blind
    *      spot);
    *   5. embedding-space outliers (optional): `is_outlier`/
    *      `outlier_zscore` for the batch's embeddings against the
    *      persisted frozen model ([[Similarity.outliersAgainstIndex]]);
    *      a doc with NO embedding row has no verdict and is never
    *      flagged (the model's empty-cell rule's missing-data analog);
    *   5b. intra-document repetition (optional): `dup_3gram_frac`/
    *      `repetition_ok` — the Gopher-style duplicate-block veto,
    *      one batch-sized aggregate (see the inline note);
    *   5c. full Gopher doc-quality battery (optional, r18):
    *      `gopher_ok` — [[TextAnalysis.gopherQualityOkCol]] at the
    *      config's thresholds, fused into stage 1's row-local
    *      projection (zero extra scans), keeping the composites'
    *      screen-set parity with [[prepare]]'s `gopherGate`;
    *   6. intra-batch near-dup clustering among the docs passing 1–5
    *      ([[Dedup.nearDupClusters]] at `nearDupThreshold`, batch-sized
    *      by this operator's contract): `batch_survivor` keeps one doc
    *      per cluster — without it, two copies of the same NEW doc in
    *      one trigger would both pass the standing screen and both be
    *      admitted.
    *
    * With the contamination and outlier screens configured, this is a
    * strict SUPERSET of the batch composite's screen set ([[prepare]])
    * — the property a streaming-ingest caller assumes: nothing the
    * batch path would reject rides in through the incremental path.
    *
    * `kept = eligible ∧ batch_survivor`. The caller admits kept docs to
    * the standing indexes ([[graft.stream.Pipeline.curationStream]]
    * wires this as one foreachBatch); a rejected doc never enters, so
    * held content cannot accrete near-copies. The eval-gram index and
    * the outlier model stay FROZEN — reference state, not corpus state.
    *
    * Batch text is read ONCE: the (doc_id, text) frame is checkpointed
    * up front and every screen derives from it, so a backfill-shaped
    * "batch" (corpus-sized) costs one source scan, not one per screen.
    * `sorted = false` drops the trailing presentation sort — the oracle
    * queries keep the default; a production caller piping verdicts into
    * a write needs no corpus-wide range shuffle.
    */
  def screenIncremental(batch: DataFrame, minhashIndexPath: String,
                        blocklist: Seq[String] = Nil,
                        blocklistMaxFraction: Double = 0.0,
                        nearDupThreshold: Double = 0.5,
                        dsirIndexPath: Option[String] = None,
                        dsirMinScore: Double = 0.0,
                        containmentIndexPath: Option[String] = None,
                        containmentThreshold: Double = 0.5,
                        simhashIndexPath: Option[String] = None,
                        maxHamming: Int = 3,
                        contamIndexPath: Option[String] = None,
                        contamMinShared: Int = 5,
                        contamSpanMinRun: Option[Int] = None,
                        neardupEvalIndexPath: Option[String] = None,
                        neardupEvalThreshold: Double = 0.5,
                        embeddings: Option[DataFrame] = None,
                        outlierIndexPath: Option[String] = None,
                        outlierZ: Double = 2.0,
                        repetitionMaxDupFrac: Option[Double] = None,
                        gopherGate: Option[TextAnalysis.GopherGateConfig] =
                          None,
                        broadcastBatch: Boolean = true,
                        sorted: Boolean = true,
                        observeName: String = "screen_incremental_clamp")
      : DataFrame = {
    require(embeddings.isDefined == outlierIndexPath.isDefined,
      "outlier screen needs BOTH the batch embeddings and the persisted " +
        "model path — supplying one without the other silently skips " +
        "the screen the caller asked for")
    require(contamSpanMinRun.isEmpty || contamIndexPath.isDefined,
      "span-contamination screen rides the eval-gram index — " +
        "contamSpanMinRun without contamIndexPath would silently skip " +
        "the screen the caller asked for")
    val spark = batch.sparkSession
    // ONE batch-text scan for the whole composite: every screen below
    // (row-local, MinHash, DSIR, containment, SimHash, contamination,
    // plus the eligible-doc clustering) consumes this checkpointed
    // frame instead of re-planning its own source scan — ~5 source
    // reads saved, which is the difference between trigger-noise and
    // corpus-sized cost on a backfill (lazy checkpoint: the first
    // screen's action materializes it).
    // Widened before the checkpoint ([[Parallelism.widen]], no-op at
    // scale): the checkpoint PINS its partitioning for every consumer,
    // so an under-parallel batch scan would otherwise serialize all the
    // downstream text screens on one core. LEAF floor here, unlike
    // [[prepare]]'s CompositeBytesPerTask — measured both ways (r18,
    // re-measured r19 on a near-zero-steal host): THIS composite's
    // per-partition work is the full stage-1 battery (quality + Gopher
    // + blocklist + digest) plus the tokenize pass, ~20× the floor's
    // generic text-throughput assumption, and its per-screen scan
    // stages overlap across AQE jobs so the extra partitions' ~30-job
    // scheduling cost is hidden — quiet-host A/B reads 2.93 s → 2.68 s
    // per v4 call at 2–4 partitions vs 1 (R19Probe6, 4 interleaved
    // reps each). prepare()'s checkpoint keeps the composite floor:
    // its window/cluster consumers are serial, where r18 measured the
    // same widening as a net loss (train_prep 3.50 → 4.18 s).
    val once = Parallelism.widen(batch.select(col("doc_id"), col("text")))
      .localCheckpoint(eager = false)
    // ONE batch TOKENIZE pass for every 3-gram consumer — [[prepare]]'s
    // shared-shingle contract extended to the incremental path. Before
    // this, each index screen re-derived its own gram stream from the
    // text checkpoint (MinHash novelty, both contamination rules, the
    // fuzzy eval screen, containment, repetition, clustering: up to six
    // compiled tokenize+hash passes over the same bytes — trigger-noise
    // per batch, but a second-through-sixth CORPUS pass on a
    // backfill-shaped batch). Each screen uses the stream only when the
    // gram size STORED in its index is 3 (the declared-N fallback rule
    // in minhashMatchRows) — a non-default index recomputes and
    // verdicts never change. `pos` rides along only when a positional
    // consumer (containment, spans) is configured, the prepare keepPos
    // rule. Lazy checkpoint: the first screen's action materializes it.
    val incKeepPos =
      containmentIndexPath.isDefined || contamSpanMinRun.isDefined
    // Composite floor passed EXPLICITLY (prepare()'s convention): today
    // widen no-ops here because the post-checkpoint frame reports no
    // stats, but the intent — never re-shuffle the pinned checkpoint at
    // leaf granularity — must not hinge on that implementation detail.
    val sharedSh0 = Dedup.hashedShingles(once, 3,
      widenPerTaskBytes = Parallelism.CompositeBytesPerTask)
    val sharedSh = Some(
      (if (incKeepPos) sharedSh0 else sharedSh0.select("doc_id", "h"))
        .localCheckpoint(eager = false))
    val sharedShN = Some(3)
    // ONE batch set AGGREGATE for every shingle-set consumer (r19 — the
    // one-tokenize-pass contract extended one level up): the MinHash
    // novelty screen, the fuzzy eval screen, the repetition veto and
    // the eligible-doc clusterer each used to run their own doc-keyed
    // aggregate over the shared stream — two identical collect_sets, a
    // two-exchange countDistinct, and a sketch aggregate. This frame
    // ((doc_id, shset, n_grams), batch-sized, spillable) replaces all
    // four: the screens take it via their declared-N `sets` seam, the
    // veto is a row-local projection of it, and the clusterer derives
    // signatures with the scalar MinHashOfSet (same hash family — MIN
    // over a multiset equals MIN over its set). On a backfill-shaped
    // batch that is three fewer corpus-sized aggregate exchanges.
    val sharedSets = Some(sharedSh.get.select("doc_id", "h")
      .groupBy("doc_id")
      .agg(collect_set(col("h")).as("shset"),
        count(lit(1)).as("n_grams"))
      .localCheckpoint(eager = false))
    val sharedSetsN = Some(3)
    val (_, _, frac) = TextAnalysis.blocklistCols(col("text"), blocklist)
    val rowLocal = once.select(col("doc_id"),
      TextAnalysis.qualityOkCol(col("text")).as("quality_ok"),
      round(frac, 4).as("blocked_frac"),
      (frac <= blocklistMaxFraction).as("blocklist_ok"),
      // Stage 5c fuses here — the full battery is row-local like the
      // pre-gate, so it costs nothing but expressions on this scan.
      gopherGate.map(cfg =>
          TextAnalysis.gopherQualityOkCol(col("text"), cfg))
        .getOrElse(lit(true)).as("gopher_ok"),
      // Content digest fused into the SAME row-local scan ([[prepare]]'s
      // stage-1 convention brought to the incremental path): stage 6's
      // clusterer needs it for exact-dup star edges, and computing it
      // here lets the clusterer read the checkpointed verdict frame
      // instead of re-scanning batch text — one fewer pass over `once`
      // (corpus-sized on a backfill-shaped batch). Internal column,
      // dropped by the final projection.
      Dedup.digest(col("text")).as("__content_digest"))
    // `broadcastBatch` passes straight to the index screens — the
    // stages whose join plan depends on batch size (per-trigger batches
    // broadcast; a backfill-sized "batch" wants the co-partitioned
    // merge plan, the minhashNovelAgainstIndex contract).
    val novelty = Dedup.minhashNovelAgainstIndex(once, minhashIndexPath,
      nearDupThreshold, broadcastBatch = broadcastBatch,
      observeName = observeName, shingles = sharedSh, shinglesN = sharedShN,
      sets = sharedSets, setsN = sharedSetsN)
    val withDsir = dsirIndexPath match {
      case Some(p) =>
        rowLocal.join(novelty, Seq("doc_id"))
          .join(TextAnalysis.dsirWeightsIndexed(spark, p, once)
            .select(col("doc_id"), col("mean_log_ratio")),
            Seq("doc_id"), "left_outer")
          .withColumn("dsir_ok",
            coalesce(col("mean_log_ratio") >= dsirMinScore, lit(false)))
      case None =>
        rowLocal.join(novelty, Seq("doc_id"))
          .withColumn("mean_log_ratio", lit(null).cast("double"))
          .withColumn("dsir_ok", lit(true))
    }
    // Stages 1–3 land in one batch-sized verdict frame consumed by
    // FOUR subtrees (the eligibility semi-join feeding the clusterer's
    // pair/star/singleton scans, plus the final output join) — and the
    // clusterer's convergence loop adds count() probes on top.
    // Checkpoint it (the trainPrep survivor-list contract: the
    // novelty + DSIR screens are GUARANTEED to run once, not
    // best-effort-reused): ~60 bytes/doc, batch-sized by this
    // operator's contract. The remaining warm cost is the sum of the
    // audited parts (stage probe at sf0.1's 4550-doc batch: clustering
    // 2.1 s, DSIR 0.9, novelty 0.5, row-local 0.1).
    // Optional asymmetric-containment screen: "is this new doc a QUOTE
    // of something the corpus holds" — the Jaccard screen's blind spot
    // (a passage inside a long container never clears a symmetric
    // threshold). Verdict columns renamed so the three index screens'
    // audits coexist.
    val withContain = containmentIndexPath match {
      case Some(p) =>
        withDsir.join(
          Dedup.containmentAgainstIndex(once, p, containmentThreshold,
              broadcastBatch = broadcastBatch,
              shingles = sharedSh, shinglesN = sharedShN)
            .select(col("doc_id"), (!col("is_novel")).as("is_contained"),
              col("best_containment"),
              col("match_id").as("container_id")),
          Seq("doc_id"))
      case None =>
        withDsir
          .withColumn("is_contained", lit(false))
          .withColumn("best_containment", lit(null).cast("double"))
          .withColumn("container_id", lit(null).cast("long"))
    }
    // Optional Hamming screen: near-copies whose shingle overlap dodges
    // the Jaccard threshold (heavy token-level edits) but whose SimHash
    // stays within `maxHamming` bits of a held fingerprint.
    val withSimhash = simhashIndexPath match {
      case Some(p) =>
        withContain.join(
          Dedup.simhashNovelAgainstIndex(once, p, maxHamming,
              broadcastBatch = broadcastBatch)
            .select(col("doc_id"), (!col("is_novel")).as("is_hamming_dup"),
              col("best_hamming"),
              col("match_id").as("hamming_match_id")),
          Seq("doc_id"))
      case None =>
        withContain
          .withColumn("is_hamming_dup", lit(false))
          .withColumn("best_hamming", lit(null).cast("int"))
          .withColumn("hamming_match_id", lit(null).cast("long"))
    }
    // Benchmark-contamination screen vs the frozen eval-gram index —
    // what [[prepare]] checks via its in-frame overlap join, here
    // without ever re-reading the eval suite.
    val withContam = contamIndexPath match {
      case Some(p) =>
        withSimhash.join(
          Contamination.contaminationAgainstIndex(once, p,
              minShared = contamMinShared, sorted = false,
              shingles = sharedSh, shinglesN = sharedShN)
            .select(col("doc_id"), col("is_contaminated"),
              col("shared_ngrams").as("contam_shared"),
              col("match_id").as("contam_match_id")),
          Seq("doc_id"))
      case None =>
        withSimhash
          .withColumn("is_contaminated", lit(false))
          .withColumn("contam_shared", lit(null).cast("long"))
          .withColumn("contam_match_id", lit(null).cast("long"))
    }
    // Span form over the SAME eval index: the contiguous-run rule the
    // doc-level count can't express (stage 4b).
    val withSpans = (contamSpanMinRun, contamIndexPath) match {
      case (Some(r), Some(p)) =>
        withContam.join(
          Contamination.spanContaminationAgainstIndex(once, p,
              minRunTokens = r, sorted = false,
              shingles = sharedSh, shinglesN = sharedShN)
            .select(col("doc_id"),
              col("max_run_tokens").as("contam_span_run"),
              (!col("is_contaminated")).as("span_ok")),
          Seq("doc_id"))
      case _ =>
        withContam
          .withColumn("contam_span_run", lit(null).cast("long"))
          .withColumn("span_ok", lit(true))
    }
    // Fuzzy contamination screen vs the FROZEN eval-suite MinHash index
    // (stage 4c — the family's third rule, completing the three-rule
    // symmetry with [[prepare]]'s in-frame veto): the paraphrased
    // benchmark copy whose exact grams are broken. Fails closed on a
    // missing index (the neardupContaminationAgainstIndex contract);
    // the eval index is benchmark-sized, so its broadcastIndex plan is
    // right at every batch size — the composite's broadcastBatch knob
    // doesn't apply.
    val withNeardup = neardupEvalIndexPath match {
      case Some(p) =>
        withSpans.join(
          Contamination.neardupContaminationAgainstIndex(once, p,
              neardupEvalThreshold, sorted = false,
              shingles = sharedSh, shinglesN = sharedShN,
              sets = sharedSets, setsN = sharedSetsN)
            .select(col("doc_id"), (!col("is_contaminated")).as("neardup_ok"),
              col("jaccard").as("eval_jaccard"),
              col("match_id").as("eval_match_id")),
          Seq("doc_id"))
      case None =>
        withSpans
          .withColumn("neardup_ok", lit(true))
          .withColumn("eval_jaccard", lit(null).cast("double"))
          .withColumn("eval_match_id", lit(null).cast("long"))
    }
    // Embedding-side screen vs the frozen outlier model. left_outer +
    // coalesce(false): a batch doc with no embedding row gets no
    // verdict and is never flagged.
    val withOutlier = (embeddings, outlierIndexPath) match {
      case (Some(emb), Some(p)) =>
        val embL =
          if (emb.columns.contains("label")) emb
          else emb.withColumn("label", lit(null).cast("string"))
        withNeardup.join(
          Similarity.outliersAgainstIndex(embL, p, outlierZ)
            .select(col("vec_id").as("doc_id"),
              col("zscore").as("outlier_zscore"), col("is_outlier")),
          Seq("doc_id"), "left_outer")
          .withColumn("is_outlier",
            coalesce(col("is_outlier"), lit(false)))
      case _ =>
        withNeardup
          .withColumn("is_outlier", lit(false))
          .withColumn("outlier_zscore", lit(null).cast("double"))
    }
    // Intra-document repetition veto (the Gopher-style duplicate-block
    // signal, distilled to one knob): fraction of the doc's 3-grams
    // that are repeats of an earlier 3-gram in the SAME doc. Word-level
    // duplicate fractions are naturally high in clean prose (stopwords)
    // — the 3-gram form separates copy-paste stutter from fluency. One
    // batch-sized aggregate over the checkpointed text; a doc with < 3
    // tokens has no grams, hence no verdict, and never flags.
    val withRepetition = repetitionMaxDupFrac match {
      case Some(t) =>
        // Row-local over the shared set aggregate: |distinct grams| is
        // size(shset) exactly, total grams rode along as n_grams — the
        // former dedicated countDistinct aggregate (two exchanges) is
        // a projection now. Long/long division both ways, so the
        // rounded fraction is bit-identical.
        withOutlier.join(
          sharedSets.get.select(col("doc_id"),
            round(lit(1.0) -
              size(col("shset")).cast("long") / col("n_grams"), 4)
              .as("dup_3gram_frac")),
          Seq("doc_id"), "left_outer")
          .withColumn("repetition_ok",
            coalesce(col("dup_3gram_frac") <= t, lit(true)))
      case None =>
        withOutlier
          .withColumn("dup_3gram_frac", lit(null).cast("double"))
          .withColumn("repetition_ok", lit(true))
    }
    // neardup_ok is part of eligibility like every other veto — its
    // omission here shipped in r17 masked by the verify fixtures
    // (every fuzzy-flagged doc there was also vetoed by another
    // screen); ScreenDrill's unique-coverage plants (short eval
    // copies only the fuzzy rule can see) caught the kept drift in
    // r18 and now pin it.
    val flagged = withRepetition.withColumn("eligible",
      col("quality_ok") && col("blocklist_ok") && col("gopher_ok") &&
        col("is_novel") &&
        col("dsir_ok") && !col("is_contained") && !col("is_hamming_dup") &&
        !col("is_contaminated") && col("span_ok") && col("neardup_ok") &&
        !col("is_outlier") && col("repetition_ok"))
      .localCheckpoint(eager = false)
    // Clustering only the eligible docs keeps the last stage minimal
    // AND makes survivor semantics match [[prepare]]'s staged rule: an
    // ineligible copy never "uses up" a cluster's survivor slot.
    // The clusterer rides the shared SET checkpoint, filtered to the
    // eligible ids (sets of a doc subset ≡ subset of the set rows —
    // per-doc aggregate), deriving its banding signatures row-locally;
    // star edges and singleton assignment ride the fused stage-1
    // digests from the checkpointed verdict frame. The clusterer
    // therefore touches neither batch TEXT nor the raw shingle stream —
    // its former per-call sketch aggregate and text semi-join drop out
    // of the plan.
    val eligSets = sharedSets.map(_.join(
      flagged.filter(col("eligible")).select("doc_id"),
      Seq("doc_id"), "left_semi"))
    val eligDigests = flagged.filter(col("eligible"))
      .select(col("doc_id"), col("__content_digest").as("__dg"))
    val clusters = Dedup.nearDupClusters(
        once.join(flagged.filter(col("eligible")).select("doc_id"),
          Seq("doc_id"), "left_semi"),
        threshold = nearDupThreshold, sets = eligSets,
        digests = Some(eligDigests),
        observeName = observeName + "_batch")
      .select(col("doc_id"), col("keep").as("batch_survivor"))
    val out = flagged.join(clusters, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("quality_ok"), col("blocked_frac"),
        col("blocklist_ok"), col("mean_log_ratio"), col("dsir_ok"),
        col("is_novel"), col("best_jaccard"), col("match_id"),
        col("is_contained"), col("best_containment"), col("container_id"),
        col("is_hamming_dup"), col("best_hamming"), col("hamming_match_id"),
        col("is_contaminated"), col("contam_shared"), col("contam_match_id"),
        col("contam_span_run"), col("span_ok"),
        col("neardup_ok"), col("eval_jaccard"), col("eval_match_id"),
        col("is_outlier"), col("outlier_zscore"),
        col("dup_3gram_frac"), col("repetition_ok"), col("gopher_ok"),
        coalesce(col("batch_survivor"), lit(false)).as("batch_survivor"),
        (col("eligible") && coalesce(col("batch_survivor"), lit(false)))
          .as("kept"))
    if (sorted) out.orderBy("doc_id") else out
  }
}
