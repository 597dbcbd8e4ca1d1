package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline (SURVEY §7.2
  * PR 5): exact, normalized-exact, MinHash+LSH near-dup, SimHash, and
  * exact n-gram Jaccard verification over LSH candidates.
  *
  * Scale design: nothing here is O(n²). Exact/normalized dedup are
  * hash-aggregates on a 128-bit content digest (shuffle carries digests,
  * not documents). Near-dup generates candidate pairs only through LSH
  * band buckets — a shuffle keyed on (band, band-hash) — and verifies
  * candidates pairwise, so cost tracks the number of *colliding* pairs,
  * not n². All hashing is xxhash64/md5 (stable across executors), never
  * JVM hashCode.
  */
object Dedup {

  /** Content digest for exact dedup — hash-groupBy carries 32-byte digests
    * instead of full documents through the shuffle.
    */
  def digest(text: Column): Column = md5(text)

  /** Aggressive whitespace/punctuation/case normalization, the standard
    * near-exact pre-pass.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** Exact-duplicate summary: corpus size vs distinct digests. */
  def exactStats(docs: DataFrame): DataFrame = docs.agg(
    count(lit(1)).as("total_docs"),
    countDistinct(digest(col("text"))).as("distinct_docs"),
    (count(lit(1)) - countDistinct(digest(col("text")))).as("duplicate_docs"))

  /** Exact-duplicate summary after normalization. */
  def normalizedStats(docs: DataFrame): DataFrame = docs.agg(
    count(lit(1)).as("total_docs"),
    countDistinct(digest(normalize(col("text")))).as("distinct_docs"),
    (count(lit(1)) - countDistinct(digest(normalize(col("text")))))
      .as("duplicate_docs"))

  /** Exact dedup keeping the lowest doc_id per digest group — the
    * materializing variant of [[exactStats]].
    */
  def dedupKeepFirst(docs: DataFrame): DataFrame = docs
    .groupBy(digest(col("text")).as("content_digest"))
    .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("group_size"))

  /** Exact dedup keeping the PREFERRED copy per digest group: among
    * exact duplicates, survive the doc with the lowest `priority` value
    * (caller-derived trust rank — curated sources beat crawl dumps),
    * tie-broken on doc_id. One `min(struct(priority, doc_id))`
    * aggregate — map-side combined, mergeable at any partitioning, the
    * same single-shuffle shape as [[dedupKeepFirst]] (which is this
    * with a constant priority).
    *
    * A NULL priority (an unclassifiable source) is LEAST preferred:
    * Spark's struct-min would otherwise sort the null field FIRST and
    * crown the least-classifiable copy the survivor — the opposite of
    * the trust semantics, and a divergence from SQL twins whose ASC
    * ordering defaults to NULLS LAST. The leading is-null flag keeps
    * the ordering type-generic (no sentinel cast on the caller's
    * priority type).
    */
  def dedupKeepPreferred(docs: DataFrame, priority: Column): DataFrame = docs
    .groupBy(digest(col("text")).as("content_digest"))
    .agg(min(struct(priority.isNull.as("pn"), priority.as("p"),
        col("doc_id").as("id"))).as("m"),
      count(lit(1)).as("group_size"))
    .select(col("content_digest"), col("m.id").as("keep_doc_id"),
      col("m.p").as("keep_priority"), col("group_size"))

  /** Incremental exact dedup: documents of `newDocs` whose content digest
    * does NOT already occur in `seenDocs` — the per-ingestion-batch form
    * of exact dedup at 100 TB (dedupe the new slice against the standing
    * corpus, never re-scan-vs-rescan). The anti-join is keyed on the
    * 16-byte digest: the seen side shrinks to distinct digests (in
    * production, a maintained digest table read directly), so the shuffle
    * carries digests, not documents, and a small seen-side broadcasts.
    */
  def dedupAgainstSeen(newDocs: DataFrame, seenDocs: DataFrame): DataFrame = {
    val seen = seenDocs.select(digest(col("text")).as("seen_digest")).distinct()
    newDocs.join(seen, digest(col("text")) === col("seen_digest"), "left_anti")
  }

  /** [[dedupAgainstSeen]] with a bloom-filter prescreen: one aggregate
    * over the standing corpus builds a bitset of its content digests
    * ([[graft.functions.BloomSketch]] — map-side partial OR, one
    * fixed-size sketch per partition on the wire), broadcast to the new
    * slice as a single-row cross join. A bloom MISS is definitely-new
    * (no false negatives) and short-circuits past the join entirely;
    * only hits — true duplicates plus the ~fpp sliver — pay the exact
    * digest anti-join. Result is IDENTICAL to [[dedupAgainstSeen]]
    * (bloom hits are verified exactly), so the DuckDB oracle holds.
    *
    * 100 TB cost model: the anti-join's new-side shuffle shrinks from
    * the whole incoming batch to (dup-rate + fpp) of it; 10 bits/item
    * at 7 hashes ≈ 1% fpp, 120 MB of broadcast per 100M seen digests.
    * Past ~1G seen digests, shard the filter or raise fpp — the exact
    * verify keeps correctness either way.
    */
  def dedupAgainstSeenBloom(newDocs: DataFrame, seenDocs: DataFrame,
                            numBits: Long = 1L << 20,
                            numHashes: Int = 7): DataFrame = {
    import graft.functions.SketchFunctions.{bloom_sketch, bloom_contains}
    val bloom = seenDocs
      .agg(bloom_sketch(xxhash64(col("text")), numBits, numHashes).as("bits"))
    val screened = newDocs.crossJoin(broadcast(bloom))
      .withColumn("maybe_seen",
        bloom_contains(col("bits"), xxhash64(col("text")), numHashes))
      .drop("bits")
    val definitelyNew = screened.filter(!col("maybe_seen")).drop("maybe_seen")
    val seen = seenDocs.select(digest(col("text")).as("seen_digest")).distinct()
    val verifiedNew = screened.filter(col("maybe_seen")).drop("maybe_seen")
      .join(seen, digest(col("text")) === col("seen_digest"), "left_anti")
    definitelyNew.unionByName(verifiedNew)
  }

  // ---------------------------------------------------------------------
  // MinHash + LSH near-duplicate detection
  // ---------------------------------------------------------------------

  /** Word n-gram shingles as an array column (empty when the document has
    * fewer than n tokens).
    */
  def shingles(text: Column, n: Int): Column = {
    val toks = split(trim(text), "\\s+")
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array())
  }

  /** MinHash signature: doc_id → array of `numHashes` minima of seeded
    * xxhash64 over the shingle stream. No `distinct` pre-pass: MIN over a
    * multiset equals MIN over its set, and `min` partial-aggregates
    * map-side, so the only shuffle carries one `numHashes`-long partial
    * signature per (doc, partition) — never the shingles themselves.
    */
  /** (doc_id, pos, shingle-hash) stream without materializing shingle
    * strings: tokens are hashed once (XXH64 over UTF-8 bytes) and n-gram
    * hashes combine the token hashes in a sliding window. `pos` is the
    * shingle's 0-based offset in the document — consumers that need
    * document order ([[winnowedFingerprints]]) sort on it rather than
    * relying on row arrival order, which Spark does not guarantee through
    * a groupBy shuffle; order-insensitive consumers (min-sketch,
    * collect_set) ignore it and column pruning drops it before their
    * shuffle. Implemented as a typed `flatMap` — measured 4× faster than
    * the declarative `transform`+`slice`+`concat_ws` chain, whose lambda
    * is interpreted and allocates every shingle string (the profiled
    * bottleneck of the whole near-dup pipeline). The compiled path is the
    * documented last-resort tier of SURVEY §7.3, taken on evidence.
    */
  def hashedShingles(docs: DataFrame, shingleSize: Int,
                     widenPerTaskBytes: Long = Parallelism.LeafBytesPerTask)
      : DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // The flatMap below is the suite's hottest compiled pass and runs at
    // the INPUT's partition count — widen an under-parallel source
    // before it (no-op at scale; see [[Parallelism.widen]]). Callers
    // whose output feeds a multi-consumer checkpoint ([[CorpusPrep
    // .prepare]]'s shared stream) pass the composite floor instead.
    Parallelism.widen(docs.select(col("doc_id"), col("text")),
        widenPerTaskBytes)
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val tokenHashes = text.trim.split("\\s+").map { t =>
          val b = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
              b.length, 42L)
        }
        if (tokenHashes.length < shingleSize) Iterator.empty
        else tokenHashes.sliding(shingleSize).zipWithIndex.map { case (w, pos) =>
          var h = 42L
          var i = w.length - 1
          while (i >= 0) {
            h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(w(i), h)
            i -= 1
          }
          (id, pos, h)
        }
      }
      .toDF("doc_id", "pos", "h")
  }

  /** (doc_id, h, gram) rows: [[hashedShingles]]'s exact hash (same token
    * hashing, same window combine order) alongside the gram's text. For
    * consumers that must map surviving hashes back to human-readable
    * grams ([[TextAnalysis.frequentNgrams]]' boilerplate list): the
    * narrow hash stream stays the aggregation key and text joins back
    * only for the few survivors — gram strings never ride a wide
    * shuffle.
    */
  def shingleStrings(docs: DataFrame, shingleSize: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // Same under-parallel-scan widening as [[hashedShingles]].
    Parallelism.widen(docs.select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = text.trim.split("\\s+")
        val tokenHashes = toks.map { t =>
          val b = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
              b.length, 42L)
        }
        if (toks.length < shingleSize) Iterator.empty
        else (0 to toks.length - shingleSize).iterator.map { s =>
          var h = 42L
          var i = s + shingleSize - 1
          while (i >= s) {
            h = org.apache.spark.sql.catalyst.expressions.XXH64
              .hashLong(tokenHashes(i), h)
            i -= 1
          }
          (id, h, toks.slice(s, s + shingleSize).mkString(" "))
        }
      }
      .toDF("doc_id", "h", "gram")
  }

  def minhashSignatures(docs: DataFrame, shingleSize: Int = 3,
                        numHashes: Int = 32): DataFrame =
    minhashSignaturesFromShingles(hashedShingles(docs, shingleSize), numHashes)

  /** [[minhashSignatures]] over an existing (doc_id, h) shingle stream —
    * the seam that lets one materialized [[hashedShingles]] pass feed
    * several consumers ([[CorpusPrep.prepare]]'s share-vs-rescan A/B).
    */
  def minhashSignaturesFromShingles(shingles: DataFrame,
                                    numHashes: Int = 32): DataFrame =
    // The k-function family is derived from each 8-byte shingle hash
    // inside the native sketch aggregate ([[graft.functions.MinHashSketch]])
    // — one mutable buffer per doc, map-side partial aggregation, plan
    // size independent of k.
    shingles
      .select("doc_id", "h")
      .groupBy("doc_id")
      .agg(graft.functions.MinHashAgg.minhash_sketch(col("h"), numHashes)
        .as("signature"))

  /** struct(band, band_hash) columns over a `signature` column — the ONE
    * definition of the banding hash (seed, slice bounds), shared by
    * [[lshBands]] and [[minhashNearDupPairs]] so their candidate sets
    * can never silently diverge.
    */
  private def bandHashStructs(bands: Int, rowsPerBand: Int): Seq[Column] =
    (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(col("signature"), b * rowsPerBand + 1, rowsPerBand))
          .as("band_hash"))
    }

  /** LSH banding: signature → (band index, band hash) rows. Docs sharing
    * any band bucket become candidate pairs. bands×rowsPerBand must equal
    * the signature length.
    */
  def lshBands(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(col("doc_id"),
        explode(array(bandHashStructs(bands, rowsPerBand): _*)).as("bh"))
      .select(col("doc_id"), col("bh.band").as("band"),
        col("bh.band_hash").as("band_hash"))

  /** Default hot-bucket ceiling for every band-bucket candidate join
    * here. Σ per-bucket pairs is the MinHash family's entire cost
    * model, and it holds only while no single bucket is huge: one
    * boilerplate sub-corpus sharing a band hash (m docs → ~m²/2
    * candidate pairs in ONE join key) is both a pair-space blowup and
    * a shuffle-skew spike AQE can split but not shrink. 1000 keeps the
    * worst single bucket at ≤ ~500k pairs — one healthy task — while
    * sitting far above anything an organically-near-dup bucket reaches.
    */
  val DefaultMaxBucket = 1000

  /** Drops every (band, band_hash) bucket holding more than `maxBucket`
    * docs before a candidate join consumes it — the [[graft.ext
    * .Relations.itemPairs]] basket clamp applied to LSH buckets
    * (`maxBucket <= 0` disables). The drop is OBSERVABLE, never silent:
    * the `observeName` metric reports `dropped_buckets` (exact — each
    * dropped row contributes 1/bucket_size), `dropped_rows`, and
    * `max_bucket` via `Dataset.observe` (read from
    * `queryExecution.observedMetrics`, a `QueryExecutionListener`, or
    * `StreamingQueryProgress.observedMetrics`).
    *
    * Recall contract: a doc pair sharing a dropped bucket still pairs
    * through any of its other `bands − 1` buckets, so near-dups that
    * agree beyond the boilerplate survive. Pairs WHOLLY inside a
    * dropped bucket are lost — by construction those cluster with ≥
    * `maxBucket` mutual near-dups (identical or template docs), which
    * the exact/normalized dedup pre-pass ([[dedupKeepFirst]],
    * [[normalize]]) is the right tool for; run it first, as
    * [[graft.ext.CorpusPrep.prepare]] does.
    *
    * Plan shape: one window count partitioned by (band, band_hash) —
    * its exchange is the SAME partitioning the downstream candidate
    * join needs, so the cap adds no extra corpus-sized shuffle, and a
    * self-join's two sides still share (and AQE-reuse) the single
    * capped subtree.
    */
  private[ext] def capBandBuckets(bandRows: DataFrame, maxBucket: Int,
                                  observeName: String): DataFrame = {
    if (maxBucket <= 0) return bandRows
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("band"), col("band_hash"))
    bandRows
      .withColumn("__bsz", count(lit(1)).over(w))
      .observe(observeName,
        coalesce(round(sum(when(col("__bsz") > maxBucket,
            lit(1.0) / col("__bsz")).otherwise(lit(0.0)))), lit(0.0))
          .cast("long").as("dropped_buckets"),
        sum(when(col("__bsz") > maxBucket, 1L).otherwise(0L))
          .as("dropped_rows"),
        coalesce(max(col("__bsz")), lit(0L)).as("max_bucket"))
      .filter(col("__bsz") <= maxBucket)
      .drop("__bsz")
  }

  /** LSH candidate pairs: docs sharing at least one band bucket. The
    * self-join is keyed on (band, band_hash), so only colliding docs pair
    * up — cost tracks collisions, never n², with single buckets bounded
    * by the [[capBandBuckets]] ceiling. Pass the signatures in (and
    * persist them) when they'll be reused for verification.
    */
  def lshCandidatePairs(sigs: DataFrame, bands: Int, rowsPerBand: Int,
                        maxBucket: Int = DefaultMaxBucket,
                        observeName: String = "lsh_bucket_clamp"): DataFrame = {
    val bandRows = capBandBuckets(lshBands(sigs, bands, rowsPerBand),
      maxBucket, observeName)
    // merge hint → both sides shuffle on the same key from the same
    // subtree → AQE exchange reuse runs the signature pipeline ONCE (a
    // broadcast self-join would compute it twice, once per side).
    val a = bandRows.as("a").hint("merge")
    val b = bandRows.as("b")
    a.join(b,
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** [[minhashNearDupPairs]] in fused single-pipeline form: the signature
    * rides along through the band explode and the (band, band_hash)
    * self-join, so signatures are computed exactly once with NO
    * multi-branch reuse and two fewer shuffled joins than the join-back
    * formulation. The cost is that every self-join row carries a full
    * signature (numHashes longs ≈ 256 bytes) through the exchange sort —
    * and the A/B drill showed that cost dominating at every measured
    * scale (5k docs: 2.47 s vs 1.75 s; 2M docs: 42 s vs 19 s), which is
    * why the narrow-row join-back form is the default. Kept as the
    * measured alternative: it wins only if the signature join-back
    * itself became the bottleneck (tiny signatures, enormous candidate
    * survivor sets).
    */
  def minhashNearDupPairsFused(docs: DataFrame, shingleSize: Int = 3,
                               numHashes: Int = 32, bands: Int = 8,
                               threshold: Double = 0.5,
                               maxBucket: Int = DefaultMaxBucket,
                               observeName: String = "lsh_bucket_clamp_fused")
      : DataFrame = {
    val rowsPerBand = numHashes / bands
    val bandRows = capBandBuckets(
      minhashSignatures(docs, shingleSize, numHashes)
        .select(col("doc_id"), col("signature"),
          explode(array(bandHashStructs(bands, rowsPerBand): _*)).as("bh"))
        .select(col("doc_id"), col("signature"),
          col("bh.band").as("band"), col("bh.band_hash").as("band_hash")),
      maxBucket, observeName)
    // merge hint → exchange reuse: one shingle+sketch pass feeds both
    // join sides (see [[lshVerifiedJaccardPairs]] for the rationale).
    val a = bandRows.as("a").hint("merge")
    val b = bandRows.as("b")
    a.join(b,
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      // Fused codegen'd positional agreement ([[graft.functions
      // .LongAgreeCount]]): the zip_with+aggregate chain is interpreted
      // and allocates the zipped array for EVERY colliding pair — at 2M
      // drill docs it dominated the whole near-dup pipeline.
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (graft.functions.SetFunctions.agree_count(
            col("a.signature"), col("b.signature")) / numHashes.toDouble)
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      // A pair colliding in several bands yields identical rows
      // (est_jaccard is a function of the two signatures) — distinct
      // runs on the thresholded survivors only.
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Candidate near-dup pairs with estimated Jaccard (fraction of agreeing
    * MinHash components), thresholded.
    *
    * Join-back design: the band self-join runs over NARROW rows (doc_id,
    * band, band_hash — 28 bytes) and the two signatures join back onto
    * the surviving candidate pairs afterwards. Trade vs the fused
    * signature-through-banding pipeline ([[minhashNearDupPairsFused]]):
    * two extra joins and a second read of the signature exchange (AQE
    * exchange reuse — not a recompute), in return for a self-join
    * sort/shuffle `bands`× narrower. The A/B drill puts join-back ahead
    * at every measured scale — 1.4× at 5k docs, 2.3× at 2M docs (see
    * SCALE.md) — because the exchange sort on wide band rows dominates
    * long before the extra hash joins matter. Same rows out, same
    * threshold semantics as the fused form (pinned by DedupDrill).
    */
  def minhashNearDupPairs(docs: DataFrame, shingleSize: Int = 3,
                          numHashes: Int = 32, bands: Int = 8,
                          threshold: Double = 0.5,
                          shingles: Option[DataFrame] = None,
                          maxBucket: Int = DefaultMaxBucket,
                          observeName: String = "lsh_bucket_clamp",
                          sets: Option[DataFrame] = None): DataFrame = {
    val rowsPerBand = numHashes / bands
    // A caller holding a MATERIALIZED (doc_id, shset) frame (the
    // composites' shared set checkpoint) derives the signatures
    // ROW-LOCALLY via the scalar [[graft.functions.MinHashOfSet]] —
    // identical hash family and values (MIN over a multiset equals MIN
    // over its set, the [[lshVerifiedJaccardPairs]] identity), zero
    // aggregate exchange. Deliberately NOT the default: built from
    // scratch, a collect_set aggregate shuffles full partial sets where
    // the sketch aggregate shuffles a fixed numHashes-long buffer — the
    // set form only wins when the sets already exist for another
    // consumer.
    val sigs = sets
      .map(_.select(col("doc_id"),
        graft.functions.MinHashAgg.minhash_of_set(col("shset"), numHashes)
          .as("signature")))
      .getOrElse(minhashSignaturesFromShingles(
        shingles.getOrElse(hashedShingles(docs, shingleSize)), numHashes))
    val pairs = lshCandidatePairs(sigs, bands, rowsPerBand, maxBucket,
      observeName)
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("signature").as("sig_a")),
        Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("signature").as("sig_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (graft.functions.SetFunctions.agree_count(col("sig_a"), col("sig_b")) /
          numHashes.toDouble).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .orderBy("doc_a", "doc_b")
  }

  /** Exact n-gram Jaccard for candidate pairs (the verify step after LSH).
    * `pairs` must have doc_a/doc_b columns; shingle sets are re-derived and
    * intersected via a shuffle keyed on the shingle, never materializing
    * full cross products.
    */
  def exactJaccard(docs: DataFrame, pairs: DataFrame,
                   shingleSize: Int = 3): DataFrame = {
    // Shingle sets are only needed for docs that actually appear in a
    // candidate pair — semi-join first so shingle materialization touches
    // candidates, not the corpus. Sets are 64-bit shingle *hashes* (the
    // compiled [[hashedShingles]] path): set arithmetic over longs, no
    // shingle strings; Jaccard is exact modulo negligible hash collisions.
    val docsInPairs = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val sets = hashedShingles(
        docs.join(docsInPairs, Seq("doc_id"), "left_semi"), shingleSize)
      .select("doc_id", "h")
      .groupBy("doc_id")
      .agg(collect_set(col("h")).as("shset"))
    pairs
      .join(sets.select(col("doc_id").as("doc_a"), col("shset").as("set_a")),
        Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("shset").as("set_b")),
        Seq("doc_b"))
      // Sets are distinct by construction, so |A∪B| = |A|+|B|−|A∩B| and
      // one fused overlap count ([[graft.functions.LongSetOverlap]],
      // codegen'd, allocation-free) replaces materializing both the
      // intersection and union arrays per candidate pair.
      .withColumn("__ov",
        graft.functions.SetFunctions.set_overlap(col("set_a"), col("set_b"))
          .cast("double"))
      .select(col("doc_a"), col("doc_b"),
        (col("__ov") /
          (size(col("set_a")) + size(col("set_b")) - col("__ov")))
          .as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** LSH candidate pairs with EXACT n-gram Jaccard, in ONE corpus scan:
    * a single [[hashedShingles]] pass feeds one groupBy that produces both
    * the MinHash signature (for banding) and the distinct shingle-hash set
    * (for exact verification). The band self-join then runs over NARROW
    * rows (doc_id, band, band_hash — the set is pruned away before the
    * explode) and the shingle sets join back only onto the SURVIVING
    * candidate pairs — the same join-back trade that put
    * [[minhashNearDupPairs]] 2.3× ahead of its fused form at 2M docs,
    * applied to sets (which are far wider than signatures, so the win is
    * larger: the earlier set-through-banding form shuffled every doc's
    * set `bands`× through the self-join sort and measured 1.6× SLOWER
    * than two scans at sf0.1; this form beats both).
    *
    * Still one corpus read: the scan + shingle flatMap feed a SINGLE
    * `collect_set` aggregation shared by every branch — the banding
    * signature is derived from the set by the scalar
    * [[graft.functions.MinHashOfSet]] (identical hash family; MIN over a
    * multiset equals MIN over its set), because a two-function aggregate
    * gets SPLIT by column pruning into per-branch scans, defeating
    * exchange reuse. With one aggregate, AQE reuses its exchange across
    * all four consumers (asserted by PlanGuardSpec on the final adaptive
    * plan). Cost model at 100 TB: the corpus is read once; the heavy set
    * column crosses an exchange once per doc (reused, not recomputed)
    * and is shuffled again only for docs that actually collide.
    */
  def lshVerifiedJaccardPairs(docs: DataFrame, shingleSize: Int = 3,
                              numHashes: Int = 32, bands: Int = 8,
                              maxBucket: Int = DefaultMaxBucket,
                              observeName: String = "lsh_bucket_clamp_verified")
      : DataFrame = {
    val rowsPerBand = numHashes / bands
    val sigSets = hashedShingles(docs, shingleSize)
      .select("doc_id", "h")
      .groupBy("doc_id")
      .agg(collect_set(col("h")).as("shset"))
    val bandRows = capBandBuckets(sigSets
      .select(col("doc_id"),
        graft.functions.MinHashAgg.minhash_of_set(col("shset"), numHashes)
          .as("signature"))
      .select(col("doc_id"),
        explode(array(bandHashStructs(bands, rowsPerBand): _*)).as("bh"))
      .select(col("doc_id"), col("bh.band").as("band"),
        col("bh.band_hash").as("band_hash")),
      maxBucket, observeName)
    // Force a sort-merge self-join: both sides then shuffle on the SAME
    // (band, band_hash) key from the SAME subtree, and Spark's exchange
    // reuse computes the shingle scan + aggregation ONCE (a broadcast
    // join — the small-scale AQE choice — would run the whole corpus
    // pass twice, once per side; at 100 TB SMJ is the plan anyway).
    val a = bandRows.as("a").hint("merge")
    val b = bandRows.as("b")
    // A pair colliding in several bands must verify once — distinct on
    // the narrow (doc_a, doc_b) BEFORE the sets join back.
    val pairs = a.join(b,
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sets = sigSets.select(col("doc_id"), col("shset"))
    pairs
      .join(sets.select(col("doc_id").as("doc_a"), col("shset").as("set_a")),
        Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("shset").as("set_b")),
        Seq("doc_b"))
      // Sets are distinct by construction, so |A∪B| = |A|+|B|−|A∩B| and
      // one fused overlap count ([[graft.functions.LongSetOverlap]],
      // codegen'd, allocation-free) replaces materializing both arrays.
      .withColumn("__ov",
        graft.functions.SetFunctions.set_overlap(col("set_a"), col("set_b"))
          .cast("double"))
      .select(col("doc_a"), col("doc_b"),
        (col("__ov") /
          (size(col("set_a")) + size(col("set_b")) - col("__ov")))
          .as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** [[minhashNearDupPairs]] with the EXACT Jaccard verified in the SAME
    * single corpus pass ([[lshVerifiedJaccardPairs]]'s shape): banding
    * candidates carry their shingle sets through the join-back, and the
    * MinHash estimate is re-derived from those sets by the scalar
    * [[graft.functions.MinHashAgg.minhash_of_set]] (identical hash
    * family, so bit-identical to the aggregated signature) — no second
    * shingle scan for the estimate column. The output pair set is the
    * estimate-thresholded one (minhashNearDupPairs semantics); `jaccard`
    * is the exact verification riding along.
    */
  def minhashVerifiedPairs(docs: DataFrame, shingleSize: Int = 3,
                           numHashes: Int = 32, bands: Int = 8,
                           threshold: Double = 0.5,
                           maxBucket: Int = DefaultMaxBucket,
                           observeName: String = "lsh_bucket_clamp_mv")
      : DataFrame = {
    val rowsPerBand = numHashes / bands
    val sigSets = hashedShingles(docs, shingleSize)
      .select("doc_id", "h")
      .groupBy("doc_id")
      .agg(collect_set(col("h")).as("shset"))
    val bandRows = capBandBuckets(sigSets
      .select(col("doc_id"),
        graft.functions.MinHashAgg.minhash_of_set(col("shset"), numHashes)
          .as("signature"))
      .select(col("doc_id"),
        explode(array(bandHashStructs(bands, rowsPerBand): _*)).as("bh"))
      .select(col("doc_id"), col("bh.band").as("band"),
        col("bh.band_hash").as("band_hash")),
      maxBucket, observeName)
    val a = bandRows.as("a").hint("merge")
    val b = bandRows.as("b")
    val pairs = a.join(b,
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sets = sigSets.select(col("doc_id"), col("shset"))
    val sigOf = (c: Column) =>
      graft.functions.MinHashAgg.minhash_of_set(c, numHashes)
    pairs
      .join(sets.select(col("doc_id").as("doc_a"), col("shset").as("set_a")),
        Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("shset").as("set_b")),
        Seq("doc_b"))
      .withColumn("__ov",
        graft.functions.SetFunctions.set_overlap(col("set_a"), col("set_b"))
          .cast("double"))
      .select(col("doc_a"), col("doc_b"),
        (graft.functions.SetFunctions.agree_count(
            sigOf(col("set_a")), sigOf(col("set_b"))) /
          numHashes.toDouble).as("est_jaccard"),
        (col("__ov") /
          (size(col("set_a")) + size(col("set_b")) - col("__ov")))
          .as("jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .orderBy("doc_a", "doc_b")
  }

  /** Incremental MinHash near-dup screen: the new-ingest docs that have
    * NO exact-Jaccard-verified near-duplicate in a standing corpus —
    * the syntactic member of the incremental-dedup family, completing
    * [[dedupAgainstSeen]] (exact digest) and
    * [[graft.ext.Similarity.semanticNovel]] (embedding cells): the
    * per-batch question at 100 TB is always "what does this slice add",
    * never corpus×corpus.
    *
    * Shape: each side is scanned once into its shingle-set aggregate
    * ([[lshVerifiedJaccardPairs]]'s exchange-reuse contract — band rows
    * AND the verify join-back read the same aggregated frame); candidate
    * generation is the CROSS join new×corpus on (band, band_hash) only —
    * Σ per-bucket |new|·|corpus|, never |corpus|² — and candidates are
    * verified with the fused overlap count before the threshold cut.
    * The standing side's aggregate is recomputed here for oracle
    * parity; a production deployment persists the corpus band table and
    * shingle sets once at ingest (the [[graft.ext.Retrieval]] index
    * pattern) and this join reads them as-is.
    *
    * Oracle contract: banding must lose no true cross pair at
    * `threshold` on the gate corpus (same recall pin as
    * `minhash_pairs`); the DuckDB twin re-derives exact word-n-gram
    * Jaccard and anti-joins, so a hash match certifies candidate
    * recall AND verify arithmetic.
    */
  def minhashNovel(newDocs: DataFrame, corpus: DataFrame,
                   shingleSize: Int = 3, numHashes: Int = 32,
                   bands: Int = 8, threshold: Double = 0.5,
                   maxBucket: Int = DefaultMaxBucket,
                   observeName: String = "lsh_bucket_clamp_novel",
                   newShingles: Option[DataFrame] = None,
                   broadcastCorpus: Boolean = false): DataFrame =
    newDocs.select("doc_id")
      .join(minhashDupIds(newDocs, corpus, shingleSize, numHashes, bands,
          threshold, maxBucket, observeName, newShingles, broadcastCorpus),
        Seq("doc_id"), "left_anti")

  /** The flagged (match-sized) side of [[minhashNovel]]: new-side docs
    * with at least one exact-Jaccard-verified near-duplicate in
    * `corpus`. The composable form the curation composite's fuzzy
    * contamination veto consumes directly — at 100 TB the hit list is
    * the small frame, and joining it beats anti-joining the corpus
    * twice. `newShingles` feeds the new side from an existing
    * [[hashedShingles]]`(newDocs, shingleSize)` stream (the composites'
    * shared checkpoint — only (doc_id, h) is read) instead of
    * re-scanning the text.
    *
    * TWO plan shapes, keyed to which side is small — the in-frame twin
    * of [[minhashNovelAgainstIndex]]'s broadcastBatch/broadcastIndex
    * choice:
    *   - default (merge): both band sides shuffle once, each side's
    *     aggregate exchange reused by its verify join-back — the dedup
    *     polarity, where `corpus` is the standing corpus and
    *     comparable to (or larger than) the new side.
    *   - `broadcastCorpus`: the `corpus` side's capped band table AND
    *     its shingle sets broadcast into a streamed scan of the new
    *     side — the DECONTAMINATION polarity, where `corpus` is an
    *     eval suite (benchmark-sized) and `newDocs` is a corpus-scale
    *     backfill. Merge-shuffling backfill-sized band rows against a
    *     benchmark-sized table is the exchange this knob deletes; the
    *     only new-side exchange left is the shingle aggregate, reused
    *     by the merge-pinned verify join-back.
    */
  private[graft] def minhashDupIds(newDocs: DataFrame, corpus: DataFrame,
                                 shingleSize: Int = 3, numHashes: Int = 32,
                                 bands: Int = 8, threshold: Double = 0.5,
                                 maxBucket: Int = DefaultMaxBucket,
                                 observeName: String = "lsh_bucket_clamp_novel",
                                 newShingles: Option[DataFrame] = None,
                                 broadcastCorpus: Boolean = false,
                                 newSetsFrame: Option[DataFrame] = None)
      : DataFrame = {
    // Under broadcastCorpus the new-side aggregate feeds TWO consumers
    // (band rows; the verify join-back's set_n) with no shuffled band
    // join between them — the exact shape whose exchange reuse failed
    // in [[minhashNovelAgainstIndex]]'s broadcastIndex plan (a measured
    // second corpus tokenize, SCALE.md r17) — so checkpoint the
    // (doc_id, shset) frame once, lazily. The merge plan keeps its
    // measured reuse (minhash_novel's PlanGuardSpec pin) and skips the
    // block churn. A caller-provided `newSetsFrame` (the composites'
    // shared set checkpoint — already materialized by its owner, and
    // built at declared gram size 3 = this operator's only composite
    // call shape) replaces both the aggregate and the checkpoint.
    val newSets0 = newSetsFrame
      .map(_.select(col("doc_id"), col("shset")))
      .getOrElse(shingleSetsOf(newDocs, shingleSize, newShingles))
    val newSets =
      if (broadcastCorpus && newSetsFrame.isEmpty)
        newSets0.localCheckpoint(eager = false)
      else newSets0
    val corpusSets = shingleSetsOf(corpus, shingleSize)
    def bandRows(ss: DataFrame) = setBandRows(ss, numHashes, bands)
    // Sort-merge pin (default) for the same reason as the pair queries:
    // both band sides must shuffle (broadcast would re-run a whole
    // corpus pass into the build side), and each side's aggregate
    // exchange is then reused by its verify join-back.
    //
    // The CORPUS side carries the [[capBandBuckets]] ceiling (candidate
    // volume is Σ per-bucket |new|·|corpus|, and |corpus| is the
    // unbounded factor — the batch side is per-trigger sized by this
    // operator's contract). A batch doc probing a dropped boilerplate
    // bucket errs NOVEL for that bucket, recoverable through its other
    // bands — the clamp docstring's recall contract. Under
    // broadcastCorpus the cap's window runs over the benchmark-sized
    // table BEFORE it broadcasts — never over anything new-side-sized.
    val cBands = capBandBuckets(bandRows(corpusSets), maxBucket, observeName)
    val nBands = bandRows(newSets)
    val cand = (if (broadcastCorpus) nBands else nBands.hint("merge")).as("n")
      .join((if (broadcastCorpus) broadcast(cBands) else cBands).as("c"),
        col("n.band") === col("c.band") &&
          col("n.band_hash") === col("c.band_hash"))
      .select(col("n.doc_id").as("new_id"), col("c.doc_id").as("corpus_id"))
      .distinct()
    // Merge-pinned join-backs, for the pair queries' reason doubled:
    // (a) at scale both set frames are corpus/batch-sized — a broadcast
    // build of either is the plan that dies first; (b) a merge join
    // requires hashpartitioning(doc_id), the exact exchange each side's
    // aggregate already produced, so AQE reuses it and the shingle
    // pipeline runs ONCE per side (a broadcast build is a DIFFERENT
    // exchange node and re-executes the whole subtree — measured as a
    // 4× shingle pass in the unpinned plan). Under broadcastCorpus the
    // corpus-side sets are benchmark-sized by contract and broadcast
    // instead (reason (a) does not apply to that side).
    val cSets = corpusSets.select(col("doc_id").as("corpus_id"),
      col("shset").as("set_c"))
    val dupIds = cand
      .join(newSets.select(col("doc_id").as("new_id"), col("shset").as("set_n"))
          .hint("merge"),
        Seq("new_id"))
      .join(if (broadcastCorpus) broadcast(cSets) else cSets.hint("merge"),
        Seq("corpus_id"))
      .withColumn("__ov",
        graft.functions.SetFunctions.set_overlap(col("set_n"), col("set_c"))
          .cast("double"))
      .filter((col("__ov") /
          (size(col("set_n")) + size(col("set_c")) - col("__ov")))
        >= threshold)
      .select(col("new_id").as("doc_id"))
      .distinct()
    dupIds
  }

  /** Per-doc distinct hashed shingle sets — the verify-side artifact
    * every MinHash consumer here shares (pairs, novel screen, the
    * persisted corpus index). `shingles` substitutes a pre-computed
    * [[hashedShingles]]`(docs, shingleSize)` stream (only (doc_id, h)
    * is read) — the composites' one-corpus-pass contract.
    */
  private[ext] def shingleSetsOf(docs: DataFrame, shingleSize: Int,
                                 shingles: Option[DataFrame] = None)
      : DataFrame =
    shingles.getOrElse(hashedShingles(docs, shingleSize))
      .select("doc_id", "h")
      .groupBy("doc_id")
      .agg(collect_set(col("h")).as("shset"))

  /** Resolve a caller-provided pre-aggregated set frame against the
    * declared-N rule every shared-stream seam here uses: the frame is
    * consumed only when the caller's declared gram size equals the
    * operator's, otherwise the operator re-derives its own sets and
    * verdicts never depend on the handoff. A sets frame needs only
    * (doc_id, shset); extra columns (the composites carry n_grams for
    * the repetition veto) ride along untouched because every consumer
    * selects explicitly.
    */
  private[ext] def resolveSets(sets: Option[DataFrame], setsN: Option[Int],
                               shingleSize: Int): Option[DataFrame] = {
    sets.foreach { _ =>
      require(setsN.isDefined,
        "sets supplied without setsN: declare the gram size the set " +
          "frame was built with")
    }
    sets.filter(_ => setsN.contains(shingleSize))
      .map(_.select(col("doc_id"), col("shset")))
  }

  /** (doc_id, band, band_hash) rows derived from a shingle-set frame via
    * the scalar [[graft.functions.MinHashOfSet]] — same hash family and
    * banding definition ([[bandHashStructs]]) as the aggregate path, so
    * candidate sets can never diverge between consumers.
    */
  private[ext] def setBandRows(sets: DataFrame, numHashes: Int,
                               bands: Int): DataFrame =
    sets
      .select(col("doc_id"),
        graft.functions.MinHashAgg.minhash_of_set(col("shset"), numHashes)
          .as("signature"))
      .select(col("doc_id"),
        explode(array(bandHashStructs(bands, numHashes / bands): _*)).as("bh"))
      .select(col("doc_id"), col("bh.band").as("band"),
        col("bh.band_hash").as("band_hash"))

  // ---------------------------------------------------------------------
  // Persisted MinHash corpus index — the standing-corpus side of
  // [[minhashNovel]] materialized once at ingest, so the per-batch
  // screen never re-scans corpus text: `path/sets` holds each corpus
  // doc's hashed shingle set (the verify artifact), `path/bands` its
  // LSH band rows partitioned by band (the candidate-generation
  // artifact; the partitioning caps appends at one file per band — the
  // BM25 small-file rationale — the novelty join itself reads every
  // band, since a batch carries all band indices). Same three lifecycle
  // verbs and
  // crash-safety contract as the BM25 and IVF indexes
  // ([[IndexStamp.appendLifecycle]] / [[IndexStamp.compactLifecycle]]):
  // batchId-idempotent dynamic-overwrite appends, fold-to-base
  // compaction, single writer per index.
  // ---------------------------------------------------------------------

  private[ext] def minhashMarker(path: String) = s"$path/bands/_SUCCESS"

  /** Canonical per-corpus index location (same convention as
    * [[graft.ext.Similarity.ivfIndexPathFor]]; bump the version segment
    * on layout changes so stale layouts can't be served).
    */
  def minhashIndexPathFor(sfDir: String): String =
    IndexStamp.pathUnderRoot(
      "graft-minhash1-" + sfDir.replaceAll("[^A-Za-z0-9.]", "_"))

  /** Canonical EVAL-suite MinHash index location — the frozen benchmark
    * side of the fuzzy contamination rule
    * ([[graft.ext.Contamination.neardupContaminationAgainstIndex]]).
    * Distinct from [[minhashIndexPathFor]] because the two indexes hold
    * different corpora over the same sfDir (standing corpus vs eval
    * slice) and must never be served for each other.
    */
  def minhashEvalIndexPathFor(sfDir: String): String =
    IndexStamp.pathUnderRoot(
      "graft-minhash-eval1-" + sfDir.replaceAll("[^A-Za-z0-9.]", "_"))

  /** The fuzzy re-decontamination delta's lifecycle-demo index location
    * (base benchmarks at ingest 0, an appended suite at ingest 1 — the
    * [[graft.ext.Contamination.evalDeltaIndexPathFor]] convention).
    */
  def minhashEvalDeltaIndexPathFor(sfDir: String): String =
    IndexStamp.pathUnderRoot(
      "graft-minhash-evald1-" + sfDir.replaceAll("[^A-Za-z0-9.]", "_"))

  /** Shingle/banding parameters ride IN the index (1-row `params`
    * table): every append and read derives shingles and bands with the
    * stored values, so a caller can't silently mix segmentations.
    */
  private def minhashParams(spark: org.apache.spark.sql.SparkSession,
                            path: String): (Int, Int, Int) = {
    // Metadata-validated driver memo — a plain read is a full Spark job
    // per screen call ([[IndexStamp.cachedParamsHead]]).
    val r = IndexStamp.cachedParamsHead(spark, s"$path/params")
    (r.getAs[Int]("shingle_size"), r.getAs[Int]("num_hashes"),
      r.getAs[Int]("bands"))
  }

  /** Full build: the corpus becomes ingest 0 of both tables. */
  def buildMinhashIndex(docs: DataFrame, path: String,
                        shingleSize: Int = 3, numHashes: Int = 32,
                        bands: Int = 8): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    // Rebuild discipline for the sibling-directory layout (the
    // buildBm25Index rules): the OLD marker is dropped before anything
    // mutates — this build rewrites three SIBLING dirs, so a rebuild
    // crash after the sets overwrite would otherwise leave corpus-A
    // bands marker-valid over corpus-B sets — and the compaction fold
    // record resets with the ingest-id namespace (a stale record would
    // silently no-op a genuinely NEW batch reusing a folded id; a
    // stale `_compact` staging could "resume" a pre-rebuild fold).
    IndexStamp.dropMarker(spark, minhashMarker(path))
    IndexStamp.dropCompactionRecord(spark, path)
    Seq((shingleSize, numHashes, bands))
      .toDF("shingle_size", "num_hashes", "bands")
      .write.mode("overwrite").parquet(s"$path/params")
    // Persist the shingle aggregate across the two writes: bands derive
    // from sets, and without the pin the second write would re-run the
    // corpus scan. (NOT a read-back of the written parquet — an empty
    // base writes zero part files, which a read-back can't re-infer.)
    val sets = shingleSetsOf(docs, shingleSize).persist()
    try {
      // partitionOverwriteMode pinned STATIC: a rebuild must replace
      // the WHOLE table — under a session-wide dynamic default the
      // overwrite would replace only ingest=0 and leave stale appended
      // partitions behind a fresh stamp (the buildBm25Index rule).
      sets.withColumn("ingest", lit(0L))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("ingest").parquet(s"$path/sets")
      // One file per band per ingest (the BM25 bucket rationale): band
      // cardinality is small and fixed, so without the repartition every
      // shuffle task writes into every band dir.
      setBandRows(sets, numHashes, bands)
        .withColumn("ingest", lit(0L))
        .repartition(col("band"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("ingest", "band").parquet(s"$path/bands")
    } finally { sets.unpersist(); () }
  }

  /** Append a batch under `ingestId` (batchId-idempotent: a replayed id
    * dynamically overwrites its own partitions; a compacted-away id
    * no-ops). Sets first, bands last — the marker lives on bands, so a
    * crash between the writes leaves set rows without band rows: those
    * corpus docs are unreachable as candidates (screen errs novel) and
    * the replay heals both, rather than band rows pointing at sets that
    * aren't there (a verify-join null).
    */
  def appendMinhashIndex(docs: DataFrame, path: String,
                         ingestId: Long = -1L): Unit = {
    val spark = docs.sparkSession
    IndexStamp.appendLifecycle(spark, path, minhashMarker(path),
        s"$path/bands", ingestId) {
      buildMinhashIndex(docs, path)
    } {
      buildMinhashIndex(docs.limit(0), path)
    } { id =>
      val (shingleSize, numHashes, bands) = minhashParams(spark, path)
      // Pinned across the two writes for the build-path reason.
      val sets = shingleSetsOf(docs, shingleSize).persist()
      try {
        sets.withColumn("ingest", lit(id))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("ingest").parquet(s"$path/sets")
        setBandRows(sets, numHashes, bands)
          .withColumn("ingest", lit(id))
          .repartition(col("band"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("ingest", "band").parquet(s"$path/bands")
      } finally { sets.unpersist(); () }
    }
  }

  /** Compact: fold every ingest partition of both tables into the base
    * (ingest 0). Rows are independent, so the fold is pure re-layout —
    * [[minhashNovelAgainstIndex]] over the compacted index equals the
    * appended index exactly; folded-id replays no-op.
    */
  def compactMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String): Boolean =
    IndexStamp.compactLifecycle(spark, path, minhashMarker(path),
        Seq(s"$path/bands", s"$path/sets")) {
      case Seq(stgBands, stgSets) =>
        spark.read.parquet(s"$path/sets")
          .select(col("doc_id"), col("shset"))
          .withColumn("ingest", lit(0L))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "static")
          .partitionBy("ingest").parquet(stgSets)
        spark.read.parquet(s"$path/bands")
          .select(col("doc_id"), col("band"), col("band_hash"))
          .withColumn("ingest", lit(0L))
          .repartition(col("band"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "static")
          .partitionBy("ingest", "band").parquet(stgBands)
    }

  /** Build only when absent or stale (the [[IndexStamp.ensureFresh]]
    * source-fingerprint contract every index family here shares).
    * Returns true iff the build ran.
    */
  def ensureMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                         docs: => DataFrame, path: String,
                         shingleSize: Int = 3, numHashes: Int = 32,
                         bands: Int = 8,
                         sourcePath: Option[String] = None): Boolean =
    IndexStamp.ensureFresh(spark, minhashMarker(path), path, sourcePath) {
      buildMinhashIndex(docs, path, shingleSize, numHashes, bands)
    }

  /** Per-doc novelty verdicts against the persisted corpus index —
    * [[minhashNovel]] with the standing side read from storage instead
    * of recomputed: (doc_id, is_novel, best_jaccard, match_id), the
    * same verdict shape as
    * [[graft.ext.Similarity.semanticNovelAgainstIndex]]. No corpus data
    * (including no index at all) means every doc is novel — the
    * cold-start gate lives in the operator so batch and stream callers
    * share it. Candidates form only inside shared band buckets (the
    * bands join carries Σ per-bucket |new|·|corpus| pairs, never
    * corpus²); verification joins the stored sets — corpus text is
    * never touched.
    *
    * THREE plan shapes, keyed to which side is small (broadcastIndex
    * wins when both flags are set):
    *   - `broadcastBatch` (default): per-trigger-sized batch broadcast
    *     into a streamed scan of the at-rest index — the streaming
    *     screen's shape (the index is the big side).
    *   - `broadcastBatch = false`: co-partitioned merge, both sides
    *     shuffle once — backfill against a comparable-sized index.
    *   - `broadcastIndex`: the whole index (bands AND sets) broadcast
    *     into a streamed scan of the BATCH — the decontamination
    *     polarity, where the index is an eval suite (benchmark-sized)
    *     and the "batch" is a corpus-scale backfill; the only
    *     batch-sized exchange left is the shingle aggregate itself,
    *     which the candidate join-back reuses (merge pin).
    */
  def minhashNovelAgainstIndex(newDocs: DataFrame, path: String,
                               threshold: Double = 0.5,
                               broadcastBatch: Boolean = true,
                               broadcastIndex: Boolean = false,
                               maxBucket: Int = DefaultMaxBucket,
                              observeName: String = "lsh_bucket_clamp_verified",
                               shingles: Option[DataFrame] = None,
                               shinglesN: Option[Int] = None,
                               sets: Option[DataFrame] = None,
                               setsN: Option[Int] = None)
      : DataFrame = {
    val spark = newDocs.sparkSession
    val dir = new org.apache.hadoop.fs.Path(s"$path/bands")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!IndexStamp.hasIngestData(fs, dir))
      return newDocs.select(col("doc_id"), lit(true).as("is_novel"),
        lit(null).cast("double").as("best_jaccard"),
        lit(null).cast("long").as("match_id"))
        .orderBy("doc_id")
    val matches = minhashMatchRows(newDocs, path, threshold,
        broadcastBatch, broadcastIndex, maxBucket, observeName,
        withIngest = false, shingles = shingles, shinglesN = shinglesN,
        sets = sets, setsN = setsN)
      .groupBy("doc_id")
      .agg(max(struct(round(col("j"), 4).as("j"), col("corpus_id"))).as("m"))
      .select(col("doc_id"), col("m.j").as("best_jaccard"),
        col("m.corpus_id").as("match_id"))
    newDocs.select(col("doc_id"))
      .join(matches, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("best_jaccard").isNull.as("is_novel"),
        col("best_jaccard"), col("match_id"))
      .orderBy("doc_id")
  }

  /** Verified match rows of a batch against the persisted MinHash index
    * — [[minhashNovelAgainstIndex]] BEFORE its per-doc best-match
    * aggregation: one row per (doc, corpus match) pair at `j >=
    * threshold`, plan shapes identical to the screen's. `withIngest`
    * additionally carries each matched corpus doc's ingest partition —
    * the state column the re-decontamination delta splits on
    * ([[graft.ext.Contamination.redecontaminateNeardupDelta]]).
    * Requires index data present (callers gate on the marker).
    */
  private[ext] def minhashMatchRows(newDocs: DataFrame, path: String,
                                    threshold: Double,
                                    broadcastBatch: Boolean,
                                    broadcastIndex: Boolean,
                                    maxBucket: Int,
                                    observeName: String,
                                    withIngest: Boolean,
                                    shingles: Option[DataFrame] = None,
                                    shinglesN: Option[Int] = None,
                                    sets: Option[DataFrame] = None,
                                    setsN: Option[Int] = None)
      : DataFrame = {
    val spark = newDocs.sparkSession
    val (shingleSize, numHashes, bands) = minhashParams(spark, path)
    // A caller-provided shingle stream (the composites' one-batch-pass
    // contract, [[containmentPairsRaw]]'s declared-N convention) is used
    // only when its gram size equals the size STORED IN THE INDEX —
    // unlike the in-frame operators the caller cannot know that size up
    // front, so a mismatch falls back to a fresh pass instead of
    // throwing (verdicts never depend on the handoff). A caller-provided
    // pre-AGGREGATED set frame (the composites' one-set-aggregate
    // contract, r19) goes one step further and replaces this operator's
    // own collect_set pass under the same declared-N rule.
    shingles.foreach { _ =>
      require(shinglesN.isDefined,
        "shingles supplied without shinglesN: declare the gram size " +
          "the stream was built with")
    }
    val sharedSh = shingles.filter(_ => shinglesN.contains(shingleSize))
    val callerSets = resolveSets(sets, setsN, shingleSize)
    // The shingle aggregate feeds TWO consumers (band rows; the verify
    // join-back's set_n). Exchange reuse does NOT deduplicate them here
    // the way it does in [[minhashNovel]] (measured: two full tokenize
    // passes in the final adaptive plan) — under broadcastIndex the
    // batch is backfill-scale by contract, so the second pass is a
    // second CORPUS scan: checkpoint the (doc_id, shset) frame once
    // (lazy — the first action materializes it; ~16 B × shingles,
    // spillable, the composites' convention). The broadcastBatch paths
    // keep their measured plans: the batch there is trigger-sized by
    // contract, so the duplicate pass is bounded and not worth the
    // per-trigger block churn.
    val newSets0 = callerSets.getOrElse(
      shingleSetsOf(newDocs, shingleSize, sharedSh))
    val newSets =
      // Caller-provided sets are already checkpointed by their owner
      // (the composite) — re-checkpointing a checkpoint scan would copy
      // the blocks for nothing.
      if (broadcastIndex && callerSets.isEmpty)
        newSets0.localCheckpoint(eager = false)
      else newSets0
    // IndexCache.read = plain parquet scan unless spark.graft.indexCache
    // is on, in which case the at-rest table serves from the persisted
    // per-ingest-partition mirror — the cross-trigger answer to the
    // full-table columnar rescan the 10M drill measured (SCALE.md r14).
    val idxBands = IndexCache.read(spark, s"$path/bands")
      .select(col("doc_id").as("corpus_id"), col("band"), col("band_hash"))
    // Join strategy is THE per-batch cost at 100 TB. Default
    // (broadcastBatch): the batch's band rows — per-trigger-ingest
    // sized by this operator's contract — broadcast into a STREAMED
    // scan of the at-rest bands table, so the corpus side is never
    // shuffled per batch; downstream the small candidate set drives
    // broadcast probes of the sets table the same way (zero
    // corpus-sized exchanges end to end). A backfill-sized "batch"
    // overflows the broadcast limit — pass broadcastBatch = false for
    // the co-partitioned merge plan (both sides shuffle once), or use
    // [[minhashNovel]] and recompute.
    val nBands = setBandRows(newSets, numHashes, bands)
    // Hot-bucket ceiling on the corpus side ([[capBandBuckets]]'s
    // contract — at-rest boilerplate buckets are the one skew exposure
    // of this join). In the broadcast plan the window count would be a
    // corpus-wide exchange — exactly what that plan exists to avoid —
    // so the at-rest scan is first pruned to the buckets the batch
    // actually PROBES (a broadcast semi-join on the batch's distinct
    // bucket keys; survivors are Σ probed-bucket sizes,
    // batch-proportional) and the count runs over that small frame.
    // Per-bucket size over the semi-join equals the true corpus bucket
    // size (a semi-join keeps every corpus row of a probed bucket), so
    // verdicts are identical to the merge plan's corpus-wide window.
    val cSide =
      if (broadcastIndex)
        // Eval-suite-sized index: the bucket-cap window runs over the
        // small at-rest frame (never anything batch-sized), then the
        // whole capped band table broadcasts into a streamed batch scan.
        broadcast(if (maxBucket <= 0) idxBands
          else capBandBuckets(idxBands, maxBucket, observeName))
      else if (maxBucket <= 0) idxBands
      else if (broadcastBatch)
        capBandBuckets(
          idxBands.join(
            broadcast(nBands.select("band", "band_hash").distinct()),
            Seq("band", "band_hash"), "left_semi"),
          maxBucket, observeName)
      else capBandBuckets(idxBands, maxBucket, observeName)
    val nSide =
      if (broadcastIndex) nBands
      else if (broadcastBatch) broadcast(nBands)
      else nBands.hint("merge")
    val cand = nSide.as("n")
      .join(cSide.as("c"),
        col("n.band") === col("c.band") &&
          col("n.band_hash") === col("c.band_hash"))
      .select(col("n.doc_id").as("doc_id"), col("corpus_id"))
      .distinct()
    val setCols =
      Seq(col("doc_id").as("corpus_id"), col("shset").as("set_c")) ++
        (if (withIngest) Seq(col("ingest").cast("long").as("ing"))
         else Nil)
    val idxSets = IndexCache.read(spark, s"$path/sets")
      .select(setCols: _*)
    // The verify probe MUST broadcast under the per-trigger plan: left
    // to the planner, this join's static estimate of the at-rest sets
    // table (the index's BIG table — full shingle-set arrays) picks a
    // sort-merge join, and AQE materializes BOTH map sides before it
    // can convert — i.e. the whole sets table is shuffle-WRITTEN every
    // trigger even when the join later executes as a broadcast. The
    // instrumented 20M drill caught exactly that: a constant
    // ~9.4 GB/trigger write (≈ the sets table), iowait-bound spread,
    // gone with the explicit broadcast. The candidate probe is
    // batch-proportional by this operator's contract (bucket caps
    // bound its fan-out), so it broadcasts like the band probe above;
    // the merge plan (backfill shape) keeps the co-partitioned join.
    // Under broadcastIndex the candidate→set_n join-back merge-pins for
    // minhashNovel's reason: it needs hashpartitioning(doc_id), the
    // exact exchange the shingle aggregate already produced, so AQE
    // reuses it instead of re-running the batch tokenize into a
    // broadcast build.
    val setN = newSets.select(col("doc_id"), col("shset").as("set_n"))
    val probe0 = cand
      .join(if (broadcastIndex) setN.hint("merge") else setN,
        Seq("doc_id"))
    val probe =
      if (broadcastBatch && !broadcastIndex) broadcast(probe0) else probe0
    val outCols =
      Seq(col("doc_id"),
        (col("__ov") /
          (size(col("set_n")) + size(col("set_c")) - col("__ov")))
          .as("j"), col("corpus_id")) ++
        (if (withIngest) Seq(col("ing")) else Nil)
    probe
      .join(if (broadcastIndex) broadcast(idxSets) else idxSets,
        Seq("corpus_id"))
      .withColumn("__ov",
        graft.functions.SetFunctions.set_overlap(col("set_n"), col("set_c"))
          .cast("double"))
      .select(outCols: _*)
      .filter(col("j") >= threshold)
  }

  /** Winnowing fingerprints (rolling-hash document fingerprinting): the
    * minimum shingle hash of every `window`-wide sliding window, distinct
    * per doc. Robust to insertions/reordering the way single whole-doc
    * hashes aren't; two docs sharing fingerprints share regions. Built on
    * the compiled [[hashedShingles]] stream.
    */
  def winnowedFingerprints(docs: DataFrame, shingleSize: Int = 3,
                           window: Int = 4): DataFrame =
    winnowedFingerprintsRaw(docs, shingleSize, window)
      .orderBy("doc_id", "fingerprint")

  /** [[winnowedFingerprints]] without the presentation sort — the
    * composable form [[containmentPairs]] builds on.
    */
  private def winnowedFingerprintsRaw(docs: DataFrame, shingleSize: Int,
                                      window: Int,
                                      shingles: Option[DataFrame] = None)
      : DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // A provided stream must carry POSITIONS (the window minima depend
    // on document order) — the (doc_id, h)-only checkpoint the minhash
    // consumers share is not enough here.
    shingles.getOrElse(hashedShingles(docs, shingleSize))
      .select(col("doc_id"), col("pos"), col("h")).as[(Long, Int, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (id: Long, rows: Iterator[(Long, Int, Long)]) =>
        // Sort by the emitted shingle position — row arrival order inside
        // flatMapGroups is not a Spark contract, and the window minima
        // depend on document order.
        val hs = rows.map(r => (r._2, r._3)).toArray.sortBy(_._1).map(_._2)
        if (hs.length < window) hs.distinct.sorted.iterator.map((id, _))
        else hs.sliding(window).map(_.min).toArray
          .distinct.sorted.iterator.map((id, _))
      }
      .toDF("doc_id", "fingerprint")
  }

  /** Asymmetric CONTAINMENT pairs over the winnowed fingerprints:
    * c(A in B) = |fp(A) ∩ fp(B)| / |fp(A)| — the near-dup flavor
    * Jaccard misses by construction. A short doc fully quoted inside a
    * long one (syndicated article + boilerplate, a passage lifted into
    * a larger page) has high containment but LOW Jaccard (the union is
    * dominated by the long doc), so a symmetric threshold never sees
    * it; training-data curation wants exactly these one-sided
    * inclusions. Output keeps BOTH directions per unordered pair and
    * survives when either reaches `threshold`.
    *
    * Shape: candidates form by equality on shared fingerprints (an
    * inverted self-join — cost tracks collisions, never n², with hot
    * fingerprints clamped by [[capBandBuckets]] under `observeName`;
    * boilerplate grams are exactly the hot case), then one pair-keyed
    * count joins two broadcast-scale size tables. Sizes come from the
    * UNCAPPED stream — the clamp prunes candidates, never the
    * denominator. Complete for `threshold` > 0 absent clamp drops:
    * any pair with a shared fingerprint meets the join.
    */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.5,
                       shingleSize: Int = 3, window: Int = 4,
                       maxBucket: Int = DefaultMaxBucket,
                       observeName: String = "containment_fp_clamp")
      : DataFrame =
    containmentPairsRaw(docs, threshold, shingleSize, window, maxBucket,
      observeName).orderBy("doc_a", "doc_b")

  /** [[containmentPairs]] without the presentation sort — the
    * composable form [[CorpusPrep.prepare]]'s cluster-edge widening
    * builds on. `shingles` lets a caller feed one materialized
    * POSITIONAL [[hashedShingles]] stream (doc_id, pos, h) instead of
    * a fresh corpus pass; like [[Contamination.ngramOverlap]]'s
    * trainShingles, the stream's gram size must be DECLARED
    * (`shinglesN`) and match `shingleSize` — a mismatch would silently
    * change fingerprint semantics, the worst failure mode for a
    * hygiene screen.
    */
  private[ext] def containmentPairsRaw(docs: DataFrame, threshold: Double,
                                       shingleSize: Int, window: Int,
                                       maxBucket: Int,
                                       observeName: String,
                                       shingles: Option[DataFrame] = None,
                                       shinglesN: Option[Int] = None)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    shingles.foreach { _ =>
      val sn = shinglesN.getOrElse(throw new IllegalArgumentException(
        "shingles supplied without shinglesN: declare the gram size " +
          "the stream was built with (must equal shingleSize)"))
      require(sn == shingleSize, s"shingles built with n=$sn but " +
        s"fingerprints requested over n=$shingleSize grams")
    }
    val fps = winnowedFingerprintsRaw(docs, shingleSize, window, shingles)
    // The denominator rides each row instead of living in a separate
    // sizes subtree: a count window over doc_id adds only a local sort
    // (the flatMapGroups output is already hash-clustered by doc_id),
    // where a groupBy-sizes branch + two post-join lookups would
    // re-evaluate the whole shingle/winnow pipeline twice more (plan-
    // measured: 4 parquet scans → 2). Window BEFORE the cap — sizes
    // must come from the uncapped stream.
    val withSize = fps.withColumn("n_fp",
      count(lit(1)).over(Window.partitionBy(col("doc_id"))))
    val capped = capBandBuckets(
      withSize.select(col("doc_id"), col("n_fp"), lit(0).as("band"),
        col("fingerprint").as("band_hash")),
      maxBucket, observeName)
    // merge pin → both sides shuffle the same subtree on the same key
    // and AQE reuses the one fingerprint pipeline.
    val a = capped.select(col("doc_id").as("doc_a"),
      col("n_fp").as("n_a"), col("band_hash")).hint("merge")
    val b = capped.select(col("doc_id").as("doc_b"),
      col("n_fp").as("n_b"), col("band_hash"))
    a.join(b, Seq("band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      // n_a/n_b are functions of doc_a/doc_b — grouping on them adds
      // no groups, just keeps the denominators in scope
      .groupBy("doc_a", "doc_b", "n_a", "n_b")
      .agg(count(lit(1)).as("shared"))
      .select(col("doc_a"), col("doc_b"), col("shared"),
        round(col("shared") / col("n_a"), 4).as("a_in_b"),
        round(col("shared") / col("n_b"), 4).as("b_in_a"))
      .filter(greatest(col("a_in_b"), col("b_in_a")) >= threshold)
  }

  // ---------------------------------------------------------------------
  // Persisted winnow-fingerprint index — the cross-corpus containment
  // screen ("is this new batch contained in the standing corpus", the
  // streaming-ingest question [[containmentPairs]] can't answer without
  // rescanning the corpus). Same lifecycle skeleton as the MinHash
  // index: IndexStamp marker + stored build params + broadcast probe
  // pruning; corpus text is never touched at screen time.
  // ---------------------------------------------------------------------

  private def containMarker(path: String) = s"$path/fps/_SUCCESS"

  /** Canonical per-corpus containment-index location (the
    * [[minhashIndexPathFor]] convention).
    */
  def containIndexPathFor(sfDir: String): String =
    IndexStamp.pathUnderRoot(
      // v2: fps gained the ingest partitioning (append/compact
      // lifecycle) — bump so a pre-partitioning dir can't be served
      "graft-contain2-" + sfDir.replaceAll("[^A-Za-z0-9.]", "_"))

  /** Shingle/window parameters ride IN the index (1-row `params`
    * table) — the stored-parameter rule: screens derive batch
    * fingerprints with the stored values, so a caller can't silently
    * mix segmentations.
    */
  private def containParams(spark: org.apache.spark.sql.SparkSession,
                            path: String): (Int, Int) = {
    // Metadata-validated driver memo — a plain read is a full Spark job
    // per screen call ([[IndexStamp.cachedParamsHead]]).
    val r = IndexStamp.cachedParamsHead(spark, s"$path/params")
    (r.getAs[Int]("shingle_size"), r.getAs[Int]("window"))
  }

  /** Full build: the corpus' winnow fingerprints become the at-rest
    * probe table — (doc_id, fingerprint) rows, 16 bytes each, a
    * fraction of corpus text size, as ingest 0 of the partitioned
    * layout (the shared append/compact lifecycle's namespace). Marker
    * dropped first (the buildMinhashIndex rebuild discipline: params
    * and fps are sibling writes, so a crash between them must not
    * leave corpus-A params marker-valid over corpus-B fingerprints),
    * and the compaction fold record reset with the id namespace.
    */
  def buildContainmentIndex(docs: DataFrame, path: String,
                            shingleSize: Int = 3, window: Int = 4): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    IndexStamp.dropMarker(spark, containMarker(path))
    IndexStamp.dropCompactionRecord(spark, path)
    Seq((shingleSize, window)).toDF("shingle_size", "window")
      .write.mode("overwrite").parquet(s"$path/params")
    winnowedFingerprintsRaw(docs, shingleSize, window)
      .withColumn("ingest", lit(0L))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "static")
      .partitionBy("ingest").parquet(s"$path/fps")
  }

  /** Append a batch under `ingestId` (batchId-idempotent: a replayed id
    * dynamically overwrites its own partition; a compacted-away id
    * no-ops) — the [[IndexStamp.appendLifecycle]] contract the MinHash
    * index shares. Fingerprints derive with the STORED shingle/window
    * params, never caller-supplied ones.
    */
  def appendContainmentIndex(docs: DataFrame, path: String,
                             ingestId: Long = -1L): Unit = {
    val spark = docs.sparkSession
    IndexStamp.appendLifecycle(spark, path, containMarker(path),
        s"$path/fps", ingestId) {
      buildContainmentIndex(docs, path)
    } {
      buildContainmentIndex(docs.limit(0), path)
    } { id =>
      val (shingleSize, window) = containParams(spark, path)
      winnowedFingerprintsRaw(docs, shingleSize, window)
        .withColumn("ingest", lit(id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest").parquet(s"$path/fps")
    }
  }

  /** Compact: fold every ingest partition into the base (ingest 0).
    * Rows are independent, so the fold is pure re-layout —
    * [[containmentAgainstIndex]] over the compacted index equals the
    * appended index exactly; folded-id replays no-op.
    */
  def compactContainmentIndex(spark: org.apache.spark.sql.SparkSession,
                              path: String): Boolean =
    IndexStamp.compactLifecycle(spark, path, containMarker(path),
        Seq(s"$path/fps")) {
      case Seq(stgFps) =>
        spark.read.parquet(s"$path/fps")
          .select(col("doc_id"), col("fingerprint"))
          .withColumn("ingest", lit(0L))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "static")
          .partitionBy("ingest").parquet(stgFps)
    }

  /** Build only when absent or source-stale ([[IndexStamp.ensureFresh]]).
    * Returns true iff the build ran.
    */
  def ensureContainmentIndex(spark: org.apache.spark.sql.SparkSession,
                             docs: => DataFrame, path: String,
                             shingleSize: Int = 3, window: Int = 4,
                             sourcePath: Option[String] = None): Boolean =
    IndexStamp.ensureFresh(spark, containMarker(path), path, sourcePath) {
      buildContainmentIndex(docs, path, shingleSize, window)
    }

  /** Per-doc containment verdicts against the persisted corpus index:
    * (doc_id, is_novel, best_containment, match_id) where the score is
    * c(new in corpus) = |fp(new) ∩ fp(C)| / |fp(new)| maximized over
    * corpus docs C — the one-sided "is this batch doc already inside
    * something we hold" question (a quoted passage scores ~1 against
    * its container regardless of the container's size). No index at
    * all means every doc is novel (the [[minhashNovelAgainstIndex]]
    * cold-start gate).
    *
    * Join strategy mirrors the MinHash screen: default
    * (`broadcastBatch`) broadcasts the per-trigger-sized batch
    * fingerprints into a streamed scan of the at-rest table — zero
    * corpus-sized exchanges — with the hot-fingerprint cap applied
    * AFTER a broadcast semi-join prune to the probed fingerprints
    * (per-bucket size over a semi-join equals the true bucket size, so
    * verdicts match the merge plan's corpus-wide window). Backfill-
    * sized batches pass `broadcastBatch = false` for the
    * co-partitioned merge plan. The batch-side denominator |fp(new)|
    * rides the rows via a count window over the winnow output's
    * existing doc clustering — sizes always come from the uncapped
    * stream.
    */
  def containmentAgainstIndex(newDocs: DataFrame, path: String,
                              threshold: Double = 0.5,
                              broadcastBatch: Boolean = true,
                              maxBucket: Int = DefaultMaxBucket,
                              observeName: String = "containment_idx_clamp",
                              shingles: Option[DataFrame] = None,
                              shinglesN: Option[Int] = None)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = newDocs.sparkSession
    val dir = new org.apache.hadoop.fs.Path(s"$path/fps")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Gate on DATA partitions, not the marker: a committed empty base
    // (stream cold-start) has a marker but zero ingest dirs, and
    // reading it as parquet would fail schema inference.
    if (!IndexStamp.hasIngestData(fs, dir))
      return newDocs.select(col("doc_id"), lit(true).as("is_novel"),
        lit(null).cast("double").as("best_containment"),
        lit(null).cast("long").as("match_id"))
        .orderBy("doc_id")
    val (shingleSize, window) = containParams(spark, path)
    // Shared POSITIONAL shingle stream, used only when its declared gram
    // size equals the index's stored one (the minhashMatchRows rule —
    // mismatch falls back to a fresh pass, never changes fingerprints).
    shingles.foreach { _ =>
      require(shinglesN.isDefined,
        "shingles supplied without shinglesN: declare the gram size " +
          "the stream was built with")
    }
    val sharedSh = shingles.filter(_ => shinglesN.contains(shingleSize))
    val bfp = winnowedFingerprintsRaw(newDocs, shingleSize, window, sharedSh)
      .withColumn("n_fp",
        count(lit(1)).over(Window.partitionBy(col("doc_id"))))
    val idx = IndexCache.read(spark, s"$path/fps")
      .select(col("doc_id").as("corpus_id"),
        lit(0).as("band"), col("fingerprint").as("band_hash"))
    val cSide =
      if (maxBucket <= 0) idx
      else if (broadcastBatch)
        capBandBuckets(
          idx.join(
            broadcast(bfp.select(lit(0).as("band"),
              col("fingerprint").as("band_hash")).distinct()),
            Seq("band", "band_hash"), "left_semi"),
          maxBucket, observeName)
      else capBandBuckets(idx, maxBucket, observeName)
    val nSide0 = bfp.select(col("doc_id"), col("n_fp"),
      col("fingerprint").as("band_hash"))
    val nSide = if (broadcastBatch) broadcast(nSide0) else nSide0.hint("merge")
    val matches = nSide.as("n")
      .join(cSide.as("c"), col("n.band_hash") === col("c.band_hash"))
      .groupBy(col("n.doc_id").as("doc_id"), col("corpus_id"), col("n_fp"))
      .agg(count(lit(1)).as("shared"))
      .select(col("doc_id"),
        round(col("shared") / col("n_fp"), 4).as("cont"), col("corpus_id"))
      .filter(col("cont") >= threshold)
      .groupBy("doc_id")
      .agg(max(struct(col("cont"), col("corpus_id"))).as("m"))
      .select(col("doc_id"), col("m.cont").as("best_containment"),
        col("m.corpus_id").as("match_id"))
    newDocs.select(col("doc_id"))
      .join(matches, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("best_containment").isNull.as("is_novel"),
        col("best_containment"), col("match_id"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // Near-dup clustering (connected components)
  // ---------------------------------------------------------------------

  /** Connected components by iterative min-label propagation: every
    * vertex converges to the smallest vertex id reachable from it.
    * `edges` must have long columns `src`/`dst` (undirected; direction
    * and duplicates don't matter).
    *
    * Each iteration is one shuffle-join + aggregate over the edge list —
    * the standard distributed formulation; iteration count tracks
    * component diameter, which for near-dup clusters is tiny (dup groups
    * are dense). Per-iteration results are `localCheckpoint`ed to
    * truncate lineage (plain loops replan the whole history every
    * convergence check); in the local flavor the checkpoint blocks are
    * unreferenced on the next iteration and reclaimed by Spark's
    * ContextCleaner — nothing registers in the cache manager. On a
    * cluster, pass `reliable = true` so iteration state survives
    * executor loss (durable `checkpoint()`; reclamation needs
    * `spark.cleaner.referenceTracking.cleanCheckpoints` — see
    * [[Checkpoints.truncate]]).
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20,
                          reliable: Boolean = false,
                          driverEdgeLimit: Long = 200000L): DataFrame = {
    val ckpt = (df: DataFrame) => Checkpoints.truncate(df, reliable)
    // Checkpoint the symmetrized edge list once: it is consumed by every
    // iteration's join (plus the vertex derivation), and a lazy `edges`
    // plan — e.g. the whole MinHash+LSH pipeline — would otherwise be
    // recomputed from the source per iteration.
    val symRaw = ckpt(edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst"))))
    val edgeCount = symRaw.count()
    // Small-graph fast path: a near-dup graph is usually orders of
    // magnitude smaller than its corpus — a few thousand edges over a
    // billion docs — and the distributed loop's cost there is pure
    // fixed overhead (repartition + per-iteration join/agg/convergence
    // jobs, ~1–2 s even when the data fits in one task). Below
    // `driverEdgeLimit` SYMMETRIZED edges the labels compute on the
    // driver by union-find instead: bounded METADATA, not corpus data —
    // the default cap is 200k × 16 B ≈ 3 MB, far under a routine
    // broadcast — and the result is identical by construction (min
    // reachable id per vertex; EqualitySpec-pinned against the loop).
    // The distributed loop below remains the scale path; 0 disables.
    if (driverEdgeLimit > 0 && edgeCount <= driverEdgeLimit) {
      val spark = edges.sparkSession
      import spark.implicits._
      val es = symRaw.select(col("src").cast("long"), col("dst").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val nxt = parent(c); parent(c) = r; c = nxt
        }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // Root labels are already component minima (unions always attach
      // the larger root under the smaller).
      val labels = parent.keysIterator.map(v => (v, find(v))).toSeq
      return labels.toDF("id", "comp")
    }
    // Right-size the loop to the GRAPH, not the corpus: running each
    // iteration at the corpus' partition count schedules mostly-empty
    // tasks. ~50k edges per partition keeps mid-size graphs on few
    // tasks while a billion-edge graph still fans out fully.
    val parts = math.max(1L, math.min(
      symRaw.rdd.getNumPartitions.toLong, edgeCount / 50000L + 1L)).toInt
    val sym = ckpt(symRaw.repartition(parts))
    // Seed with iteration 1 computed DIRECTLY off the edge list: with
    // labels initialized to ids, the first propagation's label-join is
    // vacuous (comp == id), so min(self, min neighbor id) per vertex is
    // one groupBy — this replaces both the vertex derivation and a full
    // join iteration. Every vertex of the symmetrized graph appears as
    // `dst`, so no vertex is lost.
    var labels = ckpt(sym.groupBy(col("dst").as("id"))
      .agg(least(col("dst"), min(col("src"))).as("comp")))
    var changed = 1L
    var i = 1
    while (changed > 0 && i < maxIter) {
      val msgs = sym.join(labels, sym("src") === labels("id"))
        .select(col("dst").as("id"), col("comp"))
        .groupBy("id").agg(min(col("comp")).as("msg"))
      val next = ckpt(labels.withColumnRenamed("comp", "old")
        .join(msgs, Seq("id"), "left_outer")
        .select(col("id"), col("old"),
          least(col("old"), coalesce(col("msg"), col("old"))).as("comp")))
      // Min-label propagation is monotone, so labels unchanged across any
      // full iteration are final — the convergence count is a pure probe,
      // not a correctness step. Probing every 2nd iteration halves the
      // count() jobs (the dominant per-iteration fixed cost on small
      // graphs) for at most one extra propagation step after the graph
      // has already settled. `old` is pruned away on non-probe iterations.
      if (i % 2 == 1 || i == maxIter - 1)
        changed = next.filter(col("comp") =!= col("old")).count()
      labels = next.select("id", "comp")
      i += 1
    }
    // Unconverged labels would silently split one real component into
    // several clusters (duplicates retained as distinct "survivors") —
    // fail loudly instead. Propagation moves min labels more than one
    // hop per iteration in practice; a legitimate >maxIter diameter
    // (a 20+-doc similarity chain) should raise maxIter consciously.
    if (changed > 0) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter iterations " +
        s"($changed labels still changing); raise maxIter")
    labels
  }

  /** Corpus-wide near-duplicate cluster assignment: MinHash+LSH pairs
    * ([[minhashNearDupPairs]]) become edges, connected components label
    * every clustered doc with its cluster's minimum doc_id, and docs in
    * no pair are their own singleton cluster. `keep = (doc_id ==
    * cluster_id)` is the canonical survivor — the materializing "which
    * rows do I keep at 100 TB" form of near-dup detection.
    *
    * EXACT duplicates contribute STAR edges (every doc → its digest
    * group's min doc_id) alongside the LSH pairs. Semantically free —
    * identical docs have Jaccard 1 ≥ any threshold, so these edges
    * only ever join docs the pair query already deems duplicates —
    * but structurally load-bearing under the [[capBandBuckets]]
    * ceiling: an m-doc template cluster's band buckets are all hot,
    * its LSH pairs are dropped, and without the star edges the
    * cluster would silently dissolve into m singleton "survivors".
    * The digest path is a hash-agg + one narrow join keyed on the
    * digest — O(n) edges, no pair blowup, no per-group arrays — so
    * mega-clusters cost what they should. (Near-identical template
    * docs that differ by a token still rely on their non-hot bands —
    * the documented clamp trade. A drop is never silent: the clamp
    * observes `dropped_buckets`/`dropped_rows` under `observeName`,
    * and the bench listener turns any non-zero drop into a loud
    * driver-log flag + `clamp_dropped` in BENCH_LAST.json.)
    *
    * `normalizedStarEdges = true` additionally stars docs equal AFTER
    * [[normalize]] (case/punctuation/whitespace variants). This is a
    * SEMANTIC widening, not a free rescue: shingles run over raw
    * tokens, so normalized-equal docs can sit BELOW the Jaccard
    * threshold and would then cluster anyway — turn it on when the
    * pipeline's duplicate notion is "normalized-equal OR near-dup"
    * (the [[normalizedStats]] family's), e.g. template corpora run
    * under aggressive caps where byte-identity is too narrow a
    * rescue. Off by default: the default contract stays exactly
    * "LSH pairs ∪ byte-exact duplicates".
    */
  def nearDupClusters(docs: DataFrame, shingleSize: Int = 3,
                      numHashes: Int = 32, bands: Int = 8,
                      threshold: Double = 0.5,
                      shingles: Option[DataFrame] = None,
                      maxBucket: Int = DefaultMaxBucket,
                      observeName: String = "lsh_bucket_clamp",
                      normalizedStarEdges: Boolean = false,
                      extraEdges: Option[DataFrame] = None,
                      digests: Option[DataFrame] = None,
                      sets: Option[DataFrame] = None): DataFrame = {
    // `extraEdges` (src/dst long columns) widen the similarity graph
    // with edges from OTHER detectors — [[containmentPairs]] in the
    // curation composite (a quoted passage and its container rarely
    // clear a Jaccard threshold, but they are the same content for
    // survivor purposes). Like normalizedStarEdges this is an opt-in
    // semantic widening, not a default. `digests` lets a caller that
    // already computed the raw content digests (CorpusPrep's fused
    // stage-1 scan) feed the star edges without a second corpus scan —
    // (doc_id, __dg) columns; ignored under normalizedStarEdges, whose
    // key is a different function of the text.
    val lshEdges = minhashNearDupPairs(docs, shingleSize, numHashes, bands,
        threshold, shingles, maxBucket, observeName, sets)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    def starsOverFrame(dg: DataFrame): DataFrame = {
      val reps = dg.groupBy("__dg")
        .agg(min(col("doc_id")).as("__rep"), count(lit(1)).as("__n"))
        .filter(col("__n") > 1)
      dg
        .join(reps.select("__dg", "__rep"), Seq("__dg"))
        .filter(col("doc_id") =!= col("__rep"))
        .select(col("doc_id").as("src"), col("__rep").as("dst"))
    }
    def starsOver(key: Column): DataFrame =
      starsOverFrame(docs.select(col("doc_id"), key.as("__dg")))
    val starEdges =
      if (normalizedStarEdges) starsOver(digest(normalize(col("text"))))
      else digests.map(dg => starsOverFrame(dg.select(col("doc_id"),
          col("__dg"))))
        .getOrElse(starsOver(digest(col("text"))))
    val allEdges = extraEdges.foldLeft(lshEdges.unionByName(starEdges)) {
      (acc, e) => acc.unionByName(e.select(col("src"), col("dst")))
    }
    val comps = connectedComponents(allEdges)
    // Singleton assignment needs every doc id; a provided digest frame
    // already carries them all, saving the id-column scan.
    val allIds = digests.map(_.select("doc_id"))
      .getOrElse(docs.select(col("doc_id")))
    allIds
      .join(comps.select(col("id").as("doc_id"), col("comp")),
        Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("cluster_id"))
      .withColumn("keep", col("doc_id") === col("cluster_id"))
      .orderBy("doc_id")
  }

  /** [[nearDupClusters]] with the survivor decided by a QUALITY signal
    * instead of min-id: production dedup keeps the best copy of each
    * near-dup cluster (RefinedWeb keeps the longest; a classifier score
    * slots in the same way), not the lowest id. `quality` is any
    * deterministic per-doc Column over `docs`' columns — the canonical
    * call passes the whitespace token count ("keep the longest") — and
    * ties break on doc_id so the choice is total. The survivor window
    * partitions BY CLUSTER (cluster-sized partitions, never a global
    * window); everything upstream is [[nearDupClusters]]' own plan, so
    * the scale story is unchanged — this adds one quality projection
    * and one per-cluster rank.
    */
  def nearDupClustersKeepBest(docs: DataFrame, quality: Column,
                              shingleSize: Int = 3, numHashes: Int = 32,
                              bands: Int = 8,
                              threshold: Double = 0.5): DataFrame = {
    val clusters = nearDupClusters(docs, shingleSize, numHashes, bands,
        threshold)
      .select(col("doc_id"), col("cluster_id"))
    val q = docs.select(col("doc_id"), quality.as("quality"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id")
      .orderBy(col("quality").desc, col("doc_id"))
    clusters.join(q, Seq("doc_id"))
      .withColumn("keep", row_number().over(w) === 1)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // SimHash
  // ---------------------------------------------------------------------

  /** 64-bit SimHash over the whitespace token stream: per-bit vote of
    * token hashes, sign → bit. One explode + one 64-column hash-aggregate.
    */
  def simhash(docs: DataFrame): DataFrame =
    simhashRaw(docs).orderBy("doc_id")

  /** [[simhash]] without the presentation sort — the composable form
    * [[simhashNearDupPairs]] builds on.
    */
  private def simhashRaw(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(split(trim(col("text")), "\\s+")).as("tok"))
    val h = xxhash64(col("tok"))
    val votes = (0 until 64).map { b =>
      sum(when(shiftright(h, b).bitwiseAND(1L) === 1L, 1).otherwise(-1))
        .as(s"b$b")
    }
    val voted = toks.groupBy("doc_id").agg(votes.head, votes.tail: _*)
    val bits = (0 until 64).map { b =>
      shiftleft(when(col(s"b$b") > 0, 1L).otherwise(0L), b)
    }
    voted.select(col("doc_id"),
      bits.reduce(_ bitwiseOR _).as("simhash"))
  }

  /** SimHash near-dup pairs: docs whose 64-bit [[simhash]] fingerprints
    * differ in at most `maxHamming` bits — the SimHash member of the
    * banded candidate-join family, completing the fingerprint the way
    * the LSH joins complete MinHash. Candidates form by EXACT match on
    * any of four 16-bit bands of the fingerprint, and unlike MinHash
    * banding this is COMPLETE, not probabilistic: ≤ 3 differing bits
    * cannot touch all four bands (pigeonhole), so every true pair
    * shares at least one intact band — recall 1.0 by construction, the
    * classic Charikar/Manku web-dedup layout. `maxHamming` > 3 breaks
    * that bound, so it is rejected rather than silently losing recall
    * (larger radii need more, narrower bands).
    *
    * Cost is Σ per-bucket pairs like the MinHash joins, under the same
    * [[capBandBuckets]] ceiling (a template sub-corpus agrees on ALL
    * bands). The 8-byte fingerprint rides THROUGH the band join (the
    * fused shape): the join-back trade that wins for MinHash payloads
    * (256-byte signatures, KB-scale sets) loses here — two extra
    * shuffled joins to save an 8-byte column is the wrong side of it.
    */
  def simhashNearDupPairs(docs: DataFrame, maxHamming: Int = 3,
                          maxBucket: Int = DefaultMaxBucket,
                          observeName: String = "simhash_bucket_clamp")
      : DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"maxHamming $maxHamming outside [0, 7]: 4×16-bit banding is " +
        "complete through Hamming 3 and its single-bit-expanded " +
        "multi-index form through 7; larger radii need a wider " +
        "expansion this operator does not implement")
    if (maxHamming <= 3) simhashPairsBanded(docs, maxHamming, maxBucket,
      observeName)
    else simhashPairsMih(docs, maxHamming, maxBucket, observeName)
  }

  /** Arithmetic shift + low-16 mask == unsigned band extract (sign
    * extension only ever reaches masked-away high bits).
    */
  private def simhashBandRows(fp: DataFrame): DataFrame =
    fp.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("simhash"), b * 16).bitwiseAND(0xFFFFL)
              .as("band_hash"))): _*)).as("bh"))
      .select(col("doc_id"), col("simhash"),
        col("bh.band").as("band"), col("bh.band_hash").as("band_hash"))

  private def simhashPairFilter(joined: DataFrame,
                                maxHamming: Int): DataFrame =
    joined
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      // A pair agreeing in several bands yields identical rows.
      .distinct()
      .orderBy("doc_a", "doc_b")

  /** The radius ≤ 3 layout: exact match on any intact 16-bit band. */
  private def simhashPairsBanded(docs: DataFrame, maxHamming: Int,
                                 maxBucket: Int,
                                 observeName: String): DataFrame = {
    val bandRows = capBandBuckets(simhashBandRows(simhashRaw(docs)),
      maxBucket, observeName)
    // merge pin → both sides shuffle the same subtree on the same key
    // and AQE reuses the one fingerprint pipeline (the MinHash joins'
    // rationale).
    val a = bandRows.as("a").hint("merge")
    val b = bandRows.as("b")
    simhashPairFilter(a.join(b,
      col("a.band") === col("b.band") &&
      col("a.band_hash") === col("b.band_hash") &&
      col("a.doc_id") < col("b.doc_id")), maxHamming)
  }

  /** The radius 4–7 layout — multi-index hashing (the published
    * large-scale Hamming-search design): pigeonhole over 4 blocks puts
    * some block at distance ≤ ⌊7/4⌋ = 1 for any pair within Hamming 7,
    * and a block pair at distance ≤ 1 ALWAYS matches plain-vs-expanded
    * where the expanded side carries the block value plus its 16
    * single-bit flips. Completeness therefore survives without
    * narrowing the key: NOT the naive 8×8-bit banding, whose 256
    * distinct buckets per band birthday-pack into corpus-scale
    * monsters at ~10⁵ docs (the cap would then drop RANDOM collisions
    * and silently break the radius guarantee) — here keys keep the
    * full 16-bit entropy and cost is a 17× expansion of ONE join side.
    * Both sides ride the same hot-bucket cap, observed under
    * `observeName` (plain) and `observeName_x` (expanded).
    *
    * The (doc_id, simhash) frame is `localCheckpoint`ed (16 bytes/doc,
    * lazy) and both join sides derive from it: the fingerprint
    * aggregate — explode tokens + 64 bit-vote columns, the
    * corpus-linear expensive stage — runs ONCE. Exchange reuse cannot
    * save it here the way it does for the banded form (the sides'
    * keys differ: plain vs bit-flipped), so the checkpoint is the
    * single-pass mechanism (CorpusPrep.prepare's shared shingle pass
    * is the precedent);
    * PlanGuardSpec pins the shape. On a cluster, swap for reliable
    * `checkpoint()` to also survive executor loss.
    */
  private def simhashPairsMih(docs: DataFrame, maxHamming: Int,
                              maxBucket: Int,
                              observeName: String): DataFrame = {
    val fp = simhashRaw(docs).localCheckpoint(eager = false)
    val plain = capBandBuckets(simhashBandRows(fp), maxBucket, observeName)
    val flips = typedLit(0L +: (0 until 16).map(1L << _))
    val expanded = capBandBuckets(
      simhashBandRows(fp)
        .select(col("doc_id"), col("simhash"), col("band"),
          explode(transform(flips, f => col("band_hash").bitwiseXOR(f)))
            .as("band_hash")),
      maxBucket, observeName + "_x")
    val a = plain.as("a")
    val b = expanded.as("b")
    simhashPairFilter(a.join(b,
      col("a.band") === col("b.band") &&
      col("a.band_hash") === col("b.band_hash") &&
      col("a.doc_id") < col("b.doc_id")), maxHamming)
  }

  // ---------------------------------------------------------------------
  // Persisted SimHash corpus index — the standing-corpus side of the
  // Hamming-radius novelty question materialized once at ingest:
  // `path/fps` holds each corpus doc's 64-bit fingerprint (16 bytes a
  // row — doc_id + simhash — the smallest at-rest footprint of any
  // index family here). Band rows are NOT stored: they derive from a
  // fingerprint with four shift-and-mask projections, so persisting
  // them would 4× the index for work the scan does for free — and
  // keeping the at-rest side radius-agnostic lets one index serve both
  // the plain (≤ 3) and MIH (4–7) probes. No `params` table either:
  // unlike shingle/banding/bucket choices, [[simhash]] has no knobs
  // (tokenizer and 64-bit width are fixed), and `maxHamming` is a
  // SCREEN-time parameter by design. Same lifecycle verbs and
  // crash-safety contract as the MinHash/containment indexes
  // ([[IndexStamp.appendLifecycle]] / [[IndexStamp.compactLifecycle]]).
  // ---------------------------------------------------------------------

  private def simhashMarker(path: String) = s"$path/fps/_SUCCESS"

  /** Canonical per-corpus index location ([[minhashIndexPathFor]]'s
    * convention; bump the version segment on layout changes).
    */
  def simhashIndexPathFor(sfDir: String): String =
    IndexStamp.pathUnderRoot(
      "graft-simhash1-" + sfDir.replaceAll("[^A-Za-z0-9.]", "_"))

  /** Full build: the corpus' fingerprints become ingest 0. Marker
    * dropped first and the compaction fold record reset with the id
    * namespace (the [[buildMinhashIndex]] rebuild discipline).
    */
  def buildSimhashIndex(docs: DataFrame, path: String): Unit = {
    val spark = docs.sparkSession
    IndexStamp.dropMarker(spark, simhashMarker(path))
    IndexStamp.dropCompactionRecord(spark, path)
    simhashRaw(docs)
      .withColumn("ingest", lit(0L))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "static")
      .partitionBy("ingest").parquet(s"$path/fps")
  }

  /** Append a batch under `ingestId` (batchId-idempotent: a replayed id
    * dynamically overwrites its own partition; a compacted-away id
    * no-ops) — the [[IndexStamp.appendLifecycle]] contract.
    */
  def appendSimhashIndex(docs: DataFrame, path: String,
                         ingestId: Long = -1L): Unit = {
    val spark = docs.sparkSession
    IndexStamp.appendLifecycle(spark, path, simhashMarker(path),
        s"$path/fps", ingestId) {
      buildSimhashIndex(docs, path)
    } {
      buildSimhashIndex(docs.limit(0), path)
    } { id =>
      simhashRaw(docs)
        .withColumn("ingest", lit(id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest").parquet(s"$path/fps")
    }
  }

  /** Compact: fold every ingest partition into the base (ingest 0).
    * Rows are independent, so the fold is pure re-layout —
    * [[simhashNovelAgainstIndex]] over the compacted index equals the
    * appended index exactly; folded-id replays no-op.
    */
  def compactSimhashIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String): Boolean =
    IndexStamp.compactLifecycle(spark, path, simhashMarker(path),
        Seq(s"$path/fps")) {
      case Seq(stgFps) =>
        spark.read.parquet(s"$path/fps")
          .select(col("doc_id"), col("simhash"))
          .withColumn("ingest", lit(0L))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "static")
          .partitionBy("ingest").parquet(stgFps)
    }

  /** Build only when absent or source-stale ([[IndexStamp.ensureFresh]]).
    * Returns true iff the build ran.
    */
  def ensureSimhashIndex(spark: org.apache.spark.sql.SparkSession,
                         docs: => DataFrame, path: String,
                         sourcePath: Option[String] = None): Boolean =
    IndexStamp.ensureFresh(spark, simhashMarker(path), path, sourcePath) {
      buildSimhashIndex(docs, path)
    }

  /** Per-doc Hamming-radius novelty verdicts against the persisted
    * fingerprint index — "does the standing corpus already hold a doc
    * within `maxHamming` bits of this one": (doc_id, is_novel,
    * best_hamming, match_id), best = the SMALLEST Hamming distance
    * (ties to the smallest corpus id — one deterministic winner). The
    * verdict-shape sibling of [[minhashNovelAgainstIndex]] /
    * [[containmentAgainstIndex]], completing the indexed twin for the
    * SimHash family. No index data means every doc is novel (the
    * shared cold-start gate).
    *
    * Candidates form inside shared 16-bit band buckets with the SAME
    * completeness arguments as [[simhashNearDupPairs]] — plain
    * plain-vs-plain probe through radius 3 (pigeonhole: one intact
    * band), single-bit-expanded multi-index probe through 7 (some band
    * carries ≤ 1 error) — but the 17× MIH expansion lands on the BATCH
    * side, never the at-rest corpus: per-trigger batches are the small
    * side by this operator's contract, so the corpus scan stays 4
    * shift-derived band rows per doc at any radius. Join strategy
    * mirrors the sibling screens: default (`broadcastBatch`) the
    * batch's band rows broadcast into a streamed corpus scan first
    * PRUNED to the probed buckets (broadcast semi-join on the batch's
    * distinct band keys — so [[capBandBuckets]]'s window never runs
    * corpus-wide); backfill-sized batches pass `broadcastBatch = false`
    * for the co-partitioned merge plan.
    */
  def simhashNovelAgainstIndex(newDocs: DataFrame, path: String,
                               maxHamming: Int = 3,
                               broadcastBatch: Boolean = true,
                               maxBucket: Int = DefaultMaxBucket,
                               observeName: String = "simhash_clamp_novel")
      : DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"maxHamming $maxHamming outside [0, 7]: the banded probe is " +
        "complete through 3 and its expanded multi-index form through 7")
    val spark = newDocs.sparkSession
    val dir = new org.apache.hadoop.fs.Path(s"$path/fps")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!IndexStamp.hasIngestData(fs, dir))
      return newDocs.select(col("doc_id"), lit(true).as("is_novel"),
        lit(null).cast("int").as("best_hamming"),
        lit(null).cast("long").as("match_id"))
        .orderBy("doc_id")
    val batchBands0 = simhashBandRows(simhashRaw(newDocs))
    // Radius 4–7: expand the batch's band keys with all 16 single-bit
    // flips (+ the identity) — [[simhashPairsMih]]'s layout with the
    // expansion pinned to the cheap side.
    val batchBands =
      if (maxHamming <= 3) batchBands0
      else {
        val flips = typedLit(0L +: (0 until 16).map(1L << _))
        batchBands0.select(col("doc_id"), col("simhash"), col("band"),
          explode(transform(flips, f => col("band_hash").bitwiseXOR(f)))
            .as("band_hash"))
      }
    val idxBands = simhashBandRows(
      IndexCache.read(spark, s"$path/fps")
        .select(col("doc_id").as("doc_id"), col("simhash")))
      .select(col("doc_id").as("corpus_id"), col("simhash").as("c_simhash"),
        col("band"), col("band_hash"))
    // Hot-bucket ceiling on the corpus side, pruned to the probed
    // buckets first under the broadcast plan so the cap's window never
    // becomes a corpus-wide exchange ([[minhashNovelAgainstIndex]]'s
    // rationale; per-bucket size over the semi-join equals the true
    // corpus bucket size, so verdicts match the merge plan's).
    val cSide =
      if (maxBucket <= 0) idxBands
      else if (broadcastBatch)
        capBandBuckets(
          idxBands.join(
            broadcast(batchBands.select("band", "band_hash").distinct()),
            Seq("band", "band_hash"), "left_semi"),
          maxBucket, observeName)
      else capBandBuckets(idxBands, maxBucket, observeName)
    val nSide =
      if (broadcastBatch) broadcast(batchBands) else batchBands.hint("merge")
    val matches = nSide.as("n")
      .join(cSide.as("c"),
        col("n.band") === col("c.band") &&
          col("n.band_hash") === col("c.band_hash"))
      .select(col("n.doc_id").as("doc_id"),
        bit_count(col("n.simhash").bitwiseXOR(col("c_simhash")))
          .as("hamming"), col("corpus_id"))
      .filter(col("hamming") <= maxHamming)
      // A pair agreeing in several bands (or several flips) yields
      // duplicate rows; the min-struct absorbs them.
      .groupBy("doc_id")
      .agg(min(struct(col("hamming").cast("int").as("hamming"),
        col("corpus_id"))).as("m"))
      .select(col("doc_id"), col("m.hamming").as("best_hamming"),
        col("m.corpus_id").as("match_id"))
    newDocs.select(col("doc_id"))
      .join(matches, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("best_hamming").isNull.as("is_novel"),
        col("best_hamming"), col("match_id"))
      .orderBy("doc_id")
  }
}
