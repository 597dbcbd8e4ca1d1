package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline —
  * beyond the reference's surface (SURVEY §7.2 PR 5): token counting,
  * quality scoring, language-ID heuristics, document fingerprinting.
  *
  * All per-document derivations are single codegen'd projections (no
  * shuffle, no UDFs); the only shuffles are the final grouped summaries.
  * At 100 TB this layer is scan-bound, which is the best possible shape.
  */
object TextAnalysis {

  /** Whitespace tokenization — token count without materializing the
    * token array when only the count is needed.
    */
  def tokenCount(text: Column): Column = size(split(trim(text), "\\s+"))

  private def alphaLen(text: Column) =
    length(regexp_replace(text, "[^A-Za-z]", ""))
  private def noSpaceLen(text: Column) =
    length(regexp_replace(text, "\\s", ""))

  /** BPE-ish token estimate: word/punctuation pieces (the units a
    * subword tokenizer starts from) — a scan-only proxy for LLM token
    * accounting when the real tokenizer isn't on the cluster.
    */
  def bpeTokenEstimate(text: Column): Column =
    size(regexp_extract_all(text, lit("\\w+|[^\\w\\s]"), lit(0)))

  /** Per-document token/char statistics. */
  def tokenStats(docs: DataFrame): DataFrame = docs.select(
      col("doc_id"),
      tokenCount(col("text")).as("n_tokens"),
      bpeTokenEstimate(col("text")).as("bpe_tokens"),
      length(col("text")).as("n_chars_calc"))
    .orderBy("doc_id")

  /** Corpus summary per language tag. */
  def langStats(docs: DataFrame): DataFrame = docs
    .groupBy(col("lang"))
    .agg(
      count(lit(1)).as("n_docs"),
      avg(tokenCount(col("text"))).as("avg_tokens"),
      avg(col("n_chars")).as("avg_chars"))
    .orderBy("lang")

  /** Heuristic quality scoring: length / alpha-ratio / whitespace-ratio /
    * token-shape signals, plus a categorical verdict. The verdict compares
    * *unrounded* ratios so the decision boundary is exact.
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val text = col("text")
    val nTokens = tokenCount(text)
    val alphaRatio = alphaLen(text) / length(text)
    val spaceRatio = (length(text) - noSpaceLen(text)) / length(text)
    docs.select(
        col("doc_id"),
        nTokens.as("n_tokens"),
        round(alphaRatio, 4).as("alpha_ratio"),
        round(spaceRatio, 4).as("space_ratio"),
        round(noSpaceLen(text) / nTokens, 4).as("avg_token_len"),
        when(qualityOkCol(text), lit("good"))
          .otherwise(lit("poor")).as("quality"))
      .orderBy("doc_id")
  }

  /** The row-local quality verdict as a bare Column (unrounded ratios —
    * the exact decision boundary [[qualityScore]] renders as
    * good/poor): the fusable form [[CorpusPrep.prepare]]'s single
    * stage-1 corpus scan builds on.
    */
  private[ext] def qualityOkCol(text: Column): Column =
    tokenCount(text) >= 5 && alphaLen(text) / length(text) > 0.6

  /** Gopher's DOCUMENT-quality battery (Rae et al. 2021, table A1) —
    * the third member of the Gopher trio next to
    * [[lineRepetitionStats]] and [[gopherNgramStats]]: per document,
    * word count, mean word length (token chars / words), symbol-to-word
    * ratio (occurrences of `#`, `…` and literal `...` per word),
    * bullet-started and ellipsis-ended NON-BLANK line fractions,
    * fraction of words containing at least one alphabetic character,
    * and how many of the paper's eight indicator stopwords (the, be,
    * to, of, and, that, have, with) appear — plus the gate
    * (`gopher_quality_ok`) at the published thresholds, every bound a
    * parameter (the paper's 50–100 000 word window assumes web pages;
    * a caller screening short-form corpora tightens it to fit).
    *
    * Shape: one codegen'd projection over the scan — regex counts and
    * array lambdas, no shuffle, no UDF; scan-bound at 100 TB like the
    * rest of the per-doc quality layer ([[qualityScore]] is the cheap
    * 2-signal pre-gate; this is the full published battery). The final
    * orderBy is the verify surface's total order, not the operator.
    */
  def gopherQualityStats(docs: DataFrame,
                         minWords: Long = 50L, maxWords: Long = 100000L,
                         minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                         maxSymbolRatio: Double = 0.1,
                         maxBulletFrac: Double = 0.90,
                         maxEllipsisFrac: Double = 0.30,
                         minAlphaFrac: Double = 0.80,
                         minStopwords: Int = 2,
                         sep: String = "\n"): DataFrame = {
    val cfg = GopherGateConfig(minWords, maxWords, minMeanLen, maxMeanLen,
      maxSymbolRatio, maxBulletFrac, maxEllipsisFrac, minAlphaFrac,
      minStopwords, sep)
    val s = gopherSignals(col("text"), sep)
    // Two-step projection: the raw signals materialize ONCE per row,
    // then rounding and the gate derive from the projected columns.
    // (CollapseProject keeps the split — it refuses to inline a
    // non-cheap alias referenced twice — so the HOF/regex trees, which
    // subexpression elimination skips, are not re-evaluated for the
    // gate; the single-projection form measured ~2× the per-doc cost.)
    val raw = GopherSignals(col("__nw"), col("__ml"), col("__sr"),
      col("__bf"), col("__ef"), col("__af"), col("__sh"))
    docs.select(col("doc_id"), s.nWords.as("__nw"), s.meanLen.as("__ml"),
        s.symbolRatio.as("__sr"), s.bulletFrac.as("__bf"),
        s.ellipsisFrac.as("__ef"), s.alphaFrac.as("__af"),
        s.stopHits.as("__sh"))
      .select(col("doc_id"), col("__nw").as("n_words"),
        round(col("__ml"), 4).as("mean_word_len"),
        round(col("__sr"), 4).as("symbol_word_ratio"),
        round(col("__bf"), 4).as("bullet_line_frac"),
        round(col("__ef"), 4).as("ellipsis_line_frac"),
        round(col("__af"), 4).as("alpha_word_frac"),
        col("__sh").cast("int").as("stopword_hits"),
        gopherGateOver(raw, cfg).as("gopher_quality_ok"))
      .orderBy("doc_id")
  }

  /** The tunable thresholds of [[gopherQualityStats]]' gate, as one
    * value the curation composites can carry ([[CorpusPrep.prepare]] /
    * [[CorpusPrep.screenIncremental]]'s `gopherGate` knob). Defaults
    * are the published A1 numbers; the 50–100 000 word window assumes
    * web pages — tighten for short-form corpora.
    */
  case class GopherGateConfig(
      minWords: Long = 50L, maxWords: Long = 100000L,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.90,
      maxEllipsisFrac: Double = 0.30, minAlphaFrac: Double = 0.80,
      minStopwords: Int = 2, sep: String = "\n")

  /** The raw per-doc signal columns behind the battery — one source of
    * truth shared by [[gopherQualityStats]] (which rounds for
    * presentation) and [[gopherQualityOkCol]] (which gates on the
    * unrounded values), so the rendered stats and the composites'
    * decision can never drift apart.
    */
  private[ext] final case class GopherSignals(
      nWords: Column, meanLen: Column, symbolRatio: Column,
      bulletFrac: Column, ellipsisFrac: Column, alphaFrac: Column,
      stopHits: Column)

  private[ext] def gopherSignals(text: Column,
                                 sep: String): GopherSignals = {
    val qsep = java.util.regex.Pattern.quote(sep)
    val toks = filter(split(trim(text), "\\s+"), t => t =!= "")
    val nWords = size(toks).cast("long")
    val tokChars = aggregate(toks, lit(0L), (a, t) => a + length(t))
    val meanLen = when(nWords > 0,
      tokChars.cast("double") / nWords.cast("double")).otherwise(lit(0.0))
    def countOf(needle: String, w: Int) =
      (length(text) - length(replace(text, lit(needle), lit("")))) / w
    // Three independent substring counts; the needles cannot overlap
    // textually ('…' is one codepoint, '...' is ASCII).
    val symbols = countOf("#", 1) + countOf("…", 1) + countOf("...", 3)
    val symbolRatio = when(nWords > 0,
      symbols.cast("double") / nWords.cast("double")).otherwise(lit(0.0))
    val lines = filter(transform(split(text, qsep), l => trim(l)),
      l => l =!= "")
    val nLines = size(lines)
    val bullets = size(filter(lines, l =>
      l.startsWith("•") || l.startsWith("‣") || l.startsWith("▪") ||
        l.startsWith("- ") || l.startsWith("* ")))
    val ellipses = size(filter(lines, l =>
      l.endsWith("…") || l.endsWith("...")))
    val bulletFrac = when(nLines > 0,
      bullets.cast("double") / nLines.cast("double")).otherwise(lit(0.0))
    val ellipsisFrac = when(nLines > 0,
      ellipses.cast("double") / nLines.cast("double")).otherwise(lit(0.0))
    val alphaWords = size(filter(toks, t => t.rlike("[A-Za-z]")))
    val alphaFrac = when(nWords > 0,
      alphaWords.cast("double") / nWords.cast("double")).otherwise(lit(0.0))
    val stopHits = GopherStopwords.map(w =>
      when(lower(text).rlike("\\b" + w + "\\b"), lit(1))
        .otherwise(lit(0))).reduce(_ + _)
    GopherSignals(nWords, meanLen, symbolRatio, bulletFrac, ellipsisFrac,
      alphaFrac, stopHits)
  }

  /** The battery's verdict as a bare Column over unrounded signals —
    * the fusable form the composites' single row-local stage builds on
    * (the [[qualityOkCol]] pattern).
    */
  private[ext] def gopherQualityOkCol(text: Column,
                                      cfg: GopherGateConfig): Column =
    gopherGateOver(gopherSignals(text, cfg.sep), cfg)

  /** The gate conjunction over an already-built signal set — so a
    * caller that has the signals as columns (the two-step
    * [[gopherQualityStats]] projection) gates without re-deriving them.
    */
  private[ext] def gopherGateOver(s: GopherSignals,
                                  cfg: GopherGateConfig): Column =
    s.nWords >= cfg.minWords && s.nWords <= cfg.maxWords &&
      s.meanLen >= cfg.minMeanLen && s.meanLen <= cfg.maxMeanLen &&
      s.symbolRatio <= cfg.maxSymbolRatio &&
      s.bulletFrac <= cfg.maxBulletFrac &&
      s.ellipsisFrac <= cfg.maxEllipsisFrac &&
      s.alphaFrac >= cfg.minAlphaFrac && s.stopHits >= cfg.minStopwords

  /** The eight indicator stopwords of Gopher's quality rule. */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  private val EnStopwords = "\\b(the|and|of|to|in|is|a)\\b"

  /** N-gram-free language-ID heuristic: English-stopword hit count →
    * en/other verdict, summarized against the corpus `lang` tag (a
    * confusion-matrix view).
    */
  def langIdHeuristic(docs: DataFrame, minHits: Int = 3): DataFrame = {
    val hits = size(regexp_extract_all(col("text"), lit(EnStopwords), lit(0)))
    docs.select(
        col("lang"),
        when(hits >= minHits, lit("en")).otherwise(lit("other"))
          .as("predicted_lang"))
      .groupBy("lang", "predicted_lang")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "predicted_lang")
  }

  /** Conservative cross-engine regexes (Java regex ∩ RE2 syntax) for the
    * standard pre-training PII scrub.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^\\s]+"
  val LongDigitsRe = "\\b\\d{7,}\\b"

  /** PII scrubbing: emails, URLs and long digit runs (ids/phones) replaced
    * with typed placeholder tokens — the standard redaction pass before a
    * corpus is trainable. A pure regexp projection: codegen'd, scan-bound,
    * no shuffle, and ANSI-expressible for the oracle. Order matters:
    * emails before URLs (an email never contains '://'; a URL may embed
    * '@'), digits last so placeholder text is never re-scanned.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        UrlRe, "<URL>"),
      LongDigitsRe, "<NUMBER>")

  /** Repetition quality signals (the Gopher/RefinedWeb-style filters for
    * machine-generated and boilerplate-heavy text): fraction of duplicate
    * words, most-frequent-word share, most-frequent-bigram share. Rides
    * the same compiled [[Dedup.hashedShingles]] pass the dedup family
    * uses (shingle sizes 1 and 2 — counts over 8-byte hashes, never
    * token strings), so the shape is scan → map-side-combined two-stage
    * hash aggregate; fractions are exact integer ratios, deterministic
    * under any partitioning.
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    def grams(n: Int) = Dedup.hashedShingles(docs, n)
      .groupBy(col("doc_id"), col("h"))
      .agg(count(lit(1)).as("c"))
    val words = grams(1).groupBy("doc_id").agg(
      sum("c").as("n_words"),
      count(lit(1)).as("n_distinct"),
      max("c").as("top_word"))
    val bigrams = grams(2).groupBy("doc_id").agg(
      sum("c").as("n_bigrams"),
      max("c").as("top_bigram"))
    // Left join: a one-word doc has no bigrams; its bigram share is 0.
    words.join(bigrams, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_words").cast("long").as("n_words"),
        round(lit(1.0) - col("n_distinct") / col("n_words"), 4)
          .as("dup_word_frac"),
        round(col("top_word") / col("n_words"), 4).as("top_word_frac"),
        round(coalesce(col("top_bigram") / col("n_bigrams"), lit(0.0)), 4)
          .as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  /** Intra-document repeated-span REMOVAL — the cleanup counterpart to
    * [[repetitionStats]] (which only measures): walk each document's
    * tokens; when the `n`-gram starting at the cursor has already
    * occurred earlier in the SAME document, skip those `n` tokens (one
    * repeated span) and continue; otherwise emit the token. One pass,
    * greedy, deterministic — the Gopher/C4-style "drop duplicated
    * blocks" scrub for boilerplate loops and copy-paste stutter.
    *
    * Shape: a compiled per-row flatMap-free projection (mapPartitions
    * over typed rows, like [[Sampling.chunkByTokens]]) — per-document
    * state only (a hash set of this doc's grams), so the operator is
    * scan-bound and embarrassingly parallel at any corpus size; no
    * shuffle at all. Gram identity uses the same XXH64 token hashing as
    * the shingle pass. Not ANSI-expressible (sequential skip-`n`
    * semantics) → rows-only + hand-fixture ScalaTests.
    */
  def dropRepeatedSpans(docs: DataFrame, n: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // Widened before the compiled pass: "scan-bound" means the scan's
    // split count IS the parallelism, so an under-parallel input would
    // serialize it (no-op at scale — [[Parallelism.widen]]).
    Parallelism.widen(docs.select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val toks = text.trim.split("\\s+")
        if (toks.length < n) (id, text.trim, 0L)
        else {
          val hs = toks.map { t =>
            val b = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
              b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
              b.length, 42L)
          }
          def gramAt(i: Int): Long = {
            var h = 42L
            var j = i + n - 1
            while (j >= i) { h = h * 31 + hs(j); j -= 1 }
            h
          }
          val seen = new java.util.HashSet[Long]()
          val out = new StringBuilder
          var dropped = 0L
          var i = 0
          while (i < toks.length) {
            if (i + n <= toks.length) {
              val g = gramAt(i)
              if (seen.contains(g)) { dropped += 1; i += n }
              else {
                seen.add(g)
                if (out.nonEmpty) out.append(' ')
                out.append(toks(i)); i += 1
              }
            } else {
              if (out.nonEmpty) out.append(' ')
              out.append(toks(i)); i += 1
            }
          }
          (id, out.toString, dropped)
        }
      })
      .toDF("doc_id", "clean_text", "spans_dropped")
      .orderBy("doc_id")
  }

  /** Cross-document repeated-span SCRUBBING — the removal counterpart to
    * [[frequentNgrams]] (which only lists the boilerplate): every token
    * position covered by an `n`-gram window occurring in at least
    * `minDf` DISTINCT documents is dropped, and each document's text is
    * rebuilt from the survivors (C4/RefinedWeb-style template and
    * navigation-chrome stripping, applied corpus-wide rather than
    * within one document like [[dropRepeatedSpans]]).
    *
    * Shape at 100 TB: gram (start, hash) pairs generate IN PLACE per
    * row (array lambdas over the token array — the gram stream never
    * leaves its row before aggregation), then collapse once into a
    * per-(gram, doc) start-list frame whose (h, doc)-keyed exchange
    * BOTH consumers share (ReusedExchange — the [[unigramLogProb]] /
    * BM25 word-pass pattern, asserted in `PlanGuardSpec`): document
    * frequency is a partial-agg `groupBy(h).count` over it (skew-free
    * — a hot template gram contributes one count per partition, never
    * all its rows to one task), and the df ≥ minDf survivor set (small
    * by construction over a heavy-tailed gram distribution, like
    * [[frequentNgrams]]'s broadcast) probes the same frame back as a
    * broadcast hash join inside its stage. Per-doc removal positions
    * then collapse in one doc-keyed shuffle (bounded by the doc's own
    * window count); the rebuild is a row-local array filter —
    * overlapping windows union naturally because coverage is tested
    * per POSITION, not per window. Only 8-byte hashes and int
    * positions shuffle, never gram strings; the corpus is scanned
    * twice (gram pass + rebuild pass), nothing else is corpus-sized.
    * Gram identity uses xxhash64 like the shingle family; counts (and
    * with astronomically small probability, output text) differ from
    * the string-gram oracle only under 64-bit collisions.
    */
  def scrubCommonSpans(docs: DataFrame, n: Int = 3, minDf: Int = 3): DataFrame = {
    val base = docs.select(col("doc_id"),
      split(trim(col("text")), "\\s+").as("toks"))
    // The explicit isnotnull mirrors what the final left join infers on
    // the probe branch ANYWAY (null doc_ids can't match) — stating it
    // here puts the same filter in BOTH consumers' subtrees, which the
    // exchange-reuse equality below needs.
    val grams = base.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), explode(expr(
        s"""transform(slice(toks, 1, greatest(size(toks) - ${n - 1}, 0)),
           |  (x, ix) -> struct(ix AS st,
           |    xxhash64(array_join(slice(toks, ix + 1, $n), ' ')) AS h))"""
          .stripMargin)).as("g"))
      .select(col("doc_id"), col("g.st").as("st"), col("g.h").as("h"))
    val byDoc = grams
      .groupBy(col("h"), col("doc_id"))
      .agg(collect_list(col("st")).as("sts"))
    // The count's when-guard (vacuously true: sizes are non-negative)
    // is deliberate plan steering: it keeps `sts` referenced in a form
    // the optimizer can neither rewrite to count(1) (the when is
    // nullable) nor constant-fold, so the column pruner cannot
    // specialize this branch's copy of the (h, doc) aggregate into a
    // slim distinct. With both consumers' subtrees identical, AQE
    // reuses ONE gram exchange instead of scanning + exploding the
    // corpus twice (guarded in PlanGuardSpec).
    val common = byDoc.groupBy("h")
      .agg(count(when(size(col("sts")) >= 0, true)).as("df"))
      .filter(col("df") >= minDf).select("h")
    val starts = byDoc.join(broadcast(common), Seq("h"))
      .groupBy("doc_id")
      .agg(flatten(collect_list(col("sts"))).as("starts"))
    base.join(starts, Seq("doc_id"), "left")
      .withColumn("kept", expr(
        s"""filter(toks, (x, i) ->
           |  NOT exists(coalesce(starts, array()),
           |    s -> i >= s AND i < s + $n))""".stripMargin))
      .select(col("doc_id"),
        array_join(col("kept"), " ").as("clean_text"),
        (size(col("toks")) - size(col("kept"))).cast("bigint")
          .as("tokens_removed"))
      .orderBy("doc_id")
  }

  /** Cross-document line-granular deduplication — the CCNet paragraph
    * dedup: every line (text split on `sep`) keeps exactly its FIRST
    * occurrence corpus-wide (first = smallest (doc_id, position), a
    * total order, so the kept set is deterministic on any cluster
    * layout) and every later copy — including a second copy inside the
    * winning document — is cut out positionally. Blank lines are
    * document structure, not content: they never participate and are
    * never removed. Line identity is lower(trim(line)) hashed to
    * 8 bytes, so navigation chrome differing only in case or padding
    * still collapses; output text differs from the string-keyed oracle
    * only under 64-bit collisions, like the shingle family.
    *
    * Shape mirrors [[scrubCommonSpans]]: ONE (h, doc_id) aggregate is
    * the only corpus-sized exchange, and BOTH consumers — the per-hash
    * winner aggregate and the removal probe join — build on that same
    * frame, so AQE reuses the exchange and the line explode runs once
    * (PlanGuardSpec). The winner side is mergeable min/sum over
    * one-row-per-(line, doc) input, so a boilerplate line sitting in a
    * billion documents arrives pre-combined per map task — never the
    * single-task window a `min OVER (PARTITION BY h)` would plan.
    * Winners keep only duplicated hashes (n > 1), so the probe join's
    * build side is proportional to the duplicated-line vocabulary, not
    * the corpus; only 8-byte hashes and int positions shuffle, never
    * line text; the rebuild is a row-local array filter against the
    * doc's removal positions joined back by doc_id.
    */
  def dedupLines(docs: DataFrame, sep: String = "\n"): DataFrame = {
    val base = lineBase(docs, sep)
    val byDoc = lineByDoc(base)
    val winners = lineWinners(byDoc)
    val removed = byDoc.join(winners, Seq("h"))
      .select(col("doc_id"), filter(col("poss"),
        p => !(col("w.d") === col("doc_id") && col("w.p") === p)).as("rm"))
      .groupBy("doc_id")
      .agg(flatten(collect_list(col("rm"))).as("rm"))
    lineRebuild(base, removed, sep)
  }

  /** (doc_id, lines) — the shared split for the line-granular family. */
  private def lineBase(docs: DataFrame, sep: String): DataFrame =
    docs.select(col("doc_id"),
      split(col("text"), java.util.regex.Pattern.quote(sep)).as("lines"))

  /** One row per (normalized-line-hash, doc): sorted occurrence
    * positions. The ONE corpus-sized exchange of the line family; the
    * isnotnull filter mirrors what downstream joins infer so
    * both consumers' subtrees stay identical for AQE exchange reuse
    * ([[scrubCommonSpans]]'s steering).
    */
  private def lineByDoc(base: DataFrame): DataFrame =
    base.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), posexplode(col("lines")).as(Seq("pos", "line")))
      .filter(trim(col("line")) =!= "")
      .select(col("doc_id"), col("pos"),
        xxhash64(lower(trim(col("line")))).as("h"))
      .groupBy(col("h"), col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("poss"))

  /** Keep-first winner per DUPLICATED hash (n > 1 — the build side stays
    * proportional to the duplicated-line vocabulary, never the corpus).
    * Both this branch and the removal probe reference `poss` itself
    * (element_at/size here, the array filter there), so the column
    * pruner cannot specialize either branch's copy of the (h, doc)
    * aggregate — the subtrees stay identical and AQE reuses one
    * exchange. Mergeable min/sum: a boilerplate line in a billion docs
    * pre-combines per map task — never the single-task window a
    * `min OVER (PARTITION BY h)` would plan.
    */
  private def lineWinners(byDoc: DataFrame): DataFrame =
    byDoc.groupBy("h")
      .agg(min(struct(col("doc_id").as("d"),
             element_at(col("poss"), 1).as("p"))).as("w"),
           sum(size(col("poss"))).as("n"))
      .filter(col("n") > 1)
      .select(col("h"), col("w"))

  /** Row-local rebuild from per-doc removal positions. */
  private def lineRebuild(base: DataFrame, removed: DataFrame,
                          sep: String): DataFrame =
    base.join(removed, Seq("doc_id"), "left")
      .withColumn("kept", expr(
        """filter(lines, (x, i) ->
          |  NOT array_contains(coalesce(rm, array()), i))""".stripMargin))
      .select(col("doc_id"),
        array_join(col("kept"), sep).as("clean_text"),
        (size(col("lines")) - size(col("kept"))).cast("bigint")
          .as("lines_removed"))
      .orderBy("doc_id")

  /** Row-local line-rule cleanup — the C4 heuristics applied INSIDE each
    * document: keep a line only if it has ≥ `minWords` words,
    * (optionally) ends in terminal punctuation, and mentions no
    * blocklisted phrase (case-insensitive); emit the rebuilt text plus
    * kept/dropped counts. Blank lines always drop (zero words — and
    * unlike [[dedupLines]], which preserves them as document structure,
    * a cleanup pass that keeps what it cannot score would defeat its
    * purpose). Everything is one codegen'd projection over the scan —
    * no shuffle, no UDF — so at 100 TB this is scan-bound (the best
    * possible shape) and composes ahead of any dedup or quality screen
    * as the cheap first pass.
    */
  def filterLines(docs: DataFrame, minWords: Int = 3,
                  requireTerminal: Boolean = false,
                  blocklist: Seq[String] = Nil,
                  sep: String = "\n"): DataFrame = {
    val qsep = java.util.regex.Pattern.quote(sep)
    def keep(l: Column): Column = {
      val words = (trim(l) =!= "") &&
        size(split(trim(l), "\\s+")) >= minWords
      val term =
        if (requireTerminal) trim(l).rlike("[.!?\"']$") else lit(true)
      val block = blocklist.map(b =>
          !contains(lower(l), lit(b.toLowerCase))).reduceOption(_ && _)
        .getOrElse(lit(true))
      words && term && block
    }
    docs.select(col("doc_id"), split(col("text"), qsep).as("lines"))
      .withColumn("kept", filter(col("lines"), keep _))
      .select(col("doc_id"),
        array_join(col("kept"), sep).as("clean_text"),
        size(col("kept")).cast("bigint").as("lines_kept"),
        (size(col("lines")) - size(col("kept"))).cast("bigint")
          .as("lines_dropped"))
      .orderBy("doc_id")
  }

  /** Gopher's line-level repetition signals — the quality family
    * [[repetitionStats]] (word/bigram shares) does not cover: per
    * document, the fraction of non-blank lines that are duplicates of
    * another line in the SAME document (`dup_line_frac` =
    * Σ_groups (c−1) / n_lines) and the fraction of line characters
    * sitting in those duplicate copies (`dup_line_char_frac` =
    * Σ_groups (c−1)·len / Σ c·len, lengths of the lower(trim)
    * normalized line — the same identity [[dedupLines]] uses), plus the
    * published Gopher gate (`gopher_ok`: dup_line_frac ≤ 0.30 AND
    * dup_line_char_frac ≤ 0.20; Rae et al. 2021, table A1). A doc with
    * no non-blank lines is trivially clean (0.0 / 0.0, gate passes).
    *
    * Shape: ZERO shuffle — where [[repetitionStats]] must exchange
    * (doc, gram) rows because its grams flow into corpus-level
    * consumers, the line groups here are consumed per-document only, so
    * the whole computation is one projection: sort the doc's normalized
    * non-blank lines (`array_sort`) and fold the sorted array once with
    * `aggregate`, counting run lengths — equal lines are adjacent, so a
    * (prev, run, dupLines, dupChars) accumulator sees every duplicate
    * group without ever materializing a per-line frame. Higher-order
    * functions evaluate outside whole-stage codegen but stay row-local;
    * at 100 TB this is scan-bound like the rest of the per-doc quality
    * layer (the final orderBy exists for the verify surface's total
    * order, not the operator). O(L log L) per doc in its own line
    * count — never quadratic, never a (doc, line) exchange.
    */
  def lineRepetitionStats(docs: DataFrame, sep: String = "\n"): DataFrame = {
    val qsep = java.util.regex.Pattern.quote(sep)
    val lines = filter(
      transform(split(col("text"), qsep), l => lower(trim(l))),
      l => l =!= "")
    val sorted = array_sort(lines)
    def fld(acc: Column, f: String) = acc.getField(f)
    // Flush the run ending at `acc`: duplicates beyond the first copy.
    def flushDl(acc: Column) = fld(acc, "dl") +
      when(fld(acc, "run") > 1, fld(acc, "run") - 1).otherwise(lit(0L))
    def flushDc(acc: Column) = fld(acc, "dc") +
      when(fld(acc, "run") > 1,
        (fld(acc, "run") - 1) * length(fld(acc, "prev"))).otherwise(lit(0L))
    val zero = struct(
      lit(null).cast("string").as("prev"), lit(0L).as("run"),
      lit(0L).as("dl"), lit(0L).as("dc"))
    val folded = aggregate(sorted, zero,
      (acc, x) => when(x <=> fld(acc, "prev"),
          struct(fld(acc, "prev").as("prev"),
            (fld(acc, "run") + 1).as("run"),
            fld(acc, "dl").as("dl"), fld(acc, "dc").as("dc")))
        .otherwise(struct(x.as("prev"), lit(1L).as("run"),
          flushDl(acc).as("dl"), flushDc(acc).as("dc"))),
      acc => struct(flushDl(acc).as("dl"), flushDc(acc).as("dc")))
    val totChars = aggregate(sorted, lit(0L), (a, x) => a + length(x))
    val nl = size(sorted).cast("long")
    // Two-step projection ([[gopherQualityStats]]'s rationale): the
    // sort+fold materializes once per row; the fractions — each
    // referenced by a rounded column AND the gate — derive from the
    // projected counts, not from re-evaluated HOF trees.
    val dupFrac = when(col("__nl") > 0,
      col("__f").getField("dl").cast("double") / col("__nl").cast("double"))
      .otherwise(lit(0.0))
    val charFrac = when(col("__tc") > 0,
      col("__f").getField("dc").cast("double") / col("__tc").cast("double"))
      .otherwise(lit(0.0))
    docs.select(col("doc_id"), nl.as("__nl"), folded.as("__f"),
        totChars.as("__tc"))
      .select(col("doc_id"), col("__nl").as("n_lines"),
        round(dupFrac, 4).as("dup_line_frac"),
        round(charFrac, 4).as("dup_line_char_frac"),
        (dupFrac <= 0.30 && charFrac <= 0.20).as("gopher_ok"))
      .orderBy("doc_id")
  }

  /** The rest of Gopher's repetition battery (Rae et al. 2021, table
    * A1) — per document, over whitespace tokens: the char fraction of
    * the MOST FREQUENT n-gram for n = 2,3,4 (count × gram token chars /
    * total token chars — faithful to the published measure, so
    * overlapping occurrences can push it past 1.0) and the char
    * fraction COVERED by duplicated n-grams for n = 5..10 (union of
    * token positions under any n-gram occurring ≥ 2× in the doc —
    * overlaps counted once, the coverage semantics [[scrubCommonSpans]]
    * uses for removal), plus the published gate (`gopher_ngram_ok`:
    * top ≤ 0.20/0.18/0.16, dup ≤ 0.15/0.14/0.13/0.12/0.11/0.10).
    * Character mass is token characters (whitespace excluded) on both
    * the numerator and denominator, one convention for all nine
    * signals. Ties for "most frequent" break to the longest gram so
    * the statistic is layout-independent and the oracle can re-derive
    * it exactly.
    *
    * Shape: ZERO shuffle — like [[lineRepetitionStats]] the groups are
    * consumed per-document only, so the whole battery is one compiled
    * `mapPartitions` pass ([[dropRepeatedSpans]]'s pattern): per doc,
    * token XXH64s once, then per n a rolling gram-hash count map and a
    * boolean coverage array — O(9·L) time, O(L) transient memory in the
    * doc's own length, embarrassingly parallel at any corpus size.
    * Gram identity is hashed 64-bit (the shingle-family convention);
    * the string-gram oracle agrees up to astronomically unlikely
    * collisions. The final orderBy is the verify surface's total
    * order, not the operator.
    */
  def gopherNgramStats(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val topNs = Seq(2, 3, 4); val dupNs = Seq(5, 6, 7, 8, 9, 10)
    val topThr = Map(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
    val dupThr = Map(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12,
      9 -> 0.11, 10 -> 0.10)
    // Widened before the O(9·L)/doc compiled pass — an under-parallel
    // scan would serialize it (no-op at scale, [[Parallelism.widen]]).
    Parallelism.widen(docs.select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val toks = text.trim.split("\\s+").filter(_.nonEmpty)
        val lens = toks.map(_.length)
        val tot = lens.sum.toDouble
        val hs = toks.map { t =>
          val b = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
            b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
            b.length, 42L)
        }
        def grams(n: Int): Array[Long] =
          Array.tabulate(toks.length - n + 1) { i =>
            var h = 42L; var j = i + n - 1
            while (j >= i) { h = h * 31 + hs(j); j -= 1 }
            h
          }
        def gramChars(i: Int, n: Int): Int = {
          var s = 0; var j = i
          while (j < i + n) { s += lens(j); j += 1 }
          s
        }
        def topFrac(n: Int): Double =
          if (tot == 0 || toks.length < n) 0.0
          else {
            val gs = grams(n)
            val m = new java.util.HashMap[Long, Array[Int]]()
            var i = 0
            while (i < gs.length) {
              val e = m.get(gs(i))
              if (e == null) m.put(gs(i), Array(1, gramChars(i, n)))
              else e(0) += 1
              i += 1
            }
            var mc = 0; var mch = 0
            m.values.forEach { e =>
              if (e(0) > mc) { mc = e(0); mch = e(1) }
              else if (e(0) == mc && e(1) > mch) mch = e(1)
            }
            mc.toLong * mch / tot
          }
        def dupFrac(n: Int): Double =
          if (tot == 0 || toks.length < n) 0.0
          else {
            val gs = grams(n)
            val cnt = new java.util.HashMap[Long, Int]()
            var i = 0
            while (i < gs.length) {
              cnt.merge(gs(i), 1, Integer.sum); i += 1
            }
            val cov = new Array[Boolean](toks.length)
            i = 0
            while (i < gs.length) {
              if (cnt.get(gs(i)) > 1) {
                var j = i; while (j < i + n) { cov(j) = true; j += 1 }
              }
              i += 1
            }
            var s = 0L; i = 0
            while (i < toks.length) { if (cov(i)) s += lens(i); i += 1 }
            s / tot
          }
        val tf = topNs.map(topFrac); val df = dupNs.map(dupFrac)
        val ok = topNs.zip(tf).forall { case (n, f) => f <= topThr(n) } &&
          dupNs.zip(df).forall { case (n, f) => f <= dupThr(n) }
        (id, tf(0), tf(1), tf(2), df(0), df(1), df(2), df(3), df(4),
          df(5), ok)
      })
      .toDF("doc_id", "top_2gram_frac", "top_3gram_frac", "top_4gram_frac",
        "dup_5gram_frac", "dup_6gram_frac", "dup_7gram_frac",
        "dup_8gram_frac", "dup_9gram_frac", "dup_10gram_frac",
        "gopher_ngram_ok")
      .select(col("doc_id") +:
        (topNs.map(n => s"top_${n}gram_frac") ++
          dupNs.map(n => s"dup_${n}gram_frac"))
          .map(c => round(col(c), 4).as(c)) :+ col("gopher_ngram_ok"): _*)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // Persisted line-hash index — the standing-corpus side of the line
  // dedup materialized once at ingest, the way CCNet actually deploys
  // (hashes of previously-processed shards at rest): `path/lines` holds
  // the corpus' DISTINCT normalized line hashes, 8 bytes a row — no doc
  // ids, no positions, no text, the smallest possible at-rest footprint
  // for an exact-key screen. Same lifecycle verbs and crash-safety
  // contract as the MinHash/containment/SimHash indexes
  // ([[graft.ext.IndexStamp.appendLifecycle]] /
  // [[graft.ext.IndexStamp.compactLifecycle]]); appends may duplicate a
  // hash across ingest partitions (harmless under the screen's
  // semi-join — compaction dedups).
  // ---------------------------------------------------------------------

  private def lineMarker(path: String) = s"$path/lines/_SUCCESS"

  /** Canonical per-corpus index location (the `*IndexPathFor`
    * convention; bump the version segment on layout changes).
    */
  def lineIndexPathFor(sfDir: String): String =
    IndexStamp.pathUnderRoot(
      "graft-lines1-" + sfDir.replaceAll("[^A-Za-z0-9.]", "_"))

  /** The corpus' distinct normalized non-blank line hashes. */
  private def lineHashes(docs: DataFrame, sep: String): DataFrame =
    lineBase(docs, sep)
      .select(explode(col("lines")).as("line"))
      .filter(trim(col("line")) =!= "")
      .select(xxhash64(lower(trim(col("line")))).as("h"))
      .distinct()

  /** Full build: the corpus' line hashes become ingest 0 (the
    * [[graft.ext.Dedup.buildMinhashIndex]] rebuild discipline).
    */
  def buildLineIndex(docs: DataFrame, path: String,
                     sep: String = "\n"): Unit = {
    val spark = docs.sparkSession
    IndexStamp.dropMarker(spark, lineMarker(path))
    IndexStamp.dropCompactionRecord(spark, path)
    lineHashes(docs, sep).withColumn("ingest", lit(0L))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "static")
      .partitionBy("ingest").parquet(s"$path/lines")
  }

  /** Append a batch's line hashes under `ingestId` (batchId-idempotent:
    * a replayed id dynamically overwrites its own partition; a
    * compacted-away id no-ops).
    */
  def appendLineIndex(docs: DataFrame, path: String,
                      ingestId: Long = -1L, sep: String = "\n"): Unit = {
    val spark = docs.sparkSession
    IndexStamp.appendLifecycle(spark, path, lineMarker(path),
        s"$path/lines", ingestId) {
      buildLineIndex(docs, path, sep)
    } {
      buildLineIndex(docs.limit(0), path, sep)
    } { id =>
      lineHashes(docs, sep)
        .withColumn("ingest", lit(id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest").parquet(s"$path/lines")
    }
  }

  /** Compact: fold every ingest partition into the base (ingest 0),
    * deduping hashes repeated across ingests — pure re-layout under the
    * screen's semi-join semantics; folded-id replays no-op. The
    * streaming twin must run this BEFORE its append and AFTER
    * [[dropLineIngest]] hygiene (see
    * [[graft.stream.Pipeline.lineDedupStream]]) — a fold is complete
    * and records every present ingest id, so letting it see a crashed
    * attempt's uncommitted partition would smuggle that batch's hashes
    * into the base where the replayed screen cannot exclude them.
    */
  def compactLineIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String): Boolean =
    IndexStamp.compactLifecycle(spark, path, lineMarker(path),
        Seq(s"$path/lines")) {
      case Seq(stg) =>
        spark.read.parquet(s"$path/lines")
          .select(col("h")).distinct()
          .withColumn("ingest", lit(0L))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "static")
          .partitionBy("ingest").parquet(stg)
    }

  /** Delete one ingest partition outright — crash-leftover hygiene for
    * the streaming twin, which calls it at the START of each trigger
    * for its own `batchId + 1` id: an uncommitted partition a crashed
    * attempt left behind is data no committed reader has ever seen
    * (the screen excludes it, the verdicts were never committed), and
    * this attempt's append rewrites it anyway — while leaving it in
    * place would let a same-trigger compaction fold it into the base.
    * A no-op when the partition is absent (every non-crash trigger).
    */
  def dropLineIngest(spark: org.apache.spark.sql.SparkSession,
                     path: String, ingestId: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/lines/ingest=$ingestId")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** Build only when absent or source-stale
    * ([[graft.ext.IndexStamp.ensureFresh]]). Returns true iff the build
    * ran.
    */
  def ensureLineIndex(spark: org.apache.spark.sql.SparkSession,
                      docs: => DataFrame, path: String,
                      sourcePath: Option[String] = None,
                      sep: String = "\n"): Boolean =
    IndexStamp.ensureFresh(spark, lineMarker(path), path, sourcePath) {
      buildLineIndex(docs, path, sep)
    }

  /** Line dedup of a batch AGAINST the persisted standing-corpus index —
    * the deployment shape of [[dedupLines]]: every line the standing
    * corpus already holds is cut out, and among the remaining lines
    * keep-first applies WITHIN the batch, so the result equals
    * `dedupLines(corpus ∪ batch)` restricted to the batch whenever
    * corpus doc ids precede batch doc ids (the equality LineOpsSpec
    * pins). No index data means a plain [[dedupLines]] of the batch —
    * the dedup family's legitimate all-novel cold start. Output schema
    * is [[dedupLines]]'s: (doc_id, clean_text, lines_removed).
    *
    * Shape at 100 TB: the index is the big side (every distinct line
    * the corpus ever held), the batch is small by this operator's
    * contract — so the batch's distinct hashes broadcast into ONE
    * streamed semi-join scan of the hash index (`broadcastBatch`,
    * default), the held set comes back batch-bounded and broadcasts
    * into the batch frame: the standing corpus is never exchanged.
    * Backfill-sized batches pass `broadcastBatch = false` for the
    * merge plan. Batch-side work mirrors [[dedupLines]] (its one
    * (h, doc) exchange plus row-local rebuild).
    *
    * `excludeIngest` drops one ingest partition from the standing side
    * (partition-pruned on the plain read path): the streaming twin passes its
    * own `batchId + 1` so a crash between its index append and the
    * checkpoint commit cannot poison the replayed screen with the
    * batch's OWN lines (every non-blank line would read as held and
    * the rewritten text would come back blank — the data-loss replay
    * window [[graft.stream.Pipeline.lineDedupStream]] closes).
    */
  def dedupLinesAgainstIndex(newDocs: DataFrame, path: String,
                             sep: String = "\n",
                             broadcastBatch: Boolean = true,
                             excludeIngest: Option[Long] = None)
      : DataFrame = {
    val spark = newDocs.sparkSession
    val dir = new org.apache.hadoop.fs.Path(s"$path/lines")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!IndexStamp.hasIngestData(fs, dir))
      return dedupLines(newDocs, sep)
    val base = lineBase(newDocs, sep)
    val byDoc = lineByDoc(base)
    // Probe hashes derive from their own (batch-sized, row-local) pass
    // rather than byDoc, so the winner/removal consumers keep identical
    // subtrees for exchange reuse ([[lineWinners]]).
    val batchHashes = lineHashes(newDocs, sep)
    val idxAll = IndexCache.read(spark, s"$path/lines")
    val idx = excludeIngest.fold(idxAll)(id =>
        idxAll.filter(col("ingest") =!= lit(id)))
      .select(col("h"))
    val held = (if (broadcastBatch)
        idx.join(broadcast(batchHashes), Seq("h"), "left_semi")
      else idx.join(batchHashes.hint("merge"), Seq("h"), "left_semi"))
      .distinct()
      .withColumn("held", lit(true))
    val winners = lineWinners(byDoc)
    val removed = byDoc
      .join(broadcast(held), Seq("h"), "left")
      .join(winners, Seq("h"), "left")
      .select(col("doc_id"),
        when(col("held"), col("poss"))
          .when(col("w").isNotNull, filter(col("poss"),
            p => !(col("w.d") === col("doc_id") && col("w.p") === p)))
          .otherwise(array().cast("array<int>")).as("rm"))
      .filter(size(col("rm")) > 0)
      .groupBy("doc_id")
      .agg(flatten(collect_list(col("rm"))).as("rm"))
    lineRebuild(base, removed, sep)
  }

  /** Corpus-boilerplate detector: word n-grams whose DOCUMENT frequency
    * reaches `minDf` (templates, navigation chrome, memes — the
    * C4/RefinedWeb-style list a stripping pass consumes). Two-scan,
    * narrow-shuffle shape: document frequency aggregates over the 8-byte
    * gram hashes of the compiled shingle pass (a gram counts once per
    * doc), then gram TEXT is re-derived and broadcast-joined back for
    * the survivors only — strings never enter a wide shuffle, which is
    * what makes the operator hold at corpus scale (the survivor list is
    * small by construction: df ≥ minDf over a heavy-tailed gram
    * distribution).
    */
  def frequentNgrams(docs: DataFrame, n: Int = 2, minDf: Int = 10): DataFrame = {
    val dfByHash = Dedup.hashedShingles(docs, n)
      .select("doc_id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    Dedup.shingleStrings(docs, n)
      .join(broadcast(dfByHash), Seq("h"))
      .groupBy(col("h"), col("df"))
      .agg(min(col("gram")).as("gram")) // deterministic representative
      .select(col("gram"), col("df"))
      .orderBy(desc("df"), col("gram"))
  }

  /** Unigram log-probability score (the KenLM-perplexity proxy used as a
    * fluency/quality filter): per document, the mean natural log of each
    * word's corpus-relative frequency. Very negative = rare-word
    * gibberish; near the corpus ceiling = stopword soup — both tails get
    * filtered. Mechanics: one exploded word-hash stream feeds the corpus
    * frequency table AND the per-doc join (merge-hinted so AQE exchange
    * reuse runs the scan once); the corpus total rides a broadcast
    * 1-row frame; per-doc means aggregate through DECIMAL like every
    * other mean in the engine (per-row `ln` is bit-identical across
    * JVM and the oracle's libm — verified empirically over every
    * count ratio in the testdata — and the decimal sum removes fold
    * order from the result).
    */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    val words = Dedup.hashedShingles(docs, 1).select("doc_id", "h")
    val freq = words.groupBy("h").agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum("cnt").as("tot"))
    words.hint("merge").join(freq, Seq("h"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        log(col("cnt") / col("tot")).cast("decimal(27,12)").as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        round(sum(col("lp")).cast("double") / count(lit(1)), 4)
          .as("mean_logp"))
      .orderBy("doc_id")
  }

  /** TF-IDF top terms per document: term frequency × ln(N/df), ranked
    * within each doc (score desc, term asc — a total order both engines
    * share). The frequency plumbing is hash-keyed like every other text
    * operator (tf and df aggregate 8-byte hashes; term TEXT joins in
    * from the vocabulary-sized distinct (hash, term) frame before
    * ranking, so strings ride one vocab-bounded shuffle, never the
    * corpus-sized one). N rides a broadcast 1-row frame; per-row
    * `ln` bit-agreement with the oracle's libm is the
    * [[unigramLogProb]] result.
    */
  def tfidfTopTerms(docs: DataFrame, topK: Int = 3): DataFrame = {
    val words = Dedup.hashedShingles(docs, 1).select("doc_id", "h")
    val tf = words.groupBy("doc_id", "h").agg(count(lit(1)).as("tf"))
    val dfr = words.distinct().groupBy("h").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val terms = Dedup.shingleStrings(docs, 1)
      .select(col("h"), col("gram").as("term")).distinct()
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    tf.join(dfr, Seq("h")).crossJoin(broadcast(n))
      .join(terms, Seq("h"))
      .select(col("doc_id"), col("term"),
        (col("tf") * log(col("n") / col("df"))).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("doc_id"), col("rank"), col("term"),
        round(col("score"), 4).as("score"))
      .orderBy("doc_id", "rank")
  }

  /** Exact corpus heavy hitters: the `k` most frequent whitespace tokens
    * (count desc, token asc — a total order both engines share). Shape:
    * explode → two-stage hash aggregate (map-side combine collapses each
    * partition to its vocabulary before the shuffle) → TakeOrdered(k).
    * The exact form is the [[heavyHittersCms]] baseline; its cost at
    * 100 TB is a vocabulary-sized shuffle, which the sketch avoids.
    */
  def heavyHittersExact(docs: DataFrame, k: Int = 20): DataFrame =
    docs.select(explode(split(trim(col("text")), "\\s+")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)

  /** Sketched heavy hitters: one [[graft.functions.CountMinSketch]] pass
    * over the token stream (fixed `depth*width*8` bytes per partition on
    * the wire — never the vocabulary), then candidate tokens probe the
    * broadcast 1-row sketch with the codegen'd point-estimate kernel.
    * Count-min only OVERcounts, so ranking by estimate never drops a true
    * heavy hitter below its weight — the screen has no false negatives
    * (ScalaTest pins est ≥ exact per token). Candidates here are the
    * corpus's distinct tokens; at 100 TB they'd come from a cheap sample
    * or the stream's own keys, keeping the whole job scan-plus-sketch.
    */
  def heavyHittersCms(docs: DataFrame, k: Int = 20, depth: Int = 4,
                      width: Int = 1 << 12): DataFrame = {
    import graft.functions.SketchFunctions.{cms_sketch, cms_estimate}
    val toks = docs.select(explode(split(trim(col("text")), "\\s+")).as("token"))
    val sketch = toks.agg(
      cms_sketch(xxhash64(col("token")), depth, width).as("sk"))
    toks.distinct()
      .crossJoin(broadcast(sketch))
      .select(col("token"),
        cms_estimate(col("sk"), xxhash64(col("token")), depth).as("est_cnt"))
      .orderBy(col("est_cnt").desc, col("token"))
      .limit(k)
  }

  /** Tokens with exact count ≥ `minCount`, CMS-prescreened: the raw token
    * stream first probes a broadcast 1-row [[graft.functions
    * .CountMinSketch]] and rows whose ESTIMATE falls below `minCount` are
    * dropped before the exact aggregation. Because count-min only ever
    * OVERcounts (est ≥ true), no qualifying token can fail the screen —
    * the output is IDENTICAL to the plain `GROUP BY token HAVING count ≥
    * minCount` (the DuckDB oracle asserts this), but the vocabulary-sized
    * exact shuffle shrinks to the near-heavy survivors. At 100 TB that is
    * the difference between shuffling billions of distinct tokens and
    * shuffling the few that could possibly qualify; the sketch itself is
    * a fixed `depth*width*8` bytes per partition on the wire.
    */
  def frequentTokensCms(docs: DataFrame, minCount: Long, depth: Int = 4,
                        width: Int = 1 << 14): DataFrame = {
    import graft.functions.SketchFunctions.{cms_sketch, cms_estimate}
    val toks = docs.select(explode(split(trim(col("text")), "\\s+")).as("token"))
    val sketch = toks.agg(
      cms_sketch(xxhash64(col("token")), depth, width).as("sk"))
    toks.crossJoin(broadcast(sketch))
      .filter(cms_estimate(col("sk"), xxhash64(col("token")), depth) >= minCount)
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .orderBy(col("cnt").desc, col("token"))
  }

  /** Document fingerprint: 64-bit content hash over the normalized token
    * stream (xxhash64 — stable across runs/executors, unlike JVM
    * `hashCode`). Suitable as a cheap join/dedup key at any scale.
    */
  def fingerprint(docs: DataFrame): DataFrame = docs.select(
      col("doc_id"),
      xxhash64(concat_ws(" ", split(trim(lower(col("text"))), "\\s+")))
        .as("fingerprint"))
    .orderBy("doc_id")

  /** Per-document mean bigram log-probability — the 2-gram upgrade of
    * [[unigramLogProb]] and the standard fluency signal a KenLM-style
    * perplexity filter computes over pretraining corpora: for each
    * adjacent token pair, ln(count(w1 w2) / count(w1)) under the
    * corpus's own maximum-likelihood model, averaged per document.
    *
    * Shape: the token stream is hashed once per n ([[Dedup
    * .hashedShingles]] at n=1 and n=2 — compiled flatMaps, 8-byte rows);
    * the bigram row at position p joins its PREFIX unigram by
    * (doc_id, pos) — a corpus-sized but narrow (id, pos, hash) shuffle —
    * then each side's frequency joins in hash-keyed, exactly like
    * [[tfidfTopTerms]]'s tf/df plumbing. Strings never shuffle. The
    * per-row ln is a count ratio (the class verified bit-identical
    * JVM-vs-DuckDB for [[unigramLogProb]]); the per-doc mean sums
    * 12-dp decimals, so fold order cannot move the 4-dp answer.
    */
  def bigramLogProb(docs: DataFrame): DataFrame = {
    val uni = Dedup.hashedShingles(docs, 1)
    val bi = Dedup.hashedShingles(docs, 2)
    val c1 = uni.groupBy(col("h").as("h1")).agg(count(lit(1)).as("c1"))
    val c2 = bi.groupBy(col("h").as("h2")).agg(count(lit(1)).as("c2"))
    bi.select(col("doc_id"), col("pos"), col("h").as("h2"))
      .join(uni.select(col("doc_id"), col("pos"), col("h").as("h1")),
        Seq("doc_id", "pos"))
      .join(c2, Seq("h2")).join(c1, Seq("h1"))
      .select(col("doc_id"),
        log(col("c2") / col("c1")).cast("decimal(27,12)").as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("lp")).cast("double") / count(lit(1)), 4)
          .as("mean_logp"))
      .orderBy("doc_id")
  }

  /** [[bigramLogProb]] with the LM trained on a separate REFERENCE
    * corpus — CCNet-style perplexity filtering, the curation form:
    * counts come from a trusted slice (wiki-grade text, a curated
    * dump), candidates score under THAT model, and low scorers are
    * out-of-distribution (boilerplate, wrong language, gibberish) —
    * one of the standard web-corpus quality screens.
    *
    * Add-k smoothing over the reference unigram vocabulary `V` keeps
    * unseen grams finite instead of log(0):
    * P(w₂|w₁) = (c₂ + k) / (c₁ + k·V); a fully-unseen prefix bottoms
    * out at log(1/V). Same conventions as [[bigramLogProb]]: grams are
    * collision-free 64-bit hashes, the per-doc mean sums through
    * DECIMAL, docs under 2 tokens carry no bigrams and yield no row.
    * At 100 TB the reference counts ARE the model — two hash-keyed
    * aggregate tables the candidate stream left-joins by gram hash
    * (broadcast when the reference is small); the candidate corpus is
    * scanned once per n-gram order, reference once at train time.
    */
  def bigramLogProbAgainst(reference: DataFrame, docs: DataFrame,
                           smoothK: Double = 1.0): DataFrame = {
    val refUni = Dedup.hashedShingles(reference, 1)
    val c1 = refUni.groupBy(col("h").as("h1")).agg(count(lit(1)).as("c1"))
    val c2 = Dedup.hashedShingles(reference, 2)
      .groupBy(col("h").as("h2")).agg(count(lit(1)).as("c2"))
    val vocab = refUni.agg(countDistinct(col("h")).as("v"))
    val uni = Dedup.hashedShingles(docs, 1)
    val bi = Dedup.hashedShingles(docs, 2)
    bi.select(col("doc_id"), col("pos"), col("h").as("h2"))
      .join(uni.select(col("doc_id"), col("pos"), col("h").as("h1")),
        Seq("doc_id", "pos"))
      .join(c2, Seq("h2"), "left")
      .join(c1, Seq("h1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        log((coalesce(col("c2"), lit(0L)) + smoothK) /
            (coalesce(col("c1"), lit(0L)) + lit(smoothK) * col("v")))
          .cast("decimal(27,12)").as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("lp")).cast("double") / count(lit(1)), 4)
          .as("mean_logp"))
      .orderBy("doc_id")
  }

  /** CCNet-style perplexity bucketing: score candidates under a
    * reference LM ([[bigramLogProbAgainst]]) and cut each language's
    * population into head / middle / tail terciles — the published
    * CCNet curation step (head ≈ closest to the reference
    * distribution; tail is where most noise lives; many pretraining
    * recipes keep head+middle or reweight by bucket).
    *
    * Scale shape — thresholds, not ranks: a per-language NTILE would
    * sort each language's WHOLE population through one partition, the
    * global-window shape this repo documents as a scale-killer.
    * Instead the two tercile cut points per language come from one
    * tiny exact-percentile aggregate (languages × 2 values,
    * broadcast back) and bucket assignment is row-local — the CCNet
    * deployment shape (thresholds computed once on a sample, applied
    * in the scan).
    *
    * Determinism: scores arrive 4dp-rounded (the scorer's contract),
    * the interpolated percentiles are computed over those rounded
    * doubles and themselves rounded to 4dp (the `value_percentiles`
    * cross-engine contract), and boundary docs bucket by `>=` on the
    * rounded values — stable in both engines.
    */
  def perplexityBuckets(reference: DataFrame, docs: DataFrame,
                        smoothK: Double = 1.0): DataFrame = {
    val scored = bigramLogProbAgainst(reference, docs, smoothK)
      .select(col("doc_id"), col("mean_logp"))
    val withLang = scored.join(docs.select(col("doc_id"), col("lang")),
      Seq("doc_id"))
    val th = withLang.groupBy("lang").agg(
      round(expr("percentile(mean_logp, 2.0/3.0)"), 4).as("t_head"),
      round(expr("percentile(mean_logp, 1.0/3.0)"), 4).as("t_mid"))
    withLang.join(broadcast(th), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("mean_logp"),
        when(col("mean_logp") >= col("t_head"), "head")
          .when(col("mean_logp") >= col("t_mid"), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }

  /** DSIR-style importance weights (hashed n-gram importance
    * resampling — the published data-SELECTION pattern for pretraining
    * mixes): each doc scores by how much more likely its hashed
    * unigram+bigram features are under a TARGET corpus distribution
    * than under the raw corpus's own — log w(x) = Σ_f c_f(x) ·
    * [log p̂(f) − log q̂(f)] with add-k smoothing over `buckets` hash
    * buckets. Selecting the top weights (or sampling ∝ w) tilts the
    * raw corpus toward the target domain; unlike
    * [[bigramLogProbAgainst]] (absolute in-distribution likelihood)
    * this is a RATIO — features common everywhere cancel, so the
    * score isolates domain signal rather than fluency.
    *
    * Feature hashing is the point, not a shortcut: grams fold into a
    * fixed `buckets`-sized table via `pmod(xxhash64-chain, buckets)`
    * (collisions by design — the model is the bucketed histogram, as
    * in the paper), so BOTH distributions are `buckets`-row aggregate
    * tables regardless of corpus size, the ratio table broadcasts to
    * the scoring join, and the raw corpus is scanned once per n-gram
    * order. Determinism: per-feature log-ratios truncate through
    * DECIMAL(27,12) before the per-doc sum (fold-order-proof), output
    * rounded 4dp; `buckets` must be a power of two for the DuckDB
    * oracle's unsigned-mod to equal Spark's signed pmod (2⁶⁴ ≡ 0 mod
    * 2^b). Docs under 1 token carry no features and yield no row.
    */
  def dsirWeights(target: DataFrame, docs: DataFrame, buckets: Int = 1024,
                  smoothK: Double = 1.0): DataFrame = {
    def feats(df: DataFrame): DataFrame = dsirFeatures(df, buckets)
    // Corpus totals as an UNPARTITIONED window over the histogram —
    // the histogram is ≤ `buckets` rows (bounded metadata, the 1-row-
    // argmax rule), and a separate `.agg(sum)` branch would re-evaluate
    // the whole shingle pipeline a second time per distribution
    // (plan-measured: 10 parquet scans → 6).
    val all = org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
    // Eager checkpoint of the ≤ buckets-row target histogram: it feeds
    // the guard below and the ratio join without re-running the target
    // feature pass.
    val tfHist = feats(target).groupBy("f").agg(count(lit(1)).as("ct"))
      .localCheckpoint()
    // A feature-less target would make every max(nt) — and so every
    // log-ratio — silently null; fail loudly instead.
    require(!tfHist.isEmpty,
      "dsirWeights: target corpus carries no features — every log-ratio " +
        "would be null; pass a non-empty target")
    val tf = tfHist.withColumn("nt", sum(col("ct")).over(all))
    // ONE candidate-corpus feature pass, shared by the histogram and the
    // scoring join (16 bytes/feature local checkpoint — the precedent is
    // CorpusPrep.prepare's shared shingle pass): without it the uni+bi
    // stream evaluates twice, i.e. 4 candidate-corpus scans where 2
    // suffice.
    val docFeats = feats(docs).localCheckpoint(eager = false)
    val sf = docFeats.groupBy("f").agg(count(lit(1)).as("cs"))
      .withColumn("ns", sum(col("cs")).over(all))
    val denom = smoothK * buckets
    val ratio = tf.join(sf, Seq("f"), "full_outer")
      .select(col("f"),
        (log((coalesce(col("ct"), lit(0L)) + smoothK) /
             (max(col("nt")).over(all) + denom)) -
         log((coalesce(col("cs"), lit(0L)) + smoothK) /
             (max(col("ns")).over(all) + denom))).as("lr"))
    docFeats
      .join(broadcast(ratio), Seq("f"))
      .select(col("doc_id"), col("lr").cast("decimal(27,12)").as("lr"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"),
        round(sum(col("lr")).cast("double"), 4).as("sum_log_ratio"),
        round(sum(col("lr")).cast("double") / count(lit(1)), 4)
          .as("mean_log_ratio"))
      .orderBy("doc_id")
  }

  /** C4-style blocklist gate: per-doc count and fraction of tokens on
    * a blocklist (case-insensitive), `keep` while the UNROUNDED
    * fraction stays ≤ `maxFraction` (0 = the C4 rule: any hit drops).
    * Row-local end to end — the blocklist rides as an array literal
    * inside one codegen'd `filter` lambda, no explode, no join, no
    * shuffle beyond the presentation sort — so at 100 TB this is
    * scan-bound like every P-layer screen. For blocklists past a few
    * thousand entries, switch the membership probe to a broadcast join
    * on exploded tokens; at the classic badwords-list size (hundreds)
    * the literal wins.
    */
  def blocklistGate(docs: DataFrame, blocklist: Seq[String],
                    maxFraction: Double = 0.0): DataFrame =
    blocklistGateRaw(docs, blocklist, maxFraction).orderBy("doc_id")

  /** [[blocklistGate]] without the presentation sort — the composable
    * form [[CorpusPrep.prepare]]'s stage-1 screen builds on.
    */
  private[ext] def blocklistGateRaw(docs: DataFrame, blocklist: Seq[String],
                                    maxFraction: Double): DataFrame = {
    val (nt, blocked, frac) = blocklistCols(col("text"), blocklist)
    docs.select(col("doc_id"),
      nt.cast("long").as("n_tokens"),
      blocked.cast("long").as("n_blocked"),
      round(frac, 4).as("blocked_frac"),
      (frac <= maxFraction).as("keep"))
      .orderBy("doc_id")
  }

  /** The row-local blocklist measurements as bare Columns
    * (n_tokens, n_blocked, unrounded fraction) — one definition feeds
    * [[blocklistGate]] and [[CorpusPrep.prepare]]'s fused stage-1 scan
    * so the two can't drift. Zero-length tokens are filtered (the
    * tokenStats idiom): split on a blank string yields [""], which
    * would otherwise count a phantom token. Blank docs are
    * n_tokens = 0, fraction = 0.0 (explicit zeros beat a 0/0 null
    * surprising downstream arithmetic).
    */
  private[ext] def blocklistCols(text: Column, blocklist: Seq[String])
      : (Column, Column, Column) = {
    val bl = typedLit(blocklist.map(_.toLowerCase))
    val toks = filter(split(trim(text), "\\s+"), t => length(t) > 0)
    val nt = size(toks)
    val blocked = size(filter(toks, t => array_contains(bl, lower(t))))
    val frac = when(nt === 0, lit(0.0))
      .otherwise(blocked.cast("double") / nt)
    (nt, blocked, frac)
  }

  /** The hashed unigram+bigram feature stream shared by the in-frame
    * and indexed DSIR forms — one definition so the two cannot drift.
    */
  private def dsirFeatures(df: DataFrame, buckets: Int): DataFrame = {
    val b = lit(buckets.toLong)
    Dedup.hashedShingles(df, 1)
      .select(col("doc_id"), pmod(col("h"), b).as("f"))
      .unionByName(Dedup.hashedShingles(df, 2)
        .select(col("doc_id"), pmod(col("h"), b).as("f")))
  }

  /** Deterministic DSIR-model directory for a testdata dir, its own
    * family under [[graft.ext.IndexStamp.indexRoot]].
    */
  def dsirIndexPathFor(sfDir: String): String =
    graft.ext.IndexStamp.pathUnderRoot(
      "graft-dsir1-" + sfDir.replaceAll("[^A-Za-z0-9.]", "_"))

  /** Persist the DSIR TARGET model: the bucketed feature histogram
    * (`f`, `ct`) with the corpus total and bucket count riding as
    * constant meta columns — ≤ `buckets` rows in one small file, the
    * whole model. The target corpus is scanned once at build time and
    * never again: every later scoring batch reads this table instead
    * (the [[graft.ext.Quantization.buildPqIndex]] `_books` discipline —
    * build parameters ride WITH the model so callers cannot
    * mis-repeat them).
    */
  def buildDsirIndex(target: DataFrame, path: String,
                     buckets: Int = 1024): Unit = {
    val all = org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
    // Checkpoint the ≤ buckets-row histogram so the emptiness guard and
    // the write share one target pass; a 0-row model would crash every
    // later dsirWeightsIndexed call — fail at build time instead.
    val hist = dsirFeatures(target, buckets).groupBy("f")
      .agg(count(lit(1)).as("ct"))
      .localCheckpoint()
    require(!hist.isEmpty,
      "buildDsirIndex: target corpus carries no features — a 0-row " +
        "model scores nothing; pass a non-empty target")
    hist
      .withColumn("nt", sum(col("ct")).over(all))
      .withColumn("buckets", lit(buckets))
      .coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Build the DSIR model only when absent or source-stale — the
    * shared [[graft.ext.IndexStamp]] lifecycle.
    */
  def ensureDsirIndex(spark: org.apache.spark.sql.SparkSession,
                      target: => DataFrame, path: String,
                      buckets: Int = 1024,
                      sourcePath: Option[String] = None): Boolean =
    graft.ext.IndexStamp.ensureFresh(spark, s"$path/_SUCCESS", path,
      sourcePath) {
      buildDsirIndex(target, path, buckets)
    }

  /** [[dsirWeights]] against the PERSISTED target model: scoring reads
    * the `buckets`-row model table (broadcast) plus the raw-corpus
    * feature stream — the target corpus is never rescanned. `buckets`
    * comes FROM the model, never the caller (the stored-parameter
    * rule); output is row-identical to the in-frame form over the same
    * target (spec-pinned), so the registered query keeps the same
    * oracle.
    */
  def dsirWeightsIndexed(spark: org.apache.spark.sql.SparkSession,
                         indexPath: String, docs: DataFrame,
                         smoothK: Double = 1.0): DataFrame = {
    // Model-sized read (≤ `buckets` rows, broadcast below) — residency
    // can't pay, so no IndexCache routing (the corpus-shaped
    // postings/fps/codes families route; models don't).
    val model = IndexStamp.schemaMemoRead(spark, indexPath)
    // bounded metadata read: one row of a ≤ buckets-row table. headOption
    // shape — a 0-row model must fail with the contract named, not a
    // bare NoSuchElementException from head().
    val metaRows = model.select(col("nt"), col("buckets")).limit(1).collect()
    require(metaRows.nonEmpty,
      s"dsirWeightsIndexed: empty DSIR model at $indexPath — " +
        "buildDsirIndex rejects feature-less targets, so an empty model " +
        "table means a corrupt or foreign write; rebuild the index")
    val meta = metaRows.head
    val (nt, buckets) = (meta.getLong(0), meta.getInt(1))
    val denom = smoothK * buckets
    val all = org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
    // ONE candidate-corpus feature pass shared by the histogram and the
    // scoring join (the dsirWeights rationale).
    val docFeats = dsirFeatures(docs, buckets).localCheckpoint(eager = false)
    val sf = docFeats.groupBy("f")
      .agg(count(lit(1)).as("cs"))
      .withColumn("ns", sum(col("cs")).over(all))
    val ratio = sf
      .join(model.select(col("f"), col("ct")), Seq("f"), "left_outer")
      .select(col("f"),
        (log((coalesce(col("ct"), lit(0L)) + smoothK) /
             (lit(nt) + denom)) -
         log((col("cs") + smoothK) /
             (max(col("ns")).over(all) + denom))).as("lr"))
    docFeats
      .join(broadcast(ratio), Seq("f"))
      .select(col("doc_id"), col("lr").cast("decimal(27,12)").as("lr"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"),
        round(sum(col("lr")).cast("double"), 4).as("sum_log_ratio"),
        round(sum(col("lr")).cast("double") / count(lit(1)), 4)
          .as("mean_log_ratio"))
      .orderBy("doc_id")
  }

  /** Sketch rollup: per-language vocabulary sizes as mergeable HLL
    * sketches (Spark's DataSketches-backed `hll_sketch_agg`), plus the
    * all-languages union row computed by MERGING THE SKETCHES — not by
    * re-scanning the corpus. This is the pre-aggregation pattern that
    * pays for itself at 100 TB: per-shard/per-day sketches are a few KB
    * each, persist alongside the data, and any cross-slice distinct
    * count (all langs, a month of days, one source across shards) is a
    * sketch union over the tiny rollup table — the token stream is
    * scanned exactly once, ever. The exact twin is a vocabulary-sized
    * shuffle per query slice.
    *
    * Estimates are deterministic (same data → same sketch → same
    * estimate) but not ANSI-expressible → rows-only correctness;
    * ScalaTest pins estimate-vs-exact error and union-equals-rescan.
    */
  def vocabRollup(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("lang"),
      explode(split(trim(col("text")), "\\s+")).as("token"))
    val perLang = toks.groupBy("lang")
      .agg(hll_sketch_agg(col("token"), lit(12)).as("sk"),
        count(lit(1)).as("n_tokens"))
    val union = perLang
      .agg(hll_union_agg(col("sk"), lit(false)).as("sk"),
        sum(col("n_tokens")).as("n_tokens"))
      .select(lit("ALL").as("lang"), col("sk"), col("n_tokens"))
    perLang.select(col("lang"), col("sk"), col("n_tokens"))
      .unionByName(union)
      .select(col("lang"),
        hll_sketch_estimate(col("sk")).as("est_distinct_tokens"),
        col("n_tokens"))
      .orderBy("lang")
  }

  /** [[vocabRollup]] with the EXACT twin riding along for cross-engine
    * verification, still in ONE token-stream pass: `ROLLUP(lang)`
    * computes the per-lang rows AND the all-languages row in a single
    * aggregate tree (one explode, one scan — the Expand doubles rows,
    * not scans), with the exact distinct, the raw token count, and the
    * HLL sketch side by side. The estimate itself is not
    * ANSI-expressible, so the output pins it as a ≤2% relative-error
    * flag (lgK=12 HLL++ is ~1.6% worst-case) next to the exact value
    * the oracle recomputes; [[vocabRollup]] remains the
    * mergeable-sketch production path (union-equals-rescan pinned by
    * StatsSpec).
    */
  def vocabRollupChecked(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"),
        explode(split(trim(col("text")), "\\s+")).as("token"))
      .rollup(col("lang"))
      .agg(grouping(col("lang")).as("__g"),
        countDistinct(col("token")).as("exact_distinct_tokens"),
        count(lit(1)).as("n_tokens"),
        hll_sketch_agg(col("token"), lit(12)).as("sk"))
      .select(
        when(col("__g") === 1, lit("ALL")).otherwise(col("lang")).as("lang"),
        col("n_tokens"), col("exact_distinct_tokens"),
        (abs(hll_sketch_estimate(col("sk")) - col("exact_distinct_tokens")) <=
          col("exact_distinct_tokens") * 0.02).as("est_err_le_2pct"))
      .orderBy("lang")

  /** Zipf rank-frequency slope: OLS slope of ln(count) on ln(rank) over
    * the `topK` most frequent tokens (count desc, token asc — the shared
    * total order). A natural-corpus slope sits near −1; synthetic or
    * template-generated text flattens it, so the single output row is a
    * corpus-health check a curation pipeline runs per shard.
    *
    * Shape: token counts are one two-stage hash aggregate; the topK
    * survivors collapse to a single partition (TakeOrdered-sized, topK
    * rows) where rank + the five power sums compute — the regression
    * itself runs on topK rows, never the corpus. ln values are cast to
    * 12-dp decimals before the power sums (per-row double products,
    * exact decimal accumulation), mirroring [[graft.agg.Stats
    * .regressionStats]]'s determinism recipe.
    */
  def zipfSlope(docs: DataFrame, topK: Int = 100): DataFrame = {
    val counts = docs
      .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(topK)
    val w = Window.orderBy(col("cnt").desc, col("token"))
    val ranked = counts.select(
      log(row_number().over(w).cast("double")).as("lx"),
      log(col("cnt").cast("double")).as("ly"))
    val sums = ranked.agg(
      count(lit(1)).as("n"),
      sum(col("lx").cast("decimal(27,12)")).as("sx"),
      sum(col("ly").cast("decimal(27,12)")).as("sy"),
      sum((col("lx") * col("lx")).cast("decimal(28,12)")).as("sxx"),
      sum((col("lx") * col("ly")).cast("decimal(28,12)")).as("sxy"))
    val n = col("n").cast("double")
    def d(c: Column): Column = c.cast("double")
    val slope = (n * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
      (n * d(col("sxx")) - d(col("sx")) * d(col("sx")))
    sums.select(col("n").as("n_tokens"),
      round(slope, 4).as("zipf_slope"),
      round((d(col("sy")) - slope * d(col("sx"))) / n, 4).as("intercept"))
  }
}
