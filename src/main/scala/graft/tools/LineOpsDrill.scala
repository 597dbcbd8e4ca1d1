package graft.tools

import org.apache.spark.sql.functions._

import graft.ext.{Sampling, TextAnalysis}

/** Line-granular curation + sharded-shuffle scale drill
  * (`lineops [docs]`, default 2M docs × 10
  * lines = 20M lines — 40 000× the sf0.01 line volume). Unplanted lines
  * are unique BY CONSTRUCTION (the first token embeds (doc, line)), so
  * every expected count below is exact, not statistical. Three planted
  * duplicate families stress the shapes that matter at 100 TB:
  *
  *  - `normal case line` in EVERY doc (half under case/pad variation):
  *    ONE normalized key with N occurrences — the hottest possible line.
  *    The winner aggregate must pre-combine it per map task (mergeable
  *    min/sum — the reason dedupLines rejects the window formulation)
  *    and the probe join must survive the skew (AQE skew split).
  *  - a boilerplate line in every 4th doc (N/4 occurrences): the CCNet
  *    navigation-chrome case.
  *  - 50 medium keys at ~N/997/50 occurrences each: the body of a
  *    heavy-tailed duplicate distribution.
  *
  * Every doc also carries one blank line (must never be removed) and
  * unique filler. Asserts exact removed totals AND exactly one kept
  * copy per planted key; times filterLines (scan-bound row-local pass)
  * and shuffleShards (one exchange + per-shard sort, balance asserted)
  * on the same corpus.
  */
private[tools] object LineOpsDrill extends DrillDef("lineops", Seq("2000")) {
  def run(r: DrillRun, args: Seq[String]): Unit = {
    val n = args.lift(0).fold(2000000L)(_.toLong)
    val spark = r.spark

    val doc = col("doc_id")
    def uniq(j: Int) =
      concat(lit(s"u${j}x"), doc, lit(s" filler alpha beta gamma delta line $j"))
    val line3 = when(doc % 4 === 0,
      lit("hotline alpha beta gamma delta")).otherwise(uniq(3))
    val line5 = when(doc % 997 === 3,
      concat(lit("dupline grp "), doc % 50)).otherwise(uniq(5))
    val line7 = when(doc % 2 === 0, lit("normal case line"))
      .otherwise(lit("  Normal Case Line  "))
    val docs = spark.range(n).select(col("id").as("doc_id"))
      .select(doc, concat_ws("\n",
        uniq(0), uniq(1), uniq(2), line3, uniq(4), line5, uniq(6), line7,
        uniq(8), lit("")).as("text"))
      .localCheckpoint()

    // Exact per-family plant arithmetic for ANY n ≥ 2, in closed form
    // (no divisibility assumptions, no O(n) driver walk): hot4 = docs
    // carrying the boilerplate plant (doc 0 always qualifies, so
    // hot4 ≥ 1), c997 = docs carrying a dupline plant, grp997 = how
    // many of the 50 dupline keys actually occur — min(c997, 50)
    // because gcd(997, 50) = 1 makes the first 50 dupline docs cover
    // all residues.
    require(n >= 2, "need at least 2 docs for the normalization family")
    val hot4 = (n + 3) / 4
    val c997 = if (n > 3) (n - 4) / 997 + 1 else 0L
    val grp997 = math.min(c997, 50L)
    val expectedRemoved = (n - 1) + (hot4 - 1) + (c997 - grp997)

    val out = TextAnalysis.dedupLines(docs)
    val (removed, textLen) = r.phase(s"dedupLines ($n docs, ${n * 10} lines)") {
      val sums = out.agg(sum("lines_removed"),
        sum(length(col("clean_text")))).head()
      (sums.getLong(0), sums.getLong(1))
    }
    assert(removed == expectedRemoved,
      s"expected $expectedRemoved removed lines, got $removed")
    assert(textLen > 0)

    // Exactly one survivor per planted normalized key, blanks intact.
    r.phase("verify planted survivors") {
      val kept = TextAnalysis.dedupLines(docs)
        .select(explode(split(col("clean_text"), "\n")).as("line"))
        .select(lower(trim(col("line"))).as("k"))
      val counts = kept.filter(col("k").isin(
          "normal case line", "hotline alpha beta gamma delta") ||
          col("k").startsWith("dupline grp "))
        .groupBy("k").count().collect()
        .map(c => c.getString(0) -> c.getLong(1)).toMap
      assert(counts("normal case line") == 1L, counts)
      assert(counts("hotline alpha beta gamma delta") == 1L, counts)
      val grp = counts.view.filterKeys(_.startsWith("dupline grp ")).toMap
      assert(grp.size == grp997 && grp.values.forall(_ == 1L), grp)
      val blanks = kept.filter(col("k") === "").count()
      assert(blanks == n, s"blank lines must survive untouched: $blanks != $n")
      counts.size
    }

    r.phase("filterLines (row-local, scan-bound)") {
      val res = TextAnalysis.filterLines(docs, minWords = 3,
          blocklist = Seq("hotline"))
        .agg(sum("lines_kept"), sum("lines_dropped")).head()
      // Drops: the blank line (all docs) and the hotline blocklist
      // plants — every other line (incl. the 3-word "dupline grp <k>"
      // plants) clears the word floor.
      val dropped = res.getLong(1)
      assert(dropped == n + hot4,
        s"expected ${n + hot4} dropped, got $dropped")
      dropped
    }

    // Deployment shape: the 2M-doc corpus' line hashes at rest, a
    // per-trigger-sized batch screened against them — half verbatim
    // copies of corpus docs (every non-blank line held → 9 removed
    // each), half entirely fresh (0 removed). Exact, not statistical.
    val idxPath = r.dir("lines")
    r.phase(s"buildLineIndex ($n docs at rest)") {
      TextAnalysis.buildLineIndex(docs, idxPath)
      spark.read.parquet(s"$idxPath/lines").count()
    }
    val nCopy = math.min(n, 10000L)
    r.phase(s"dedupLinesAgainstIndex (${nCopy + 10000} batch)") {
      val copies = docs.filter(doc < nCopy)
        .select((doc + n * 10).as("doc_id"), col("text"))
      val fresh = spark.range(10000)
        .select((col("id") + n * 20).as("doc_id"))
        .select(col("doc_id"), concat_ws("\n",
          (0 to 9).map(j => concat(lit(s"f${j}x"), col("doc_id"),
            lit(s" fresh alpha beta gamma line $j"))): _*).as("text"))
      val removed = TextAnalysis.dedupLinesAgainstIndex(
          copies.unionAll(fresh), idxPath)
        .agg(sum("lines_removed")).head().getLong(0)
      assert(removed == 9L * nCopy,
        s"expected ${9L * nCopy} removed, got $removed")
      removed
    }

    r.phase("shuffleShards (256 shards)") {
      val s = Sampling.shuffleShards(docs.select("doc_id"), col("doc_id"),
        numShards = 256, seed = "drill")
      val sizes = s.groupBy("shard").agg(count(lit(1)).as("c"),
          max("pos").as("mx")).collect()
      assert(sizes.length == 256)
      // pos is dense 1..c within every shard; digest buckets balance.
      assert(sizes.forall(row => row.getLong(2) == row.getLong(1)))
      val cs = sizes.map(_.getLong(1))
      // Binomial balance: every shard within ±5σ of the n/256 mean.
      val mean = n.toDouble / 256
      val tol = 5 * math.sqrt(mean)
      assert(cs.min > mean - tol && cs.max < mean + tol,
        s"shard imbalance: min ${cs.min} max ${cs.max} mean $mean")
      cs.sum
    }
  }
}
