package graft.tools

import org.apache.spark.sql.functions._

import graft.ext.{Contamination, Dedup}

/** Fuzzy-decontamination scale drill (`decontam [docs]
  * [bcast|merge|scan-bcast|scan-merge]`, default 2M / bcast —
  * 4000× the sf0.01 documents table): measures the indexed fuzzy
  * contamination screen
  * ([[graft.ext.Contamination.neardupContaminationAgainstIndex]]) at
  * the shape it exists for — a corpus-scale BACKFILL screened against a
  * benchmark-sized frozen eval MinHash index — and A/Bs its two join
  * plans:
  *
  *  - `bcast` (the operator's default, `broadcastIndex`): the 1k-doc
  *    eval index broadcasts (bands AND sets); the batch's only
  *    exchange is its own shingle aggregate. Shuffle-write bytes stay
  *    batch-aggregate-sized regardless of how the planner estimates
  *    the index tables.
  *  - `merge`: the co-partitioned fallback for eval suites past
  *    broadcast size — both sides shuffle once.
  *
  * `scan-bcast` / `scan-merge` (r18) run the SCAN-form veto instead —
  * [[graft.ext.Dedup.minhashDupIds]]`(batch, evals, broadcastCorpus)`,
  * the in-frame shape `CorpusPrep.prepare`'s fuzzy veto composes
  * (eval suite re-derived per run, no index at rest) — A/B-ing the
  * r18 `broadcastCorpus` plan against the r17 merge shape whose
  * corpus-sized band exchange it deletes. Same plants, same recall /
  * false-flag gates; flagged = the dup-id list itself.
  *
  * Plants: every batch doc with id ≡ 7 (mod 500) is a one-token-edited
  * copy of eval doc (id mod 1000) — 60 tokens, exact J = 55/61 ≈ 0.90,
  * the paraphrased-benchmark shape; a-priori per-pair band-miss at 32
  * hashes / 8 bands is (1−J⁴)⁸ ≈ 1.9e-4, so the drill asserts recall
  * ≥ 0.999 AND zero false flags (clean docs draw tokens from a 1e9
  * space — cross-doc collisions are negligible).
  *
  * The screen's phase line carries device read GB and (shuffle +
  * index) write GB — the counters that caught the r16 sets-table
  * shuffle bug. Numbers recorded in SCALE.md.
  */
private[tools] object DecontamDrill
    extends DrillDef("decontam", Seq("2000", "bcast")) {
  def run(r: DrillRun, args: Seq[String]): Unit = {
    val rows = args.lift(0).fold(2000000L)(_.toLong)
    val mode = args.lift(1).getOrElse("bcast")
    // Loud on a typo'd mode: a silent fallback would label the printed
    // timing line (the SCALE.md record) with a plan that did not run.
    require(Set("bcast", "merge", "scan-bcast", "scan-merge")(mode),
      s"mode '$mode' not one of bcast|merge|scan-bcast|scan-merge")
    val scanForm = mode.startsWith("scan-")
    val useBroadcast = mode == "bcast" || mode == "scan-bcast"
    val spark = r.spark

    def toks(seed: org.apache.spark.sql.Column, salt: Long, n: Int) =
      transform(sequence(lit(0), lit(n - 1)), i =>
        concat(lit("t"), pmod(xxhash64(seed * 977 + i + lit(salt * 100000L)),
          lit(1000000000L))))

    val evalN = 1000L
    val evals = spark.range(evalN).select(col("id").as("doc_id"),
        concat_ws(" ", toks(col("id"), 1L, 60)).as("text"))
      .localCheckpoint()
    // Batch: ids offset past the eval range; planted docs copy their
    // eval twin with token 30 replaced (J = 55/61 ≈ 0.90).
    val editedCopy = transform(toks(pmod(col("id"), lit(evalN)), 1L, 60),
      (t, i) => when(i === 30, lit("EDITED")).otherwise(t))
    val batch = spark.range(10000L, 10000L + rows)
      .select(col("id").as("doc_id"),
        when(col("id") % 500 === 7, concat_ws(" ", editedCopy))
          .otherwise(concat_ws(" ", toks(col("id"), 4L, 60))).as("text"))
      .localCheckpoint()

    val idx = r.dir("mhidx")
    if (!scanForm) r.phase(s"eval index build ($evalN docs)") {
      Dedup.buildMinhashIndex(evals, idx)
    }

    val flagged = r.phase(s"$mode screen over $rows docs") {
      (if (scanForm)
        Dedup.minhashDupIds(batch, evals,
          observeName = "decontam_drill_clamp",
          broadcastCorpus = useBroadcast)
      else
        Contamination.neardupContaminationAgainstIndex(
            batch, idx, broadcastIndex = useBroadcast, sorted = false)
          .filter(col("is_contaminated"))
          .select("doc_id"))
      .collect().map(_.getLong(0)).toSet
    }

    val planted = (10000L until (10000L + rows)).filter(_ % 500 == 7).toSet
    val hit = planted.count(flagged)
    val falsePos = (flagged -- planted).size
    val recall = hit.toDouble / planted.size
    println(f"$mode%s: flagged ${flagged.size}%d, planted recall $recall%.4f " +
      f"($hit/${planted.size}), false flags $falsePos%d")
    assert(recall >= 0.999,
      f"planted near-dup recall $recall%.4f below 0.999")
    assert(falsePos == 0, s"$falsePos clean docs falsely flagged")
  }
}
