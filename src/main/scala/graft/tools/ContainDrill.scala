package graft.tools

import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** Containment scale drill (`contain [docs]`, default 200k — 400× the sf0.01 documents table): plants
  * quoted-span inclusions at volume and a corpus-wide hot boilerplate
  * span, then measures what the operator docs claim:
  *
  *  - RECALL of the planted inclusions: every doc with id ≡ 1 (mod
  *    100) is a 30-token passage quoted verbatim inside doc id+1 (40
  *    tokens of prefix, 40 of suffix) — high containment, low Jaccard,
  *    the exact shape the operator exists for.
  *  - CLAMP behavior on the hot span: 5% of filler docs share one
  *    16-token boilerplate phrase, so its winnow fingerprints land in
  *    buckets of ~docs/20 members — far past the cap. WITHOUT the
  *    clamp those buckets alone contribute ~(docs/20)² candidate rows
  *    (the infeasible blowup); with it they drop, observably, and
  *    correctly: a 16-of-76-token overlap cannot reach a 0.5
  *    containment threshold, so no true pair is lost to the drop.
  *
  * Numbers recorded in SCALE.md.
  */
private[tools] object ContainDrill extends DrillDef("contain", Seq("30000")) {
  def run(r: DrillRun, args: Seq[String]): Unit = {
    val rows = args.lift(0).fold(200000L)(_.toLong)
    val spark = r.spark
    def clampOf(name: String): (String, Long) = {
      val m = r.observed(name).getOrElse(Map.empty)
      (m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(", "),
        m.get("dropped_buckets").collect { case l: Long => l }.getOrElse(0L))
    }

    // Token streams keyed by (seed, salt, position) over a huge space →
    // cross-doc shingle collisions are negligible except where planted.
    // The salt term is spaced BEYOND the position range (salt*100000,
    // positions < 100): with `i + salt` the streams of adjacent salts
    // overlapped shifted by one (toks(id,2,40)[i] == toks(id,3,40)[i-1]),
    // quietly handing a container doc's prefix and suffix 39 shared
    // tokens.
    def toks(seed: org.apache.spark.sql.Column, salt: Long, n: Int) =
      transform(sequence(lit(0), lit(n - 1)), i =>
        concat(lit("t"), pmod(xxhash64(seed * 977 + i + lit(salt * 100000L)),
          lit(1000000000L))))
    val boiler = concat_ws(" ",
      (0 until 16).map(i => lit(s"boilerplate$i")): _*)
    val docs = spark.range(rows).select(col("id").as("doc_id"),
        concat_ws(" ",
          when(col("id") % 100 === 1, // the quoted passage
            concat_ws(" ", toks(col("id"), 1L, 30)))
          .when(col("id") % 100 === 2, // its container: prefix ++ quote ++ suffix
            concat_ws(" ", concat(toks(col("id"), 2L, 40),
              toks(col("id") - 1, 1L, 30), toks(col("id"), 3L, 40))))
          .otherwise(concat_ws(" ", toks(col("id"), 4L, 60))),
          // hot span: every 20th filler doc carries the same 16 tokens
          when(col("id") % 100 > 2 && col("id") % 20 === 0, boiler)
            .otherwise(lit(""))).as("text"))
      .localCheckpoint()

    val pairs = r.phase(s"containmentPairs over $rows docs") {
      Dedup.containmentPairs(docs, threshold = 0.5)
        .select("doc_a", "doc_b", "a_in_b").collect()
    }

    val planted = (1L until rows by 100L).filter(_ + 1 < rows)
      .map(i => (i, i + 1)).toSet
    val found = pairs.map(p => (p.getLong(0), p.getLong(1))).toSet
    val hit = planted.count(found)
    val recall = hit.toDouble / planted.size
    val (clamp, dropped) = clampOf("containment_fp_clamp")
    println(f"containmentPairs: ${pairs.length}%d pairs, planted recall $recall%.4f " +
      f"($hit/${planted.size}); clamp: $clamp")
    val aInB = pairs.collect {
      case p if planted((p.getLong(0), p.getLong(1))) => p.getDouble(2) }
    if (aInB.nonEmpty)
      println(f"planted a_in_b: min ${aInB.min}%.3f mean " +
        f"${aInB.sum / aInB.length}%.3f")
    assert(recall >= 0.98,
      f"planted containment recall $recall%.4f below 0.98")
    // the hot-span buckets must actually have been clamped — the drill
    // is meaningless (and would not have finished) otherwise
    assert(dropped > 0, "expected the boilerplate fingerprint buckets " +
      s"to exceed the cap; observed: $clamp")

    // Phase 2 — the persisted-index screen (containment_novel's
    // operator) at the same scale: standing corpus = everything except
    // the planted passages; batch = the passages (must flag contained,
    // matched to their containers) + fresh docs (must stay novel). The
    // broadcast plan here complements the registered query's merge
    // plan, so both join strategies carry drill evidence.
    val standing = docs.filter(col("doc_id") % 100 =!= 1)
    val passages = docs.filter(col("doc_id") % 100 === 1)
    val freshN = 1000L
    val fresh = spark.range(rows, rows + freshN)
      .select(col("id").as("doc_id"),
        concat_ws(" ", toks(col("id"), 5L, 60)).as("text"))
    val batch = passages.unionByName(fresh).localCheckpoint()
    val idxPath = r.dir("idx")
    r.phase("buildContainmentIndex (standing corpus)") {
      Dedup.buildContainmentIndex(standing, idxPath)
    }
    val verdicts = r.phase(s"containmentAgainstIndex (${batch.count()} docs)") {
      Dedup.containmentAgainstIndex(batch, idxPath, threshold = 0.5).collect()
    }
    val byId = verdicts.map(v => v.getLong(0) ->
      (v.getBoolean(1), Option(v.get(3)).map(_.asInstanceOf[Long]))).toMap
    val passageIds = (1L until rows by 100L).filter(_ + 1 < rows)
    val contained = passageIds.count(id => !byId(id)._1)
    val matchedRight = passageIds.count(id => byId(id)._2.contains(id + 1))
    val novelFresh = (rows until rows + freshN).count(id => byId(id)._1)
    val (idxClamp, _) = clampOf("containment_idx_clamp")
    println(f"containmentAgainstIndex: contained recall " +
      f"${contained.toDouble / passageIds.size}%.4f " +
      f"($contained/${passageIds.size}, exact match $matchedRight), " +
      f"fresh novel $novelFresh/$freshN; clamp: $idxClamp")
    assert(contained.toDouble / passageIds.size >= 0.98,
      "indexed containment recall below 0.98")
    assert(novelFresh == freshN, "fresh docs must all be novel")
  }
}
