package graft.tools

import org.apache.spark.sql.functions._

import graft.ext.Similarity

/** SemDeDup scale drill (`semdedup [vectors]`, default 1M):
  * measures the multi-assignment trade on a synthetic 1M × 64-dim
  * corpus with PLANTED near-duplicates — pair-space factor and
  * cell-stage recall for single assignment, boundary-conditional top-2
  * (the operator's default, ε = 0.1), and unconditional top-2
  * (ε = 2.0, the r5 form). Candidate-pair counts come from cell
  * occupancy (Σ c·(c−1)/2 — exact, no cosine evaluated), recall from
  * the planted ground-truth pairs only, so the drill scales to millions
  * of vectors without running the quadratic in-cell join; the full
  * operator then runs end-to-end at a smaller volume as a wall-clock
  * sanity check. Cells come from [[Similarity.assignedCells]] — the
  * operator's real assignment path, not a replica. Findings live in
  * SCALE.md.
  */
private[tools] object SemDedupDrill extends DrillDef("semdedup", Seq("2000")) {
  def run(r: DrillRun, args: Seq[String]): Unit = {
    val n = args.lift(0).fold(1000000L)(_.toLong)
    val nDups = n / 50 // 2% planted near-duplicates
    val dim = 64
    val k = 128
    val spark = r.spark

    // Same deterministic hash-mix corpus as AnnDrill; the planted dup of
    // base vector b is b with component 0 scaled 1.05× — cosine > 0.999,
    // far above any random-pair cosine at 64 dims.
    val embExpr = (id: org.apache.spark.sql.Column) =>
      transform(sequence(lit(0), lit(dim - 1)),
        i => ((pmod(xxhash64(id * 131 + i), lit(2000000)) -
          1000000L) / 1000000.0).cast("float"))
    val base = spark.range(n).select(col("id").as("vec_id"),
      embExpr(col("id")).as("embedding"))
    val dups = spark.range(nDups).select((col("id") + n).as("vec_id"),
      transform(embExpr(col("id")),
        (x, i) => when(i === 0, (x * 1.05).cast("float")).otherwise(x))
        .as("embedding"))
    val emb = base.unionByName(dups).localCheckpoint()

    val cs = r.phase(s"k-means fit (k=$k, 2 iters, ${n + nDups} vecs)") {
      Similarity.kmeansFit(emb, k = k, iters = 2, dim = dim)
    }

    // (label, assignments, boundaryEps): eps sweep + the unconditional
    // r5 form. eps = e guarantees capture of pairs with cos ≥ 1 − e²/8.
    val regimes = Seq(("m=1", 1, 0.0),
      ("m=2 eps=0.02", 2, 0.02), ("m=2 eps=0.05", 2, 0.05),
      ("m=2 eps=0.1", 2, 0.1), ("m=2 uncond", 2, 2.0))

    val table = regimes.map { case (label, m, eps) =>
      val celled = Similarity.assignedCells(emb, cs, m, eps)
        .select("vec_id", "cell").localCheckpoint()
      val assigned = celled.count()
      // Exact candidate-pair count from occupancy: Σ_cell c·(c−1)/2.
      val pairs = r.phase(s"pair space ($label)") {
        celled.groupBy("cell").agg(count(lit(1)).as("c"))
          .agg(sum(col("c") * (col("c") - 1) / 2).cast("long"))
          .head().getLong(0)
      }
      // Recall of the CELL stage on the planted pairs: (b, b+n) is
      // comparable iff the two sides share ≥1 cell.
      val recall = r.phase(s"planted-pair cell recall ($label)") {
        val l = celled.as("l")
        val hit = l.join(celled.as("r"),
            col("l.vec_id") + lit(n) === col("r.vec_id") &&
              col("l.cell") === col("r.cell"))
          .select(col("l.vec_id")).distinct().count()
        hit.toDouble / nDups
      }
      (label, assigned, pairs, recall)
    }
    val basePairs = table.head._3
    println(f"${"regime"}%-14s ${"rows"}%12s ${"beta"}%7s " +
      f"${"cand pairs"}%14s ${"factor"}%7s ${"recall"}%7s")
    table.foreach { case (label, assigned, pairs, recall) =>
      val beta = assigned.toDouble / (n + nDups) - 1.0
      println(f"$label%-14s $assigned%12d $beta%7.3f $pairs%14d " +
        f"${pairs.toDouble / basePairs}%7.3f $recall%7.4f")
    }

    // Scaled-k growth law: fixed k = 8 (the r9 constant) vs
    // k = scaledCellCount(n) at 1× and 10× corpus — with fixed k the
    // expected cell population grows linearly in n and the candidate
    // pair space quadratically; √N-scaled k holds both at O(n^1.5).
    // Real fits, real assignment path, exact occupancy counts.
    println()
    println("scaled-k growth law (fixed k=8 vs scaledCellCount):")
    println(f"${"corpus"}%10s ${"k"}%6s ${"maxCell"}%10s ${"meanCell"}%10s " +
      f"${"candPairs"}%14s ${"fit s"}%7s")
    Seq(n / 10, n).foreach { s =>
      val corpus = emb.filter(col("vec_id") < s)
      Seq(8, Similarity.scaledCellCount(s)).distinct.foreach { kk =>
        val fit = s"k-means fit (k=$kk, 2 iters, $s vecs)"
        val cs2 = r.phase(fit)(
          Similarity.kmeansFit(corpus, kk, iters = 2, dim = dim))
        val occ = Similarity.assignedCells(corpus, cs2, 1, 0.0)
          .groupBy("cell").agg(count(lit(1)).as("c"))
          .agg(max(col("c")), avg(col("c")),
            sum(col("c") * (col("c") - 1) / 2).cast("long"))
          .head()
        println(f"$s%10d $kk%6d ${occ.getLong(0)}%10d ${occ.getDouble(1)}%10.1f " +
          f"${occ.getLong(2)}%14d ${r.seconds(fit)}%7.2f")
      }
    }

    // End-to-end operator at a volume where the in-cell join actually
    // runs: same centroids, 1/10 of the corpus.
    val small = emb.filter(col("vec_id") % 10 === 0 ||
        col("vec_id") >= n).localCheckpoint()
    val smallN = small.count()
    Seq(("m=1", 1, 0.0), ("m=2 eps=0.1", 2, 0.1)).foreach {
      case (label, m, eps) =>
        r.phase(s"semanticDedup end-to-end ($label, $smallN vecs)") {
          val out = Similarity.semanticDedupAssigned(small, cs,
            threshold = 0.95, assignments = m, boundaryEps = eps)
          val kept = out.filter(col("keep")).count()
          println(f"  kept $kept%d of $smallN%d")
        }
    }
  }
}
