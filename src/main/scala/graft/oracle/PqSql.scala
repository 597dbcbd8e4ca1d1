package graft.oracle

import graft.ext.Similarity

/** DuckDB-SQL generator reproducing the engine's product-quantization
  * stack ([[graft.ext.Quantization]]) bit-exactly: per-subspace L2
  * codebook training (Lloyd iterations with seeded init, fixed-point
  * sums, mean-per-count updates), the extended-coordinate argmin
  * (append 1.0 to the vector and −‖c‖²/2 — rounded through FLOAT like
  * the engine — to each codeword, then first-max dot), corpus encoding,
  * and ADC scoring (per-subspace codebook lookups summed left-to-right,
  * rounded at 4dp). Upgrades `pq_topk`, `pq_topk_ivf`,
  * `pq_topk_indexed` and `pq_recall` to real cross-engine oracles.
  *
  * Sample scope, same contract as [[KmeansSql]]: pqTrain trains every
  * subspace on ONE global 256·k = 4096-row deterministic sample
  * ([[Similarity.trainSample]]'s (xxhash64(vec_id), vec_id) order,
  * reproduced via [[Xxh64Sql.hashLongOf]]) and ENCODES the full
  * corpus; the oracle mirrors both sides, so it stays valid past the
  * cap (at or under it, sample ≡ corpus — the former whole-corpus
  * fit).
  */
object PqSql {
  private val Scale = "16777216" // 2^24

  /** Global training-sample ids: smallest `cap` by the engine's
    * (xxhash64(vec_id), vec_id) total order — shared by all subspaces
    * (pqTrain samples whole rows once, then slices).
    */
  private def pqSampleCte(cap: Int): String = {
    val hashed = Xxh64Sql.hashLongOf(
      "SELECT vec_id FROM embeddings", Seq(), "vec_id", "px", "xh")
    s"pqsample AS (SELECT vec_id FROM ($hashed) ORDER BY xh, vec_id LIMIT $cap)"
  }

  /** Extended codeword list (doubles) from FLOAT[] column `cf`:
    * cf ∥ [float(−0.5·Σ cf_i²)] with the norm folded left-to-right.
    */
  private def extended(cf: String): String =
    s"list_transform($cf, x -> CAST(x AS DOUBLE)) || " +
      s"[CAST(CAST(-0.5 * list_reduce(list_transform($cf, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), (a,b)->a+b) AS FLOAT) AS DOUBLE)]"

  /** CTE chain fitting subspace `s`'s codebook (k=16, dims 16, seed
    * 11+s) over `embeddings`; the final book is `p{s}c{iters}`.
    */
  private def subCtes(s: Int, iters: Int): String = {
    val rows = Similarity.centroids(16, 16, 11L + s).zipWithIndex.map {
      case (c, i) =>
        s"(${i + 1}, [${c.map(_.toDouble.toString).mkString(",")}]::FLOAT[])"
    }.mkString(", ")
    val lo = s * 16 + 1
    val parts = new StringBuilder(
      s"""p${s}full AS (SELECT vec_id, embedding[$lo:${lo + 15}] AS sub_f,
         |    list_transform(embedding[$lo:${lo + 15}], x -> CAST(x AS DOUBLE)) || [1.0] AS ext_d FROM embeddings),
         |p${s}samp AS (SELECT f.* FROM p${s}full f JOIN pqsample q ON q.vec_id = f.vec_id),
         |p${s}c0(code, cf) AS (VALUES $rows)""".stripMargin)
    for (i <- 1 to iters) {
      parts ++= s""",
p${s}x$i AS (SELECT code, ${extended("cf")} AS cfx FROM p${s}c${i - 1}),
p${s}a$i AS (SELECT vec_id, sub_f, code FROM (
        SELECT v.vec_id, v.sub_f, c.code,
        row_number() OVER (PARTITION BY v.vec_id ORDER BY list_dot_product(v.ext_d, c.cfx) DESC, c.code) AS rn
        FROM p${s}samp v CROSS JOIN p${s}x$i c) WHERE rn = 1),
p${s}s$i AS (SELECT code, n, list(sfx ORDER BY di) AS sums FROM (
        SELECT code, di, SUM(CAST(floor(CAST(x AS DOUBLE)*$Scale + 0.5) AS BIGINT)) AS sfx, count(*) AS n
        FROM (SELECT code, unnest(sub_f) AS x, generate_subscripts(sub_f, 1) AS di FROM p${s}a$i) GROUP BY code, di)
        GROUP BY code, n),
p${s}c$i AS (SELECT c.code,
        CASE WHEN n.code IS NULL OR n.n = 0 THEN c.cf
             ELSE list_transform(n.sums, x -> CAST((x/$Scale.0)/n.n AS FLOAT)) END AS cf
        FROM p${s}c${i - 1} c LEFT JOIN p${s}s$i n ON n.code = c.code)"""
    }
    parts.toString
  }

  /** Shared CTE prefix: the 4 fitted books, corpus codes, the query's
    * per-subspace lookup terms, and the full-corpus ADC scores.
    */
  private def common(iters: Int = 3): String = {
    val subs = pqSampleCte(4096) + ",\n" +
      (0 until 4).map(subCtes(_, iters)).mkString(",\n")
    val enc = (0 until 4).map { s =>
      s"""p${s}xf AS (SELECT code, ${extended("cf")} AS cfx,
         |        list_transform(cf, x -> CAST(x AS DOUBLE)) AS cfd FROM p${s}c$iters),
         |p${s}code AS (SELECT vec_id, code FROM (
         |        SELECT v.vec_id, c.code,
         |        row_number() OVER (PARTITION BY v.vec_id ORDER BY list_dot_product(v.ext_d, c.cfx) DESC, c.code) AS rn
         |        FROM p${s}full v CROSS JOIN p${s}xf c) WHERE rn = 1),
         |p${s}q AS (SELECT list_transform(embedding[${s * 16 + 1}:${s * 16 + 16}], x -> CAST(x AS DOUBLE)) AS qd FROM embeddings WHERE vec_id = 0),
         |p${s}term AS (SELECT pc.vec_id, list_dot_product(q.qd, b.cfd) AS t
         |        FROM p${s}code pc CROSS JOIN p${s}q q JOIN p${s}xf b ON b.code = pc.code)""".stripMargin
    }.mkString(",\n")
    val adc =
      """adc AS (SELECT e.vec_id, e.label, round(t0.t + t1.t + t2.t + t3.t, 4) AS adc_ip
        |        FROM embeddings e JOIN p0term t0 ON t0.vec_id = e.vec_id
        |        JOIN p1term t1 ON t1.vec_id = e.vec_id
        |        JOIN p2term t2 ON t2.vec_id = e.vec_id
        |        JOIN p3term t3 ON t3.vec_id = e.vec_id)""".stripMargin
    subs + ",\n" + enc + ",\n" + adc
  }

  /** Seeded coarse quantizer (nlist=16, seed 7) cell per vector + the
    * query's top-2 probe cells — the IVF side of the IVF×PQ pairing.
    */
  private def coarse: String = {
    val scores = Similarity.centroids(16, 64, 7L).map { c =>
      val lits = c.map(_.toDouble.toString).mkString("[", ",", "]")
      s"list_dot_product(emb_d, $lits::DOUBLE[])"
    }.mkString("[", ",", "]")
    s"""coarse AS (SELECT vec_id, list_position(ss, list_aggregate(ss, 'max')) AS cell, ss FROM (
       |    SELECT vec_id, $scores AS ss FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb_d FROM embeddings))),
       |qprobe AS (SELECT i AS pcell FROM (SELECT ss AS qss FROM coarse WHERE vec_id = 0), UNNEST(range(1, len(qss)+1)) AS u(i)
       |           ORDER BY qss[i] DESC, i LIMIT 2)""".stripMargin
  }

  def pqTopKSql: String =
    s"WITH ${common()}\nSELECT vec_id, label, adc_ip FROM adc ORDER BY adc_ip DESC, vec_id LIMIT 10"

  /** pq_topk_ivf and pq_topk_indexed score identically over the same
    * probed cells (QuantizationSpec pins the two row-equal) — one SQL.
    */
  def pqTopKIvfSql: String =
    s"""WITH ${common()},
       |$coarse
       |SELECT a.vec_id, a.label, a.adc_ip FROM adc a JOIN coarse c ON c.vec_id = a.vec_id
       |WHERE c.cell IN (SELECT pcell FROM qprobe) ORDER BY a.adc_ip DESC, a.vec_id LIMIT 10""".stripMargin

  /** Exact-rerank tail shared by the auto-threshold oracles. */
  private def rerankTail(k: Int): String =
    s"""ex AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb_d,
       |       sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS nrm
       |       FROM embeddings),
       |q AS (SELECT emb_d AS qe, nrm AS qn FROM ex WHERE vec_id = 0)
       |SELECT e.vec_id, e.label, ROUND(list_dot_product(e.emb_d, q.qe)/(e.nrm*q.qn), 4) AS cosine
       |FROM ex e JOIN cand c ON c.vec_id = e.vec_id, q
       |ORDER BY cosine DESC, e.vec_id LIMIT $k""".stripMargin

  /** Oracle for `pq_rerank` (auto-sized two-stage retrieval): the
    * shortlist is every vector whose ADC score reaches the tie-class-
    * complete threshold — the highest score at which the cumulative
    * tie-class population reaches `k` (engine: `adcThreshold`). The
    * window's default RANGE frame equals the engine's ROWS frame
    * because the histogram rows are DISTINCT scores (no peers). A
    * corpus smaller than `k` thresholds at −∞.
    */
  def pqRerankAutoSql(k: Int = 10): String =
    s"""WITH ${common()},
       |cum AS (SELECT adc_ip, SUM(n) OVER (ORDER BY adc_ip DESC) AS cum
       |        FROM (SELECT adc_ip, COUNT(*) AS n FROM adc GROUP BY adc_ip)),
       |thr AS (SELECT COALESCE(MAX(adc_ip), -1e308) AS t FROM cum WHERE cum >= $k),
       |cand AS (SELECT vec_id FROM adc, thr WHERE adc_ip >= t),
       |${rerankTail(k)}""".stripMargin

  /** Oracle for `pq_rerank_indexed` (auto-sized, probed-cell form):
    * the threshold histogram runs over the PROBED cells' ADC scores,
    * matching the engine's cell-pruned scan.
    */
  def pqRerankIvfAutoSql(k: Int = 10): String =
    s"""WITH ${common()},
       |$coarse,
       |adcp AS (SELECT a.* FROM adc a JOIN coarse c ON c.vec_id = a.vec_id
       |         WHERE c.cell IN (SELECT pcell FROM qprobe)),
       |cum AS (SELECT adc_ip, SUM(n) OVER (ORDER BY adc_ip DESC) AS cum
       |        FROM (SELECT adc_ip, COUNT(*) AS n FROM adcp GROUP BY adc_ip)),
       |thr AS (SELECT COALESCE(MAX(adc_ip), -1e308) AS t FROM cum WHERE cum >= $k),
       |cand AS (SELECT vec_id FROM adcp, thr WHERE adc_ip >= t),
       |${rerankTail(k)}""".stripMargin

  def pqRecallSql: String =
    s"""WITH ${common()},
       |$coarse,
       |exact_topk AS (
       |    SELECT e.vec_id FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb_d,
       |                          sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS nrm FROM embeddings) e,
       |         (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe,
       |                 sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS qn FROM embeddings WHERE vec_id = 0) q
       |    WHERE e.vec_id <> 0
       |    ORDER BY ROUND(list_dot_product(e.emb_d, q.qe)/(e.nrm*q.qn), 4) DESC, e.vec_id LIMIT 10),
       |adc_topk AS (SELECT vec_id FROM adc ORDER BY adc_ip DESC, vec_id LIMIT 10),
       |adc_ivf_topk AS (SELECT a.vec_id FROM adc a JOIN coarse c ON c.vec_id = a.vec_id
       |  WHERE c.cell IN (SELECT pcell FROM qprobe) ORDER BY a.adc_ip DESC, a.vec_id LIMIT 10)
       |SELECT
       |  (SELECT COUNT(*) FROM exact_topk WHERE vec_id IN (SELECT vec_id FROM adc_topk)) / 10.0 AS recall_adc,
       |  (SELECT COUNT(*) FROM exact_topk WHERE vec_id IN (SELECT vec_id FROM adc_ivf_topk)) / 10.0 AS recall_adc_ivf""".stripMargin
}
