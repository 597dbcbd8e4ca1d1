package graft.tools

import org.apache.spark.sql.functions._

import graft.SparkEntry

/** Over-the-sample-cap oracle fixture: generates a synthetic
  * embeddings table LARGER than every quantizer training cap (5000 >
  * 256·16 = 4096), runs the quantizer-backed queries against it, and
  * dumps results + oracle SQL in `Verify`'s layout so
  * `tools/selfcheck.py <fixture_dir> <out_dir>` replays the DuckDB
  * comparison. This is the proof the [[graft.oracle.KmeansSql]] /
  * [[graft.oracle.PqSql]] sample CTEs refit on EXACTLY the engine's
  * bounded sample — the driver's own gate corpus (500 vectors) sits
  * under the caps, where sample ≡ corpus and the ordering is
  * unexercised. (`runMain graft.tools.OracleFixture [n] [dir]`;
  * not part of the driver contract.)
  *
  * Embeddings cluster around 10 seeded unit anchors with small
  * deterministic jitter — the testdata generator's shape — so
  * cell populations and top-k margins behave like the real table.
  */
object OracleFixture {
  // The quantizer-backed queries whose oracles embed a fit. The
  // connected-components dedup oracles share the same sample+fit CTE
  // chain, so certifying these certifies the chain; their recursive
  // closure is quadratic in component size and is deliberately not run
  // at 10× corpus.
  val queries = Seq("kmeans_clusters", "ann_topk_indexed",
    "semantic_novel", "pq_topk", "pq_topk_ivf", "pq_recall")

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 5000
    val dir = if (args.length > 1) args(1) else "/tmp/graft-oracle-fixture"
    val out = s"$dir/out"
    val spark = ToolSession.local()
    val anchors = graft.ext.Similarity.centroids(10, 64, 99L)
    val anchorLit = typedLit(anchors.map(_.toSeq))
    spark.range(n.toLong).select(col("id").as("vec_id"),
        (col("id") % 10).cast("int").as("label"),
        transform(sequence(lit(0), lit(63)), j =>
          (element_at(element_at(anchorLit,
              (pmod(col("id"), lit(10)) + 1).cast("int")), j + 1) +
            (pmod(xxhash64(col("id") * 64 + j), lit(1000)) - 500) / lit(5000.0))
          .cast("float")).as("embedding"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    queries.foreach { q =>
      SparkEntry.queries(q)(spark, dir)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
      println(s"[fixture] dumped $q")
    }
    def esc(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val sql = SparkEntry.oracleSql.view.filterKeys(queries.contains).toMap
    val json = sql.map { case (k, v) => s"${esc(k)}: ${esc(v)}" }
      .mkString("{", ",\n", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      json.getBytes("UTF-8"))
    println(s"[fixture] n=$n → $out; compare with: " +
      s"python3 tools/selfcheck.py $dir $out")
    spark.stop()
  }
}
