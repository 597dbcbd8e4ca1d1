package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Dev use: an optional THIRD argument (comma-separated query names)
  * restricts the dump — and oracle_sql.json — to that subset, so a new
  * query's oracle can be checked with tools/selfcheck.py in seconds
  * instead of re-running the full suite. The driver passes two args;
  * that path is unchanged.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    val subset: Option[Set[String]] = rest.headOption.map(
      _.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    subset.foreach { w =>
      val unknown = w -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    }
    def wanted(name: String): Boolean = subset.forall(_.contains(name))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    var failed = List.empty[(String, String)]
    SparkEntry.queries.filter(kv => wanted(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed ::= (name -> String.valueOf(e.getMessage))
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Self-check: every declared query must have produced output. The r8
    // testdata schema drift silently dropped 56 of 149 entries (the
    // driver records only queries that wrote parquet) — make that state
    // impossible to miss: scream on BOTH streams with a count the driver's
    // log tail will carry, and persist the failures next to the dumps.
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL (or in an exception message
    // below) would otherwise make the driver's json.load fail and
    // silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val expected = SparkEntry.queries.count(kv => wanted(kv._1))
    val written = expected - failed.size
    if (failed.nonEmpty) {
      val msg = s"[verify] SELF-CHECK FAILED: $written/$expected queries " +
        s"produced output; failed: ${failed.map(_._1).sorted.mkString(", ")}"
      System.err.println(msg); println(msg)
      try Files.writeString(Paths.get(s"$outDir/verify_failures.json"),
        failed.sortBy(_._1).map { case (n, m) =>
          s"""{"query":${q(n)},"error":${q(m)}}"""
        }.mkString("[", ",", "]"))
      catch { case _: Throwable => () }
    } else
      println(s"[verify] self-check OK: $written/$expected queries produced output")
    val json = SparkEntry.oracleSql.filter(kv => wanted(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
