package graft.tools

import org.apache.spark.sql.SparkSession

/** Quiet local session and host-telemetry readers for the dev tools.
  * The /proc readers feed [[DrillRun.phase]] — one implementation so a
  * parsing fix lands once.
  */
private[tools] object ToolSession {
  /** /proc/self/io counter (e.g. "read_bytes", "write_bytes") — actual
    * device I/O, not page-cache hits; -1 when unreadable.
    */
  def ioBytes(field: String): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/io")
      try src.getLines()
        .collectFirst { case l if l.startsWith(s"$field:") =>
          l.split("\\s+")(1).toLong }
        .getOrElse(-1L)
      finally src.close()
    } catch { case _: Throwable => -1L }

  /** Host-wide steal jiffies from /proc/stat's aggregate cpu line —
    * the hypervisor-contention signal deltaed around each drill phase;
    * -1 when unreadable.
    */
  def stealJiffies: Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+")).filter(_.length > 8)
        .map(_(8).toLong).getOrElse(-1L)
      finally src.close()
    } catch { case _: Throwable => -1L }

  /** The drill corpus token generator (ScreenDrill/PrepBackfillDrill
    * convention): n "drilltokenwordNNNNN" tokens from a 50k vocab —
    * long alpha tags keep every doc above the 0.6 alpha-ratio quality
    * boundary even with 5-digit suffixes.
    */
  def drillTokens(seed: org.apache.spark.sql.Column, n: Int)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    concat_ws(" ", transform(sequence(lit(0), lit(n - 1)),
      i => concat(lit("drilltokenword"),
        pmod(xxhash64(seed * 31 + i), lit(50000)))))
  }

  /** The tools' session: `SPARK_GRAFT_CPUS` cores (the variable Bench
    * and Verify read), or every available core when it is unset.
    */
  def local(): SparkSession = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    val spark = graft.GraftSession.builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
