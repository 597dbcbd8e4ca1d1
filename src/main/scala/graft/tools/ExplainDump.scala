package graft.tools

import graft.SparkEntry

/** Plan inspection helper: runs selected queries (or all) and prints each
  * one's formatted physical plan, so scan pushdown, join strategies and
  * codegen spans can be reviewed. The query is collected first (collect,
  * not count, so THIS QueryExecution runs): its adaptive node then prints
  * the final plan, where runtime exchange reuse and join re-planning are
  * visible, above the initial plan. Not part of the driver contract.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = ToolSession.local()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        df.collect()
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
