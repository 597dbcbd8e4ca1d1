package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for the whole suite (sessions are expensive;
  * specs must not stop() it).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4)
      .appName("graft-tests")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Reference-shaped raw trip rows (FIXTURES.md §A.1) as a `value` JSON
    * column — the exact shape the stream consumer sees.
    */
  def tripJson(rows: Seq[String]): DataFrame = {
    import spark.implicits._
    rows.toDF("value")
  }
}
