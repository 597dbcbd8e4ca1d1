package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** The CSV reader's explicit-schema contract ([[Tables.csv]]): a
  * written frame reads back with the declared names, types and rows.
  */
class SourcesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val rows = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, null, 3.5))
  private def df = rows.toDF("id", "tag", "v")

  // File sources report every column nullable — compare names and types.
  private def shape(s: org.apache.spark.sql.types.StructType) =
    s.fields.map(f => (f.name, f.dataType)).toSeq

  test("CSV reader enforces its explicit schema") {
    val dir = java.nio.file.Files.createTempDirectory("csv").toString
    df.write.mode("overwrite").option("header", "true").csv(dir)
    val back = Tables.csv(spark, dir, df.schema)
    assert(shape(back.schema) == shape(df.schema))
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }
}
