package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
import org.scalatest.funsuite.AnyFunSuite

/** Every engine session carries the same settings: the suite's shared
  * session and the builder `Bench`, `Verify` and the dev tools use.
  */
class GraftSessionSpec extends AnyFunSuite {
  private def expected(cores: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cores]",
    SQLConf.SHUFFLE_PARTITIONS.key -> cores.toString,
    SQLConf.SESSION_LOCAL_TIMEZONE.key -> "UTC",
    StaticSQLConf.SPARK_SESSION_EXTENSIONS.key -> "graft.functions.GraftExtensions",
    "spark.ui.enabled" -> "false",
    StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key -> "4096")

  test("TestSpark and GraftSession.builder carry the engine's settings") {
    // The context's conf: the settings the session was started with,
    // whatever a spec has set at run time since.
    val started = TestSpark.spark.sparkContext.getConf
    expected(4).foreach { case (k, v) => assert(started.getOption(k).contains(v), k) }
    // A builder's options are protected in Scala but public in bytecode;
    // reading them checks a second configuration without a second context.
    val options = classOf[SparkSession.Builder].getMethod("options")
      .invoke(GraftSession.builder(2))
      .asInstanceOf[scala.collection.Map[String, String]]
    expected(2).foreach { case (k, v) => assert(options.get(k).contains(v), k) }
  }
}
