package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark process: runs one workload and writes its raw record
  * (timings, fingerprints, counters) as JSON; run.py turns records into
  * metrics and checks the fingerprints.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --data DIR --work DIR --out FILE [--queries FILE]
  *
  * `--workload dumps` fingerprints the per-query parquet dumps `graft.Verify`
  * writes under `--data`, which ties the recorded expected values to the
  * outputs the DuckDB oracle checked.
  */
object Main {

  /** `ingest_steady`: rows per trigger, and the measured stream's first
    * triggers that are left out of its measurements.
    */
  val SteadyRows = 10000L
  val WarmupTriggers = 8

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("work"), kv("out"))
    def names: Seq[String] = Files.readAllLines(Paths.get(kv("queries")),
      StandardCharsets.UTF_8).asScala.map(_.trim).filter(_.nonEmpty).toSeq
    val spark = Common.session(o, o.cores)
    val sessionMs = Common.sinceJvmStartMs()
    val rec = o.workload match {
      case "ingest_steady" =>
        val r = Ingest.run(o, spark, sessionMs, SteadyRows, WarmupTriggers)
        if (!o.trace) r
        else {
          spark.stop()
          SparkSession.clearActiveSession()
          SparkSession.clearDefaultSession()
          val single = Common.session(o, 1)
          try r ++ Map("single_thread" -> Ingest.singleThread(o, single))
          finally single.stop()
        }
      case "queries" => Queries.run(o, spark, sessionMs, names)
      case "dumps" =>
        Map("dumps" -> names.map { n =>
          n -> Fingerprint.of(spark.read.parquet(s"${o.data}/$n")).toMap
        }.toMap)
      case other => sys.error(s"unknown workload $other")
    }
    Common.writeJson(o.out, rec ++ Map("workload" -> o.workload, "seed" -> o.seed,
      "cores" -> o.cores, "peak_rss_mb" -> Common.peakRssMb()))
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
