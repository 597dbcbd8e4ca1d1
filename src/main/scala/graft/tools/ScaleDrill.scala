package graft.tools

import org.apache.spark.sql.functions._

/** Scale drill: runs the reference-analytics shapes over a
  * TripGenSource corpus far larger than the biggest testdata SF
  * (`scale [rows]`, default 20M — ~33× the sf0.1 lineitem).
  * Demonstrates that the aggregation layer's cost scales with the scan,
  * not with plan overhead, and that the custom DSv2 source feeds the
  * engine at volume.
  */
private[tools] object ScaleDrill extends DrillDef("scale", Seq("20000")) {
  def run(r: DrillRun, args: Seq[String]): Unit = {
    val rows = args.lift(0).fold(20000000L)(_.toLong)
    def gen = r.spark.read.format("graft.sources.TripGenSource")
      .option("rows", rows.toString).option("partitions", "64").load()
    r.phase("scan count")(gen.count())
    r.phase("global trip statistics") {
      gen.agg(count(lit(1)), avg("fare_amount"),
        graft.agg.Analytics.dsum(col("fare_amount"))).count()
    }
    r.phase("vendor comparison") {
      gen.groupBy("vendor_id")
        .agg(count(lit(1)), graft.agg.Analytics.dsum(col("fare_amount")))
        .count()
    }
    r.phase("hourly stats") {
      gen.groupBy(date_format(col("pickup_ts"), "yyyy-MM-dd"),
          hour(col("pickup_ts")))
        .agg(count(lit(1)), graft.agg.Analytics.dsum(col("fare_amount")))
        .count()
    }
    r.phase("top-100 fares") {
      gen.orderBy(col("fare_amount").desc, col("id")).limit(100).count()
    }
    r.phase("pushdown range (1% of ids)") {
      gen.filter(col("id") >= rows - rows / 100).count()
    }
  }
}
