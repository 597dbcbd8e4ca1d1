package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The engine's batch inputs: the reference's two, parquet and CSV.
  *
  * [[load]] reads the deterministic parquet testdata (TESTDATA.md), one
  * `<name>.parquet` file per table in a scale-factor dir. All engine
  * queries read through it so scans stay uniform: plain
  * `spark.read.parquet` — column pruning and predicate pushdown reach the
  * scan via Catalyst, no options needed. [[csv]] is the reference's CSV
  * input with an explicit schema.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Column-metadata key marking `ts_ns` as DERIVED from a native
    * timestamp (the µs testdata path) rather than read from the scan.
    */
  val DerivedNsKey = "graft.derivedNs"

  // Memoized per (session, dir): the returned DataFrame is a reusable
  // logical plan (no data is cached) — repeated queries over the same
  // table skip the file listing + parquet footer/schema read that
  // `spark.read.parquet` performs each call, and identical analyzed
  // plans improve codegen-cache hits across a query batch. Keyed on the
  // session OBJECT (reference equality) through weak keys, so a stopped
  // session's plans never leak to another session and are GC-reclaimed;
  // assumes table directories are immutable once read (true for the
  // driver's testdata contract) — a rewritten dir needs a new session.
  private val planCache =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[(String, String), DataFrame]]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val perSession = planCache.synchronized {
      planCache.computeIfAbsent(spark,
        _ => scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame])
    }
    perSession.getOrElseUpdate((dir, name), {
      // events.ts has shipped with two physical encodings across testdata
      // generations, so branch on the LOADED schema rather than assuming:
      //  - INT64 TIMESTAMP(NANOS): Spark's TimestampType (µs) can't hold it
      //    natively — read nanos as long, truncate to µs with exact integer
      //    division (`div`, not `/`: ns-since-epoch ≈ 1.7e18 exceeds
      //    double's 2^53 exact-integer range). The raw ns column is kept as
      //    ts_ns: predicates on the derived ts can't be pushed into the scan
      //    (Spark can't invert the conversion), so range queries add a
      //    redundant pushable predicate on ts_ns — see
      //    [[graft.etl.Quality.betweenWithPushdown]].
      //  - timestamp[us] (NTZ or instant): native TimestampType; cast NTZ to
      //    the session type (UTC) and derive ts_ns = unix_micros*1000 so
      //    every downstream ts_ns call site keeps working. Here ts predicates
      //    push into the scan directly; the redundant ns preimage bounds in
      //    Quality stay necessary conditions, just dormant.
      // DuckDB reads either encoding natively and references only ts, so
      // oracle comparisons are unaffected by the branch.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$dir/$name.parquet")
      if (name == "events") {
        import org.apache.spark.sql.types.LongType
        df.schema("ts").dataType match {
          case LongType =>
            df.withColumn("ts_ns", col("ts"))
              .withColumn("ts", timestamp_micros(expr("ts div 1000")))
          case _ =>
            // Tag the derived ts_ns so Quality's pushdown helpers know
            // the redundant ns conjunct would prune nothing here (ts
            // bounds push natively) and skip it — on the ns path ts_ns
            // IS the scan column and the conjunct is the pushdown.
            val derivedMd = new org.apache.spark.sql.types.MetadataBuilder()
              .putBoolean(Tables.DerivedNsKey, true).build()
            df.withColumn("ts", col("ts").cast("timestamp"))
              .select(col("*"),
                (unix_micros(col("ts")) * lit(1000L)).as("ts_ns", derivedMd))
        }
      } else df
    })
  }

  /** Register every table as a temp view (same namespace the DuckDB oracle
    * uses), enabling `spark.sql` over identical names.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** S2 — CSV batch scan with explicit schema + header
    * (reference: kafka_producer.py:37-38; schema explicit rather than
    * inferred so a bad file fails loudly instead of silently retyping).
    */
  def csv(spark: SparkSession, path: String,
          schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)
}
