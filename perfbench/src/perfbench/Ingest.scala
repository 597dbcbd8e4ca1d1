package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.etl.{Enrich, Quality}
import graft.ingest.Json
import graft.model.Schemas
import graft.stream.Pipeline
import graft.warehouse.Warehouse

/** The streaming ingest workloads: TripGen → benchmark-side derivation of
  * the producer's eight JSON fields → `Json.toKeyedJson` →
  * `Pipeline.startIdempotent` → the parquet warehouse, as a closed loop
  * (`Trigger.ProcessingTime(0)`: the next micro-batch is planned only
  * after the previous one commits).
  */
object Ingest {

  /** Source row budget: far more than any run can consume. */
  private val SourceRows = 1000000000000L

  /** Rows of the seed-0 reference transform every run checks. */
  val ReferenceRows = 10000L

  /** The producer's trip message, derived from TripGen's columns and keyed
    * by the workload seed. One trip in ten is invalid by construction:
    * a zero-length trip (dropoff = pickup) or one of six hours, both of
    * which the consumer's validity filter drops.
    */
  def trips(gen: DataFrame, seed: Long): DataFrame = {
    val h = xxhash64(col("id"), lit(seed))
    val kind = pmod(h, lit(20L))
    val durS = when(kind === 0, lit(0L)).when(kind === 1, lit(21600L))
      .otherwise(pmod(shiftright(h, 8), lit(3540L)) + 60L)
    val pickup = col("pickup_ts")
    val dropoff = timestamp_seconds(unix_timestamp(pickup) + durS)
    val tip = round(col("fare_amount") * pmod(shiftright(h, 20), lit(31L)) / 100.0, 2)
    gen.select(
      col("vendor_id").as("VendorID"),
      date_format(pickup, "yyyy-MM-dd HH:mm:ss").as("tpep_pickup_datetime"),
      date_format(dropoff, "yyyy-MM-dd HH:mm:ss").as("tpep_dropoff_datetime"),
      (pmod(shiftright(h, 32), lit(6L)) + 1).cast("int").as("passenger_count"),
      col("trip_distance"),
      col("fare_amount"),
      tip.as("tip_amount"),
      round(col("fare_amount") + tip + 1.0, 2).as("total_amount"))
  }

  def messages(gen: DataFrame, seed: Long): DataFrame =
    Json.toKeyedJson(trips(gen, seed), col("VendorID"))

  def batchGen(spark: SparkSession, rows: Long, cores: Int): DataFrame =
    spark.read.format("graft.sources.TripGenSource")
      .option("rows", rows.toString).option("partitions", cores.toString).load()

  /** Every progress event of every stream this process runs. `recentProgress`
    * keeps only the last 100, so a long run would silently lose triggers.
    */
  final class Progress extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      events.add(e.progress); ()
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def of(id: java.util.UUID): Seq[StreamingQueryProgress] =
      events.asScala.filter(p => p.id == id && p.numInputRows > 0).toSeq.sortBy(_.batchId)
  }

  final case class Trig(batch: Long, rows: Long, startMs: Double,
                        durations: Map[String, Double]) {
    def ms: Double = durations.getOrElse("triggerExecution", 0.0)
    def toMap: Map[String, Any] =
      Map("batch" -> batch, "rows" -> rows, "start_ms" -> startMs, "durations" -> durations)
  }

  private def trig(p: StreamingQueryProgress): Trig =
    Trig(p.batchId, p.numInputRows,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap)

  final case class StreamRun(dir: String, setupMs: Double, triggers: Seq[Trig],
                             endOffset: Long) {
    def lastBatch: Long = triggers.map(_.batch).max

    /** The `batch_id=` directories of committed batches. */
    def batchDirs: Seq[java.io.File] =
      Option(new java.io.File(s"$dir/warehouse").listFiles()).toSeq.flatten
        .filter(f => f.getName.startsWith("batch_id=") &&
          f.getName.stripPrefix("batch_id=").toLong <= lastBatch)
  }

  /** Run one stream in `dir`: `setupMs` is start to first commit. Once
    * `warmup` triggers have committed, run each phase for its milliseconds
    * (calling its hook as it starts), then stop the stream once at least
    * one trigger after the warm-up has committed.
    */
  def runStream(spark: SparkSession, progress: Progress, cores: Int, seed: Long,
                rowsPerTrigger: Long, warmup: Int, dir: String,
                phases: Seq[(Double, () => Unit)]): StreamRun = {
    val src = spark.readStream.format("graft.sources.TripGenSource")
      .option("rows", SourceRows.toString).option("partitions", cores.toString)
      .option("rowsPerTrigger", rowsPerTrigger.toString).load()
    val t0 = Common.nowMs()
    val q = Pipeline.startIdempotent(messages(src, seed), s"$dir/warehouse",
      s"$dir/checkpoint", Trigger.ProcessingTime(0L))
    def committed = progress.of(q.id)
    def waitFor(cond: => Boolean): Unit =
      while (!cond) {
        q.exception.foreach(e => throw e)
        Thread.sleep(5)
      }
    try {
      waitFor(committed.nonEmpty)
      val setupMs = Common.nowMs() - t0
      waitFor(committed.size >= warmup)
      phases.foreach { case (ms, hook) =>
        hook()
        val start = Common.nowMs()
        waitFor(Common.nowMs() - start >= ms)
      }
      if (phases.nonEmpty) waitFor(committed.size > warmup)
      q.stop()
      org.apache.spark.graftbridge.ListenerDrain.drain(spark.sparkContext, 30000L)
      val all = committed
      StreamRun(dir, setupMs, all.map(trig), all.last.sources.head.endOffset.toLong)
    } finally if (q.isActive) q.stop()
  }

  /** Warehouse rows of the committed batches, without the audit column. */
  def committedRows(spark: SparkSession, run: StreamRun): DataFrame =
    spark.read.parquet(s"${run.dir}/warehouse")
      .filter(col("batch_id") <= run.lastBatch).drop("batch_id", "pickup_date")

  def committedFiles(run: StreamRun): Long = {
    def files(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(files).sum
      else if (f.getName.endsWith(".parquet")) 1L else 0L
    run.batchDirs.map(files).sum
  }

  /** Rows per second over a run's measured triggers. */
  def rowsPerSec(ts: Seq[Trig]): Double =
    if (ts.isEmpty) 0.0 else {
      val span = ts.last.startMs + ts.last.ms - ts.head.startMs
      ts.map(_.rows).sum / (span / 1000.0)
    }

  /** Batch prefix ladder over the same generated rows, `noop` sink: each
    * step adds one module's call to the step before it.
    */
  def ladder(spark: SparkSession, cores: Int, seed: Long, rows: Long, reps: Int,
             dir: String): Map[String, Double] = {
    val gen = batchGen(spark, rows, cores)
    val t = trips(gen, seed)
    val keyed = Json.toKeyedJson(t, col("VendorID"))
    val parsed = Json.parseStream(keyed, Schemas.tripStream)
    val enriched = Enrich.enrich(parsed)
    val filtered = Enrich.warehouseProjection(Quality.validTrips(enriched))
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val steps: Seq[(String, Int => Unit)] = Seq(
      "gen" -> (_ => noop(t)),
      "serialize" -> (_ => noop(keyed)),
      "parse" -> (_ => noop(parsed)),
      "enrich" -> (_ => noop(enriched)),
      "filter" -> (_ => noop(filtered)),
      "write" -> (i => Warehouse.appendTripsIdempotent(filtered, s"$dir/ladder", i.toLong)))
    steps.foreach { case (_, f) => f(reps) } // warm every step's codegen once
    val ms = steps.map { case (name, f) =>
      name -> Common.median((0 until reps).map(i => Common.timed(f(i))._2))
    }
    ms.toMap
  }

  def run(o: Opts, spark: SparkSession, sessionMs: Double, rowsPerTrigger: Long,
          warmup: Int): Map[String, Any] = {
    val progress = new Progress
    spark.streams.addListener(progress)
    val steal0 = Common.stealSec()
    // Set-up is three stream starts, each timed to its first commit; two
    // are rehearsals, the third is the measured stream, whose first
    // `warmup` triggers are left out: trigger time still falls over the
    // first ten or so while the JIT compiles the per-trigger paths.
    val rehearsals = (0 until 2).map { i =>
      runStream(spark, progress, o.cores, o.seed, rowsPerTrigger, 1,
        s"${o.work}/rehearsal-$i", Nil)
    }
    val tracer = new Tracer(p => Option(p.getProperty("streaming.sql.batchId")))
    val sc = spark.sparkContext
    val measureMs = o.seconds * 1000.0
    var tracedFrom = Double.MaxValue
    val phases: Seq[(Double, () => Unit)] =
      if (!o.trace) Seq(measureMs -> (() => ()))
      else Seq(measureMs / 2 -> (() => ()),
        measureMs / 2 -> (() => {
          tracedFrom = System.currentTimeMillis().toDouble
          sc.addSparkListener(tracer)
        }))
    val main = runStream(spark, progress, o.cores, o.seed, rowsPerTrigger, warmup,
      s"${o.work}/stream", phases)
    if (o.trace) { tracer.drain(sc); sc.removeSparkListener(tracer) }
    val steal1 = Common.stealSec()
    val measured = main.triggers.drop(warmup)

    // Output check: the committed warehouse equals a batch transform of
    // the same generated rows.
    val expected = Fingerprint.of(Pipeline.transform(
      messages(batchGen(spark, main.endOffset, o.cores), o.seed)))
    val committed = committedRows(spark, main)
    val actual = Fingerprint.of(committed.select(
      Schemas.warehouseTrips.fieldNames.toIndexedSeq.map(col): _*))
    // ... and the transform itself is unchanged: fixed rows and seed,
    // compared against perfbench/expected.json.
    val reference = Fingerprint.of(Pipeline.transform(
      messages(batchGen(spark, ReferenceRows, o.cores), 0L)))
    val setupMs = sessionMs + Common.median((rehearsals :+ main).map(_.setupMs))

    val base = Map[String, Any](
      "kind" -> "ingest",
      "rows_per_trigger" -> rowsPerTrigger,
      "warmup_triggers" -> warmup,
      "session_ms" -> sessionMs,
      "setup_ms" -> setupMs,
      "setup_reps_ms" -> (rehearsals :+ main).map(_.setupMs),
      "cold_ms" -> rehearsals.head.triggers.head.ms,
      "triggers" -> measured.map(_.toMap),
      "traced_from_ms" -> (if (o.trace) tracedFrom else null),
      "generated_rows" -> main.endOffset,
      "warehouse_rows" -> actual.rows,
      "warehouse_bytes" -> main.batchDirs.map(d => Common.dirBytes(d.getPath)).sum,
      "warehouse_files" -> committedFiles(main),
      "committed_batches" -> main.triggers.size,
      "check" -> Map("expected" -> expected.toMap, "actual" -> actual.toMap,
        "reference" -> reference.toMap),
      "steal_s" -> (steal1 - steal0))
    if (!o.trace) return base

    // ---- per-layer extras (traced run only) -----------------------------
    val traced = measured.filter(_.startMs >= tracedFrom)
    val perTrig = traced.map(t => tracer.get(t.batch.toString))
    val layer = Map[String, Any](
      "jobs_per_trigger" -> Common.median(perTrig.map(_.jobs.toDouble)),
      "stages_per_trigger" -> Common.median(perTrig.map(_.stages.toDouble)),
      "cpu_ms" -> perTrig.map(_.cpuNs / 1e6).sum,
      "gc_ms" -> perTrig.map(_.gcMs.toDouble).sum,
      "traced_rows" -> traced.map(_.rows).sum,
      "traced_triggers" -> traced.size)
    val ladderRows = 100000L
    val ladderMs = ladder(spark, o.cores, o.seed, ladderRows, 1, s"${o.work}/ladder")

    // Fixed + per-row cost of a trigger, from three trigger sizes.
    val fitSizes = Seq(10000L, 50000L, 200000L)
    val fit = fitSizes.map { r =>
      val run = runStream(spark, progress, o.cores, o.seed, r, 1,
        s"${o.work}/fit-$r", Seq((if (r >= 200000L) 4000.0 else 2000.0) -> (() => ())))
      val ts = run.triggers.drop(1)
      Map("rows_per_trigger" -> r, "trigger_ms" -> Common.median(ts.map(_.ms)),
        "rows_per_s" -> rowsPerSec(ts), "triggers" -> ts.size)
    }
    spark.streams.removeListener(progress)
    base ++ Map("layer" -> layer, "ladder_rows" -> ladderRows, "ladder_ms" -> ladderMs,
      "fit" -> fit)
  }

  /** Single-threaded baseline: the same stream at `local[1]`, 50k rows a trigger. */
  def singleThread(o: Opts, spark: SparkSession): Map[String, Any] = {
    val progress = new Progress
    spark.streams.addListener(progress)
    val run = runStream(spark, progress, 1, o.seed, 50000L, 1,
      s"${o.work}/single", Seq(4000.0 -> (() => ())))
    val ts = run.triggers.drop(1)
    Map("rows_per_s" -> rowsPerSec(ts), "triggers" -> ts.size)
  }
}
