package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.sources.Tables

/** The `queries` workload: registered `SparkEntry.queries`, one client,
  * each query fully materialized (fingerprinted) before the next starts.
  */
object Queries {

  /** One timed query: build the DataFrame, then fingerprint every column. */
  def runOne(spark: SparkSession, data: String, name: String,
             tracer: Option[Tracer]): Map[String, Any] = {
    val sc = spark.sparkContext
    val fn = SparkEntry.queries(name)
    val e0 = System.currentTimeMillis()
    val t0 = Common.nowMs()
    try {
      tracer.foreach(_ => sc.setJobGroup(s"$name|build", name, interruptOnCancel = false))
      val df = fn(spark, data)
      val t1 = Common.nowMs()
      val e1 = System.currentTimeMillis()
      tracer.foreach(_ => sc.setJobGroup(s"$name|exec", name, interruptOnCancel = false))
      val frame = Fingerprint.frame(df)
      val fp = Fingerprint.read(frame.collect().head)
      val t2 = Common.nowMs()
      val e2 = System.currentTimeMillis()
      val base = Map[String, Any]("name" -> name, "ok" -> true, "wall_ms" -> (t2 - t0),
        "build_ms" -> (t1 - t0), "fp" -> fp.toMap)
      tracer.fold(base) { _ =>
        val phases = frame.queryExecution.tracker.phases
        def phase(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        base ++ Map("analysis_ms" -> phase("analysis"),
          "optimization_ms" -> phase("optimization"), "planning_ms" -> phase("planning"),
          "epoch" -> Seq(e0, e1, e2))
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name FAILED: ${e.getMessage}")
        Map("name" -> name, "ok" -> false, "wall_ms" -> (Common.nowMs() - t0),
          "error" -> String.valueOf(e.getMessage).take(500))
    } finally tracer.foreach(_ => sc.clearJobGroup())
  }

  /** Scheduler, executor and shuffle counters of one traced query, and its
    * time split: build + Catalyst phases + job union + driver gap. The gap
    * is the part of the fingerprint's SQL executions that neither a job nor
    * a Catalyst phase covers: optimization and planning run lazily inside
    * the execution, analysis before it.
    */
  def layers(rec: Map[String, Any], tracer: Tracer): Map[String, Any] = {
    val name = rec("name").toString
    val Seq(e0, e1, e2) = rec("epoch").asInstanceOf[Seq[Long]]
    val b = tracer.get(s"$name|build")
    val x = tracer.get(s"$name|exec")
    val execJobs = Tracer.clip(x.jobSpans, e1, e2 + 1)
    val jobUnion = Tracer.unionMs(execJobs)
    val execs = Tracer.clip(tracer.execSpans.toArray(Array.empty[(Long, Long)]).toSeq, e1, e2 + 1)
    val lazyPhases = rec("optimization_ms").asInstanceOf[Double] +
      rec("planning_ms").asInstanceOf[Double]
    val gap = execs.map { case (s, e) =>
      (e - s) - Tracer.unionMs(Tracer.clip(execJobs, s, e))
    }.sum - lazyPhases
    def both(f: tracer.Acc => Long) = f(b) + f(x)
    Map("build_jobs" -> b.jobs, "jobs" -> both(_.jobs), "stages" -> both(_.stages),
      "tasks" -> both(_.tasks), "run_ms" -> both(_.runMs), "cpu_ms" -> both(_.cpuNs) / 1e6,
      "gc_ms" -> both(_.gcMs), "serial_stage_ms" -> math.max(b.serialStageMs, x.serialStageMs),
      "input_bytes" -> both(_.inputBytes), "shuffle_read_bytes" -> both(_.shuffleRead),
      "shuffle_write_bytes" -> both(_.shuffleWrite), "spill_bytes" -> both(_.spill),
      "job_union_ms" -> jobUnion, "driver_gap_ms" -> gap)
  }

  /** Decode every column of every table once, as `Bench` does, so the
    * first query touching a table does not pay the reader's start-up.
    */
  def warmTables(spark: SparkSession, data: String): Unit =
    Tables.names.foreach { t =>
      val df = Tables.load(spark, data, t)
      df.select(hash(struct(df.columns.toIndexedSeq.map(col): _*)).as("h"))
        .agg(max(col("h"))).collect()
    }

  def run(o: Opts, spark: SparkSession, sessionMs: Double,
          names: Seq[String]): Map[String, Any] = {
    val prepMs = (0 until 3).map(_ => Common.timed(warmTables(spark, o.data))._2)
    val setupMs = sessionMs + Common.median(prepMs)
    // The cold pass runs in the given order: whichever query runs first
    // pays the first-use cost of code the others share, so a seeded order
    // would move cold time between queries. Each warm pass (at least two)
    // runs in its own seeded order.
    val rnd = new scala.util.Random(o.seed)
    val steal0 = Common.stealSec()
    val start = Common.nowMs()
    val cold = names.map(runOne(spark, o.data, _, None))
    val warm = scala.collection.mutable.ArrayBuffer.empty[Seq[Map[String, Any]]]
    while (warm.size < 2 || Common.nowMs() - start < o.seconds * 1000.0)
      warm += rnd.shuffle(names).map(runOne(spark, o.data, _, None))
    val steal1 = Common.stealSec()
    val base = Map[String, Any]("kind" -> "queries", "session_ms" -> sessionMs,
      "setup_ms" -> setupMs, "setup_reps_ms" -> prepMs,
      "cold" -> cold, "warm" -> warm.toSeq, "steal_s" -> (steal1 - steal0))
    if (!o.trace) return base

    val tracer = new Tracer(p => Option(p.getProperty("spark.jobGroup.id")))
    val sc = spark.sparkContext
    sc.addSparkListener(tracer)
    val traced = rnd.shuffle(names).map(runOne(spark, o.data, _, Some(tracer)))
    tracer.drain(sc)
    sc.removeSparkListener(tracer)
    base ++ Map("traced" -> traced.map(r =>
      if (r("ok") == true) r ++ layers(r, tracer) else r))
  }
}
