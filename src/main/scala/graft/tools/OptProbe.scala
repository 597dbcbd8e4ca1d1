package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** The name-addressed job profiler: runs named SparkEntry queries under
  * the Bench session (production plans, warm tables and indexes), once
  * cold and once warm, and prints both walls plus every Spark JOB the
  * warm run fires with its wall time and call site — the per-query
  * answer to "where do the seconds go". Not part of the driver contract.
  *
  * Usage: runMain graft.tools.OptProbe <name> [<name> ...]
  * (`SPARK_GRAFT_SF_DIR` as for Bench; cores from `SPARK_GRAFT_CPUS`,
  * [[ToolSession.local]].)
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.props("graft.verify.exact") = "false"
    val spark = ToolSession.local()
    // Same table warm + index warm as Bench so the probe measures
    // steady-state cost, not first-decode init.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { t =>
      try {
        val df = graft.sources.Tables.load(spark, sfDir, t)
        df.select(org.apache.spark.sql.functions.hash(
            org.apache.spark.sql.functions.struct(
              df.columns.toIndexedSeq.map(org.apache.spark.sql.functions.col): _*)))
          .count()
      } catch { case _: Throwable => () }
    }
    try graft.SparkEntry.ensureIndexes(spark, sfDir) catch { case _: Throwable => () }

    case class Job(id: Int, desc: String, start: Long, var end: Long = 0L,
                   var tasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // Stage details carry the deepest user-code callsite — the only
        // attribution an AQE stage-materialization job exposes.
        val site = e.stageInfos
          .flatMap(_.details.split("\n"))
          .find(l => l.contains("graft.") && !l.contains("graft.tools"))
          .getOrElse("")
          .trim.take(80)
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(e.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
          .getOrElse("?")
        jobs.put(e.jobId, Job(e.jobId, s"$desc | $site", e.time,
          tasks = e.stageInfos.map(_.numTasks).sum))
        order.add(e.jobId); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(_.end = e.time); ()
      }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val dur = (for {
          a <- si.submissionTime; b <- si.completionTime
        } yield (b - a) / 1e3).getOrElse(-1.0)
        if (dur >= 0.2) {
          val rdds = si.rddInfos.map(i =>
            if (i.callSite.nonEmpty) i.callSite else i.name)
            .distinct.mkString("; ").take(140)
          println(f"  STAGE ${si.stageId}%4d $dur%7.3f s tasks=${si.numTasks}%3d  $rdds")
        }
      }
    })

    args.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val c0 = System.nanoTime()
      fn(spark, sfDir).count()
      val cold = (System.nanoTime() - c0) / 1e9
      jobs.clear(); order.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graftbridge.ListenerDrain.drain(
        spark.sparkContext, 30000L)
      import scala.jdk.CollectionConverters._
      val js = order.asScala.toSeq.flatMap(id => Option(jobs.get(id)))
      val sumJobs = js.map(j => (j.end - j.start) / 1e3).sum
      println(f"OPTPROBE $name cold=$cold%.2f s warm=$wall%.2f s jobs=${js.size} jobSum=$sumJobs%.2f s (gaps=${wall - sumJobs}%.2f s)")
      js.foreach { j =>
        println(f"  job ${j.id}%4d ${(j.end - j.start) / 1e3}%7.3f s tasks=${j.tasks}%4d  ${j.desc.take(160)}")
      }
    }
    spark.stop()
  }
}
