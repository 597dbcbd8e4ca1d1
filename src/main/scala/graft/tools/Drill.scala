package graft.tools

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One scale drill: its name on the [[Drill]] command line, the
  * positional args `DrillSmokeSpec` runs it at (tiny, assertions on),
  * and its body. A body takes its args positionally, each with the
  * default the SCALE.md runs used, and never stops the session.
  */
private[tools] abstract class DrillDef(val name: String,
                                       val smokeArgs: Seq[String]) {
  def run(r: DrillRun, args: Seq[String]): Unit
}

/** What the harness hands a drill body: the session, a scratch dir
  * deleted after the run, one phase timer, and the `Dataset.observe`
  * metrics of every query the run executed.
  */
private[tools] final class DrillRun(drill: String, val spark: SparkSession,
                                    scratch: java.nio.file.Path) {
  private val walls = new ConcurrentHashMap[String, Double]()
  private[tools] val metrics = graft.ObservedMetrics.attach(spark)

  /** A path under this run's scratch dir (not created). */
  def dir(name: String): String = scratch.resolve(name).toString

  /** Runs `body` and prints one line: wall, stop-the-world GC, this
    * process's device read and write bytes (`/proc/self/io`, not
    * page-cache hits), host-wide steal CPU-seconds, and the result when
    * it is a number. The wall is kept under `label` for [[seconds]].
    */
  def phase[T](label: String)(body: => T): T = {
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    val (g0, r0, w0) = (gcMs, ToolSession.ioBytes("read_bytes"),
      ToolSession.ioBytes("write_bytes"))
    val st0 = ToolSession.stealJiffies
    val t0 = System.nanoTime()
    val out = body
    val sec = (System.nanoTime() - t0) / 1e9
    walls.put(label, sec)
    println(f"[$drill] $label%-46s $sec%8.2f s  gc ${(gcMs - g0) / 1e3}%6.2f s" +
      f"  read ${(ToolSession.ioBytes("read_bytes") - r0) / 1e9}%6.2f GB" +
      f"  write ${(ToolSession.ioBytes("write_bytes") - w0) / 1e9}%6.2f GB" +
      f"  steal ${(ToolSession.stealJiffies - st0) / 100.0}%6.1f cpu-s" +
      ((out: Any) match { case n: Number => s"  = $n"; case _ => "" }))
    out
  }

  /** Wall seconds of the last [[phase]] run under `label`. */
  def seconds(label: String): Double = walls.get(label)

  /** The last observed row named `name` (column → value), after every
    * queued listener event is delivered.
    */
  def observed(name: String): Option[Map[String, Any]] = {
    metrics.drain()
    metrics.get(name)
  }
}

/** The scale drills' one entry point:
  * `runMain graft.tools.Drill <name> [args…]`; with no name it lists
  * the drills and their smoke args. Cores come from `SPARK_GRAFT_CPUS`
  * ([[ToolSession.local]]). Each drill asserts its planted truth, so a
  * run that finishes is a run whose plants all landed; SCALE.md holds
  * the recorded runs. Not part of the driver contract.
  */
object Drill {
  private[tools] val all: Seq[DrillDef] = Seq(AnnDrill, Bm25Drill,
    ContainDrill, DecontamDrill, DedupDrill, DsirDrill, GopherDrill,
    LineOpsDrill, PqDrill, PrepBackfillDrill, ScaleDrill, ScreenDrill,
    SemDedupDrill, VocabDrill)

  /** Runs `d` on `spark` in a fresh scratch dir, its whole body one
    * phase; the scratch dir and the metrics listener go afterwards.
    */
  private[tools] def run(spark: SparkSession, d: DrillDef,
                         args: Seq[String]): Unit = {
    val scratch = java.nio.file.Files.createTempDirectory(s"drill-${d.name}-")
    val r = new DrillRun(d.name, spark, scratch)
    try r.phase(s"total (${args.mkString(" ")})")(d.run(r, args))
    finally {
      r.metrics.detach()
      org.apache.commons.io.FileUtils.deleteQuietly(scratch.toFile); ()
    }
  }

  def main(args: Array[String]): Unit =
    all.find(d => args.headOption.contains(d.name)) match {
      case Some(d) =>
        val spark = ToolSession.local()
        try run(spark, d, args.toSeq.tail) finally spark.stop()
      case None =>
        println("usage: runMain graft.tools.Drill <name> [args…]; drills " +
          "(with their smoke args):")
        all.foreach(d => println(s"  ${d.name} ${d.smokeArgs.mkString(" ")}"))
        if (args.nonEmpty) sys.exit(2)
    }
}
