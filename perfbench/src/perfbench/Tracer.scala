package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Scheduler/executor/shuffle counters, attributed to a key taken from
  * each job's local properties: the job group a query workload sets per
  * query, or the micro-batch id a streaming query stamps on its jobs.
  * Registered only in traced runs; nothing inside the engine is touched.
  */
final class Tracer(keyOf: java.util.Properties => Option[String]) extends SparkListener {

  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var inputBytes = 0L; var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var serialStageMs = 0L
    val jobSpans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val accs = new ConcurrentHashMap[String, Acc]()
  private val jobKey = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  /** SQL executions as (start, end) epoch ms: the driver-side span of each. */
  private val execStart = new ConcurrentHashMap[Long, Long]()
  val execSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private def acc(k: String): Acc = accs.computeIfAbsent(k, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    keyOf(Option(e.properties).getOrElse(new java.util.Properties)).foreach { k =>
      jobKey.put(e.jobId, k)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(stageKey.put(_, k))
      val a = acc(k); a.synchronized { a.jobs += 1 }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobKey.get(e.jobId)).foreach { k =>
      val a = acc(k)
      a.synchronized { a.jobSpans += (jobStart.get(e.jobId) -> e.time) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageKey.get(e.stageInfo.stageId)).foreach { k =>
      val i = e.stageInfo
      val a = acc(k)
      a.synchronized {
        a.stages += 1
        if (i.numTasks == 1)
          for (s <- i.submissionTime; c <- i.completionTime)
            a.serialStageMs = math.max(a.serialStageMs, c - s)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageKey.get(e.stageId)).foreach { k =>
      val m = e.taskMetrics
      if (m != null) {
        val a = acc(k)
        a.synchronized {
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.inputBytes += m.inputMetrics.bytesRead
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execStart.put(s.executionId, s.time)
    case x: SparkListenerSQLExecutionEnd =>
      Option(execStart.remove(x.executionId)).foreach(t => execSpans.add(t -> x.time))
    case _ =>
  }

  def get(k: String): Acc = Option(accs.get(k)).getOrElse(new Acc)

  /** Block until every event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = {
    org.apache.spark.graftbridge.ListenerDrain.drain(sc, 60000L); ()
  }
}

object Tracer {

  /** Total length of the union of [start, end) spans. */
  def unionMs(spans: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    spans.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** `spans` clipped to [lo, hi). */
  def clip(spans: Iterable[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    spans.toSeq.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
}
