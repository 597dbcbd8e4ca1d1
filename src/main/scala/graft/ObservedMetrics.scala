package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The `Dataset.observe` rows a session's queries emit — the clamp and
  * recall counters (`Dedup.capBandBuckets`' observeName, `itemPairs`'
  * basket clamp, …) that die with the query unless a listener keeps
  * them. Keyed by OBSERVATION name, last write wins: per-query
  * attribution through a mutable var would race the async listener
  * delivery, and a repeated query observes the same data. One
  * collector for `Bench` and the drill harness.
  */
final class ObservedMetrics private (spark: SparkSession)
    extends QueryExecutionListener {
  private val byName = new ConcurrentHashMap[String, Map[String, Any]]()

  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
    qe.observedMetrics.foreach { case (name, row) =>
      byName.put(name, row.schema.fieldNames.zip(row.toSeq).toMap); ()
    }
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Blocks until every queued listener event is delivered — the
    * mechanism Spark's own tests use, so a loaded host cannot slip a
    * late delivery past a read. False when the bus did not drain in
    * 30 s.
    */
  def drain(): Boolean =
    org.apache.spark.graftbridge.ListenerDrain.drain(spark.sparkContext, 30000L)

  def get(name: String): Option[Map[String, Any]] = Option(byName.get(name))

  /** Every observation so far, sorted by name. */
  def snapshot: Seq[(String, Map[String, Any])] =
    byName.asScala.toSeq.sortBy(_._1)

  def detach(): Unit = spark.listenerManager.unregister(this)
}

object ObservedMetrics {
  def attach(spark: SparkSession): ObservedMetrics = {
    val m = new ObservedMetrics(spark)
    spark.listenerManager.register(m)
    m
  }
}
