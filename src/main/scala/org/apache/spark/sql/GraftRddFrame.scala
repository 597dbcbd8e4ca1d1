package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Plan-cache-invisible materialization for [[graft.ext.IndexCache]].
  *
  * `DataFrame.persist` registers the frame's analyzed plan with the
  * session's `CacheManager`, and every `InsertIntoHadoopFsRelation`
  * commit calls `recacheByPath(outputPath)` — dropping and lazily
  * rebuilding any cached plan whose files live UNDER the written path.
  * A standing-index mirror is exactly such a plan, and a streaming
  * composite APPENDS to the index every trigger: the mirror's blocks
  * were discarded on every fold and re-read from storage table-sized
  * on the next screen — the per-trigger re-read a round-16 drill
  * measured with the cache ON and the page cache dropped. (IndexCache's own per-partition
  * fingerprints already detect real changes; Spark's path-level
  * recache is strictly coarser and cannot be scoped to the untouched
  * partitions.)
  *
  * The dodge: materialize the scan as a persisted `InternalRow` RDD
  * and rewrap it as a DataFrame. RDD persistence is invisible to the
  * CacheManager (nothing to recache), while the RDD's lineage still
  * holds the parquet scan — an evicted block recomputes from the
  * files rather than failing the job the way a truncated
  * `localCheckpoint` would. Rows are copied before persisting (the
  * scan reuses its `UnsafeRow` buffer within a partition).
  *
  * [[rows]] and [[fromRowRdd]] also serve [[graft.warehouse.WarehouseSink]]'s
  * write: it rewraps a batch's rows to sort them in a plan of their own,
  * without planning the batch again; [[asSave]] gives a batch append the
  * SQL execution a `DataFrameWriter.save` would.
  *
  * `internalCreateDataFrame` is `private[sql]`, hence this bridge
  * lives in the `sql` package like [[GraftColumn]].
  */
object GraftRddFrame {

  /** The frame's rows as a copy-safe `InternalRow` RDD (not yet
    * persisted — the caller owns the storage level).
    */
  def toRowRdd(df: DataFrame): RDD[InternalRow] = rows(df).map(_.copy())

  /** The rows of the frame's own `QueryExecution`: no new plan and no
    * new SQL execution. A partition may reuse one row buffer, so a
    * consumer that keeps rows must copy them.
    */
  def rows(df: DataFrame): RDD[InternalRow] =
    classic.ClassicConversions.castToImpl(df).queryExecution.toRdd

  /** Rewrap a (typically persisted) row RDD as a DataFrame with the
    * given schema.
    */
  def fromRowRdd(spark: SparkSession, rdd: RDD[InternalRow],
                 schema: StructType): DataFrame =
    classic.ClassicConversions.castToImpl(spark)
      .internalCreateDataFrame(rdd, schema)

  /** Runs `body`, which computes [[rows]] of `df`, as the frame's own
    * SQL execution named "save": `QueryExecutionListener`s hear only of
    * named executions, and read the frame's observed metrics from it.
    */
  def asSave[T](df: DataFrame)(body: => T): T =
    execution.SQLExecution.withNewExecutionId(
      classic.ClassicConversions.castToImpl(df).queryExecution, Some("save"))(body)
}
