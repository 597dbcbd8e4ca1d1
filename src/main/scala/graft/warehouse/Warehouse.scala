package graft.warehouse

import org.apache.spark.sql.{DataFrame, GraftRddFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet warehouse — replaces the reference's PostgreSQL layer
  * (reference: database_handler.py:65-195 DDL + :197-268 batch inserts).
  *
  * Trip rows have one writer, [[WarehouseSink.write]], reached from a
  * batch through [[appendTripsIdempotent]] and from a stream through
  * [[graft.stream.Pipeline.startIdempotent]] (its micro-batch sink).
  * Appends are inherently batched (S7) — one file per task and date, no
  * per-row round trips.
  *
  * The reference's three B-tree indexes (pickup_datetime, vendor_id,
  * pickup_hour — database_handler.py:167-180) become **storage layout**:
  * the trips table is partitioned by pickup date under each batch id, and
  * [[compact]] folds the batches into a table partitioned by date alone,
  * so the dashboard's BETWEEN queries prune whole partitions, and
  * parquet row-group min/max stats + predicate pushdown serve
  * vendor/hour selections. Analytic reads (S4) come straight off
  * parquet.
  */
object Warehouse {

  /** The warehouse partition key, derived from `pickup_datetime`, so
    * callers write the 12-column contract of
    * [[graft.model.Schemas.warehouseTrips]].
    */
  private[graft] def withPickupDate(df: DataFrame): DataFrame =
    df.withColumn(WarehouseSink.PartitionColumn, to_date(col("pickup_datetime")))

  /** S5/S7/T4 — effectively-once append: the batch lands in its own
    * `batch_id=` directory, and a replayed batch id (at-least-once
    * upstream, a retry after failure) REPLACES its previous attempt's
    * dates instead of appending duplicates. Readers see exactly-once
    * data without any coordination; the reference's non-idempotent JDBC
    * append (spark_consumer.py:106) cannot make that claim.
    *
    * The write is [[WarehouseSink.write]], the function
    * [[graft.stream.Pipeline.startIdempotent]]'s micro-batches call:
    * `path/batch_id=N/pickup_date=D/part-*.parquet`, readers of `path`
    * discover both keys, and a replay of batch N replaces only the dates
    * it carries. The batch id goes into the output path, not into the
    * rows: a `lit(batchId)` column would be inlined by codegen and
    * compile fresh classes every micro-batch. The job conf is broadcast
    * for this one append, and the write runs as the frame's own SQL
    * execution, named "save" like a `DataFrameWriter.save`, so
    * `QueryExecutionListener`s receive its observed metrics.
    *
    * Lifecycle: the `batch_id=` partitions ARE the replay protection
    * and must be preserved while the stream can still replay those ids;
    * they also accumulate one partition per trigger (the index
    * families' small-files growth). Once batches are final, fold them
    * with [[compact]] into the date-partitioned analytic table —
    * `batch_id` survives as an audit column, `pickup_date` becomes the
    * only partition key (PipelineSpec pins rows-intact + one file per
    * date).
    */
  def appendTripsIdempotent(df: DataFrame, path: String, batchId: Long): Unit = {
    val trips = withPickupDate(df)
    val prepared = new PreparedWrite(trips.sparkSession, path, trips.schema)
    try GraftRddFrame.asSave(trips)(WarehouseSink.write(prepared, path, batchId, trips))
    finally prepared.destroy()
  }

  /** S5 as the reference actually wired it — JDBC append — for
    * deployments where a live database replaces the parquet warehouse.
    * Batched writes per partition (the `execute_values` analog,
    * database_handler.py:252-254) are Spark's default JDBC behavior.
    */
  def appendTripsJdbc(df: DataFrame, url: String, table: String,
                      props: java.util.Properties): Unit =
    df.write.mode("append").jdbc(url, table, props)

  /** Compaction: micro-batch appends leave one small file per (batch ×
    * task) — the classic streaming-warehouse small-file problem, which
    * at 100 TB degrades every downstream scan (footer/open cost per
    * file, tiny row groups, starved vectorized reads). Rewrites the
    * table with one task per `partitionCol` value into `dest`; the
    * caller swaps directories (compact-and-swap keeps readers consistent
    * — compacting in place would require materializing the input before
    * overwriting it).
    */
  def compact(spark: SparkSession, src: String, dest: String,
              partitionCol: String): Unit =
    spark.read.parquet(src)
      .repartition(col(partitionCol))
      .write.mode("overwrite")
      .partitionBy(partitionCol)
      .parquet(dest)

  /** MERGE/upsert keep-latest: collapse a union of standing state and
    * new updates to one row per key — the newest by `version` (ties
    * broken by `tieBreak`, which must make the order total or "latest"
    * depends on partition order). One window shuffle keyed on the entity
    * key; at warehouse scale this is the compact-state pass an SCD-1
    * MERGE performs, expressed without a mutable table. Pair with
    * [[appendTripsIdempotent]]'s batch partitions: replaying batches
    * never changes the outcome because version order, not arrival
    * order, decides the survivor.
    */
  def keepLatest(df: DataFrame, key: Seq[String], version: String,
                 tieBreak: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy(col(version).desc, col(tieBreak).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** CDC apply: [[keepLatest]] extended with DELETE semantics — the full
    * MERGE a change-data-capture feed needs. `changes` carries an `op`
    * column (`I`/`U`/`D`); state rows union in as implicit upserts, the
    * newest version per key wins exactly as in keepLatest, and a key
    * whose SURVIVOR is a delete leaves the table. Replay-safe for the
    * same reason keepLatest is: version order, not arrival order,
    * decides — re-applying a batch cannot change the outcome. One
    * window shuffle on the entity key; the history is never re-scanned.
    */
  def applyCdc(state: DataFrame, changes: DataFrame, key: Seq[String],
               version: String, tieBreak: String,
               op: String = "op"): DataFrame = {
    val unioned = state.withColumn(op, lit("I"))
      .unionByName(changes)
    keepLatest(unioned, key, version, tieBreak)
      .filter(col(op) =!= "D")
      .drop(op)
  }

  /** Incremental aggregate maintenance: merge a standing aggregate table
    * with a NEW delta aggregate by summing every measure column — the
    * materialized-view refresh that avoids re-scanning the history. The
    * invariant that makes it exact is algebraic: counts and DECIMAL sums
    * are associative and commutative, so merge(agg(A), agg(B)) ==
    * agg(A ∪ B) bit-for-bit (the oracle twin recomputes from scratch
    * and must hash-match). Averages/variances must be carried as
    * (n, Σ, Σ²) and derived at read time — never merged as ratios.
    * Cost: one shuffle of two ALREADY-AGGREGATED tables; the 100 TB
    * history is never touched.
    */
  def mergeAggState(state: DataFrame, delta: DataFrame,
                    keys: Seq[String]): DataFrame = {
    val measures = state.columns.filterNot(keys.contains)
    val u = state.unionByName(delta)
    u.groupBy(keys.map(col): _*)
      .agg(sum(col(measures.head)).as(measures.head),
        measures.tail.toIndexedSeq.map(m => sum(col(m)).as(m)): _*)
  }

  /** Bucketed table write: co-locates rows by join key so repeated joins
    * on that key are exchange-free (both sides read pre-hashed buckets —
    * the warehouse analog of the reference's vendor_id index, but one
    * that also kills the join shuffle). Requires a catalog table
    * (bucketBy metadata lives in the metastore, not the files).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int, sortCol: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, bucketCol)
    sortCol.fold(w)(c => w.sortBy(c)).saveAsTable(table)
  }
}
