package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality predicates — the reference's validity filter and dynamic
  * range predicates (reference: spark_consumer.py:77-78,
  * database_handler.py:428-433, streamlit.py:48). Pure declarative filters:
  * Catalyst pushes them into the parquet scan (visible as `PushedFilters`),
  * which is what makes them viable at 100 TB — invalid rows never leave the
  * scan stage. Over a JSON parse the same pushdown is a cost: it inlines
  * the parse into every conjunct, so [[graft.stream.Pipeline.transform]]
  * fences the filter above its single parse.
  */
object Quality {

  /** P11 — conjunctive validity filter (spark_consumer.py:77-78):
    * `distance >= 0 AND fare >= 0 AND 0 < duration < 300`. Note the open
    * interval on duration.
    */
  def validTrips(df: DataFrame): DataFrame = df.filter(
    col("trip_distance") >= 0 &&
    col("fare_amount") >= 0 &&
    col("trip_duration_minutes") > 0 &&
    col("trip_duration_minutes") < 300)

  /** P12 — dynamic predicate construction (database_handler.py:428-433):
    * optional lower/upper bounds folded onto the plan. `None` bounds add no
    * predicate at all (matching the reference's conditional WHERE build).
    */
  def timeRange(df: DataFrame, ts: Column,
                from: Option[String], to: Option[String]): DataFrame = {
    val lower = from.map(b => ts >= to_timestamp(lit(b)))
    val upper = to.map(b => ts <= to_timestamp(lit(b)))
    (lower.toSeq ++ upper.toSeq).foldLeft(df)(_ filter _)
  }

  /** P13 — closed-interval date range (streamlit.py:48 BETWEEN). */
  def between(df: DataFrame, ts: Column, lo: String, hi: String): DataFrame =
    df.filter(ts.between(to_timestamp(lit(lo)), to_timestamp(lit(hi))))

  /** Smallest ns the µs `between`/`timeRange` predicate can admit for a
    * lower bound — exact ns from the parsed value (sub-millisecond digits
    * included), floored to Spark's µs parse, then the sign-correct
    * truncation preimage ([[graft.model.NsTime]]).
    */
  private def nsLower(bound: String): Long =
    graft.model.NsTime.minNs(graft.model.NsTime.boundMicros(bound))

  /** Largest admissible ns for an upper bound (see [[nsLower]]). */
  private def nsUpper(bound: String): Long =
    graft.model.NsTime.maxNs(graft.model.NsTime.boundMicros(bound))

  /** True when `tsNs` is the loader's DERIVED ns column (µs-encoded
    * events — [[graft.sources.Tables.DerivedNsKey]]): the ts predicate
    * already pushes natively and a redundant ns conjunct would cost one
    * evaluated expression per scanned row while pruning nothing.
    */
  private def derivedNs(df: DataFrame, tsNs: Column): Boolean =
    df.schema.fields.find(_.name == tsNs.toString()).exists(f =>
      f.metadata.contains(graft.sources.Tables.DerivedNsKey) &&
        f.metadata.getBoolean(graft.sources.Tables.DerivedNsKey))

  /** [[between]] plus a redundant predicate on the raw int64-nanos column
    * WHEN the ns column is the scan column: the derived-µs `ts` predicate
    * is then opaque to the parquet scan, while the ns predicate is
    * pushable, so row groups outside the range are skipped at any scale.
    * The ns bounds are the truncation preimage of the µs bounds —
    * necessary conditions, so no row the µs predicate keeps is ever
    * dropped (including sub-millisecond and pre-epoch bounds). On
    * µs-encoded data (ns column [[derivedNs]]) the conjunct is skipped:
    * `ts` pushes natively and the preimage would only burn per-row work.
    */
  def betweenWithPushdown(df: DataFrame, ts: Column, tsNs: Column,
                          lo: String, hi: String): DataFrame =
    if (derivedNs(df, tsNs)) between(df, ts, lo, hi)
    else between(df, ts, lo, hi)
      .filter(tsNs >= nsLower(lo) && tsNs <= nsUpper(hi))

  /** [[timeRange]] (P12) with the same conditional ns reinforcement. */
  def timeRangeWithPushdown(df: DataFrame, ts: Column, tsNs: Column,
                            from: Option[String], to: Option[String]): DataFrame = {
    val pushed =
      if (derivedNs(df, tsNs)) df
      else (from.map(b => tsNs >= nsLower(b)).toSeq ++
        to.map(b => tsNs <= nsUpper(b)).toSeq).foldLeft(df)(_ filter _)
    timeRange(pushed, ts, from, to)
  }
}
