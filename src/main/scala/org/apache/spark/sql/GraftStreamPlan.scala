package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{CurrentDate, CurrentTime, CurrentTimestampLike, LocalTimestamp}

/** Hands a stream a plan Catalyst has already optimized.
  *
  * A micro-batch query re-runs analysis and optimization over its whole
  * plan on every trigger, and every fixed-point batch of the optimizer
  * iterates until nothing changes: over a plan that is still the
  * analyzer's output (a `Project` per `withColumn`, filters above the
  * parse), each trigger pays for the rewrites again. Streaming the
  * optimized plan leaves each trigger's passes with nothing to rewrite,
  * so they converge at once.
  *
  * `Dataset.ofRows` is `private[sql]`, hence this bridge lives in the
  * `sql` package like [[GraftRddFrame]].
  */
object GraftStreamPlan {

  /** `df` over its optimized plan, or `df` itself when the plan reads
    * the clock: `MicroBatchExecution` pins `current_timestamp()` and its
    * kin to each batch's time before it optimizes, and an optimized plan
    * would have frozen them to the time of this call.
    */
  def optimizedOnce(df: DataFrame): DataFrame = {
    val ds = classic.ClassicConversions.castToImpl(df)
    val analyzed = ds.queryExecution.analyzed
    val readsClock = analyzed.exists(_.expressions.exists(_.exists {
      case _: CurrentTimestampLike | _: CurrentDate | _: CurrentTime | _: LocalTimestamp => true
      case _ => false
    }))
    if (readsClock) df
    else classic.Dataset.ofRows(ds.sparkSession,
      ds.sparkSession.sessionState.optimizer.execute(analyzed))
  }
}
