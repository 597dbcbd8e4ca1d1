package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** `SparkContext.getActive` is `private[spark]`; a session extension
  * runs inside `getOrCreate`, after the context started and before the
  * session exists, and reaches the context only through it.
  */
object ActiveContext {
  def get: Option[SparkContext] = SparkContext.getActive
}
