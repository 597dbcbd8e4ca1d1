package graft

import org.apache.spark.sql.SparkSession

/** The engine's session configuration, in one place. `Bench`, `Verify`,
  * the dev tools and the test suite all start from [[builder]] and add
  * only what is their own (log level, app name, warehouse dir).
  */
object GraftSession {

  /** A local session on `cores` threads: one shuffle partition per core,
    * UTC session time, the engine's SQL functions and optimizer rules
    * ([[graft.functions.GraftExtensions]]), no UI.
    */
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // Generated-class cache sized to the workload: the default
      // (100 entries) is guaranteed to thrash across the query suite's
      // ~200 queries × ~3 codegen units each, so a "warm" pass silently
      // re-pays janino compilation for almost every stage — measured as
      // sporadic per-run warm>cold anomalies (ann_recall 0.72→3.68 s one
      // run, absent the next, never reproducible in isolation). A
      // long-lived production session serving a query library this size
      // would size the cache the same way; 4096 entries of generated
      // classes is a few hundred MB of metaspace at most.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
}
