package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.agg.{Analytics, Behavior, Profile, Stats}
import graft.agg.Analytics.{davg, dsum}
import graft.etl.{Enrich, Quality, Skew}
import graft.ext.{Contamination, Dedup, Multimodal, Quantization, Relations, Retrieval, Sampling, Similarity, TextAnalysis, Vocab}
import graft.operators.Temporal
import graft.sources.Tables

/** Driver contract — see SURVEY.md §7 + BASELINE.md.
  *
  * Every SURVEY §2 operator (and each north-star extension) appears as a
  * named query over the driver's testdata, paired — wherever ANSI SQL can
  * express it — with DuckDB oracle SQL in [[oracleSql]]. Determinism
  * policy: money sums/averages aggregate exactly on DECIMAL(18,6)
  * ([[Analytics.dsum]]), every multi-row result carries a total ORDER BY,
  * and double outputs that involve per-row arithmetic are either
  * bit-deterministic (same fold order both engines) or rounded to 4dp.
  */
object SparkEntry {

  private def T(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Fixed-width synthetic lines for the line-granular queries: the
    * testdata corpus is single-line (zero newlines — measured), so the
    * registered queries chunk each doc's tokens into `width`-token lines
    * first; the oracle re-derives the identical chunking. Row-local
    * projection — adds nothing to the operator's own plan shape.
    */
  private def syntheticLines(docs: DataFrame, width: Int): DataFrame =
    docs.select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      .select(col("doc_id"), array_join(expr(
        s"""transform(
           |  sequence(0, greatest(cast(ceil(size(toks) / $width.0) as int) - 1, 0)),
           |  i -> array_join(slice(toks, i * $width + 1, $width), ' '))"""
          .stripMargin), "\n").as("text"))

  /** Per-(session, table) row-count memo for plan-SIZING decisions
    * (`scaledCellCount`'s corpus count): a column-less parquet count is
    * metadata-cheap but still one job per query BUILD — at 100 TB the
    * right cost is once per table per session. Weak-keyed on the
    * session (a replaced session re-counts; entries die with it), so
    * the memo can never serve a count across a testdata regeneration
    * that recycles the path in a NEW session. Within one session the
    * tables are immutable by the driver contract.
    */
  private val countMemo =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]]()
  private[graft] def tableCount(s: SparkSession, dir: String, n: String): Long = {
    val perSession = countMemo.synchronized {
      var m = countMemo.get(s)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
        countMemo.put(s, m)
      }
      m
    }
    perSession.computeIfAbsent(s"$dir/$n", _ => T(s, dir, n).count())
      .longValue()
  }

  /** Correctness-vs-bench switch for the two sketch queries that carry
    * an in-query EXACT verification twin (`minhash_pairs`,
    * `rolling_distinct_hll`): true (the default — Verify, specs, the
    * driver's oracle gate) runs the twin-verified shape the DuckDB
    * oracle hash-checks; [[Bench]] flips the property so the measured
    * number is the PRODUCTION sketch plan — the re-scan-free cost the
    * sketch exists for — instead of sketch + exact-twin self-join. The
    * oracle contract is unaffected: nothing in the Verify path reads
    * this.
    */
  private[graft] def verifyExact: Boolean =
    sys.props.getOrElse("graft.verify.exact", "true").toBoolean

  /** Recall@k of an approximate id set against the exact one — one
    * definition for every *_recall self-measurement (the divisor IS
    * the k the rankers were asked for).
    */
  private def recallOf(exact: DataFrame, approx: DataFrame, k: Int,
                       as: String): DataFrame =
    exact.join(approx, Seq("vec_id"), "left_semi")
      .agg((count(lit(1)) / k.toDouble).as(as))

  private val kSchema = StructType(Seq(StructField("k", IntegerType)))

  /** Build (or stamp-validate) every persisted index the query suite
    * reads — the one-off per-corpus step a production deployment runs at
    * ingest time, exposed so the bench can hoist index construction out
    * of the measured per-query timings (steady-state query cost is the
    * number that scales to repeated queries at 100 TB; build cost is a
    * different, amortized budget). Parameters are the SAME literals as
    * the queries' own ensure calls, which remain in place and become
    * stamp-validated no-ops after this runs.
    */
  def ensureIndexes(s: SparkSession, dir: String): Seq[String] = {
    val emb = T(s, dir, "embeddings")
    // Report which indexes were actually BUILT (vs stamp-validated
    // no-ops): the bench's index_warmup_sec is meaningless without
    // knowing which world it measured — ~11 s when the four builds run,
    // ~40 ms when every ensure validates a pre-existing dir.
    Seq(
      "ivf" -> Similarity.ensureIvfIndex(s, emb,
        Similarity.ivfIndexPathFor(dir),
        sourcePath = Some(s"$dir/embeddings.parquet")),
      "ivf-even" -> Similarity.ensureIvfIndex(s,
        emb.filter(col("vec_id") % 2 === 0),
        Similarity.ivfIndexPathFor(dir) + "-even",
        sourcePath = Some(s"$dir/embeddings.parquet")),
      "pq" -> Quantization.ensurePqIndex(s, emb,
        Quantization.pqIndexPathFor(dir), m = 4, k = 16, iters = 3,
        sourcePath = Some(s"$dir/embeddings.parquet")),
      "bm25" -> Retrieval.ensureBm25Index(s, T(s, dir, "documents"),
        Retrieval.bm25IndexPathFor(dir),
        sourcePath = Some(s"$dir/documents.parquet")),
      "minhash" -> Dedup.ensureMinhashIndex(s,
        T(s, dir, "documents").filter(col("doc_id") < 450),
        Dedup.minhashIndexPathFor(dir),
        sourcePath = Some(s"$dir/documents.parquet")),
      "minhash-eval" -> Dedup.ensureMinhashIndex(s,
        T(s, dir, "documents").filter(col("doc_id") < 50),
        Dedup.minhashEvalIndexPathFor(dir),
        sourcePath = Some(s"$dir/documents.parquet")),
      "dsir" -> TextAnalysis.ensureDsirIndex(s,
        T(s, dir, "documents").filter(col("doc_id") < 250),
        TextAnalysis.dsirIndexPathFor(dir),
        sourcePath = Some(s"$dir/documents.parquet")),
      "contain" -> Dedup.ensureContainmentIndex(s,
        T(s, dir, "documents").filter(col("doc_id") < 450),
        Dedup.containIndexPathFor(dir),
        sourcePath = Some(s"$dir/documents.parquet")),
      "simhash" -> Dedup.ensureSimhashIndex(s,
        T(s, dir, "documents").filter(col("doc_id") < 450),
        Dedup.simhashIndexPathFor(dir),
        sourcePath = Some(s"$dir/documents.parquet")),
      "lines" -> TextAnalysis.ensureLineIndex(s,
        syntheticLines(T(s, dir, "documents"), 3)
          .filter(col("doc_id") % 2 === 0),
        TextAnalysis.lineIndexPathFor(dir),
        sourcePath = Some(s"$dir/documents.parquet"))
    ).collect { case (name, built) if built => name }
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("trip_stats")(spark, "/root/testdata/sf0.001")

  /** Builds a name-keyed registry and rejects a name declared twice: a
    * `Map(...)` literal keeps the last of two equal keys without a word.
    */
  private[graft] def unique[V](entries: (String, V)*): Map[String, V] = {
    val dups = entries.groupBy(_._1).collect { case (k, es) if es.size > 1 => k }
    if (dups.nonEmpty) throw new IllegalArgumentException(
      s"duplicate registry names: ${dups.toSeq.sorted.mkString(", ")}")
    entries.toMap
  }

  /** One entry per implemented operator from SURVEY.md §2 (+ extensions),
    * built (and checked for duplicate names) once per JVM. A `def` over
    * the lazy val because `perfbench/classify.py` reads the entries that
    * follow `def queries:`.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = registry
  private lazy val registry: Map[String, (SparkSession, String) => DataFrame] = unique(

    // ----------------------------------------------------------------
    // A1–A7 — the reference's analytics surface (events = trip stream:
    // ts→pickup, user_id→vendor, value→fare, event_type→category)
    // ----------------------------------------------------------------

    // A1 + P13: global trip statistics over a closed date range
    // (streamlit.py:38-48 semantics).
    "trip_stats" -> ((s, dir) => Analytics.tripStatistics(
      Quality.betweenWithPushdown(T(s, dir, "events"), col("ts"), col("ts_ns"),
        "2024-01-05 00:00:00", "2024-01-20 00:00:00"),
      col("value"))),

    // A2: vendor comparison (database_handler.py:456-467 semantics).
    "vendor_comparison" -> ((s, dir) => Analytics.vendorComparison(
      T(s, dir, "events"), col("user_id"), col("value"))),

    // A3: min/max date-range discovery (streamlit.py:21).
    "date_bounds" -> ((s, dir) =>
      Analytics.dateBounds(T(s, dir, "events"), col("ts"))),

    // A6: hourly statistics (database_handler.py:152-164).
    "hourly_stats" -> ((s, dir) => Analytics.hourlyStatistics(
      T(s, dir, "events"), col("ts"), col("value"))),

    // A7: vendor-daily performance (database_handler.py:135-148).
    "vendor_daily" -> ((s, dir) => Analytics.vendorDaily(
      T(s, dir, "events"), col("user_id"), col("ts"), col("value"))),

    // A5: denormalized conditional counts (database_handler.py:124-128).
    "category_counts" -> ((s, dir) => Analytics.conditionalCounts(
      T(s, dir, "events"), Seq(
        "click_trips" -> (col("event_type") === "click"),
        "view_trips" -> (col("event_type") === "view"),
        "purchase_trips" -> (col("event_type") === "purchase"),
        "signup_trips" -> (col("event_type") === "signup"),
        "error_trips" -> (col("event_type") === "error"),
        "short_trips" -> (col("value") <= 20),
        "medium_trips" -> (col("value") > 20 && col("value") <= 100),
        "long_trips" -> (col("value") > 100)))),

    // ----------------------------------------------------------------
    // P-layer — projections / filters / scalar expressions
    // ----------------------------------------------------------------

    // P2/P3: PERMISSIVE JSON parse + field extraction
    // (spark_consumer.py:61-62) on events.props.
    "json_kv" -> ((s, dir) => T(s, dir, "events")
      .select(col("event_id"),
        from_json(col("props"), kSchema).getField("k").as("k"))
      .orderBy("event_id")),

    // P4/P8/P9/P10: the enrichment projection — pickup hour, 3-way CASE
    // bucketing (inclusive bounds), guarded percentage
    // (spark_consumer.py:63-76).
    "derived_trip_columns" -> ((s, dir) => {
      val ev = T(s, dir, "events")
        .withColumn("k", from_json(col("props"), kSchema).getField("k"))
      ev.select(
          col("event_id"),
          hour(col("ts")).as("pickup_hour"),
          Enrich.tripCategory(col("value"), 20.0, 100.0).as("trip_category"),
          round(Enrich.tipPercentage(col("k"), col("value")), 4).as("tip_pct"))
        .orderBy("event_id")
    }),

    // P7: guarded average speed (spark_consumer.py:67-69) — value as the
    // distance, props.k as the duration-in-minutes analog; zero unless
    // BOTH are positive (the reference's exact guard).
    "trip_speed" -> ((s, dir) => {
      val ev = T(s, dir, "events")
        .withColumn("k", from_json(col("props"), kSchema).getField("k"))
      // No rounding: the expression is scalar IEEE arithmetic with the
      // same op order in both engines — bit-identical doubles; rounding
      // would INTRODUCE decimal-tie divergence (round-half modes differ).
      ev.select(col("event_id"),
          Enrich.speedMph(col("value"), col("k").cast("double"))
            .as("speed_mph"))
        .orderBy("event_id")
    }),

    // P11: conjunctive validity filter (spark_consumer.py:77-78 shape).
    "valid_filter" -> ((s, dir) => T(s, dir, "events")
      .filter(col("value") > 0 && col("value") < 300 &&
        col("event_type") =!= "error")
      .agg(count(lit(1)).as("valid_events"),
        dsum(col("value")).as("valid_revenue"))),

    // P12: dynamic predicate construction — lower bound only
    // (database_handler.py:428-433).
    "dynamic_range" -> ((s, dir) => Quality.timeRangeWithPushdown(
        T(s, dir, "events"), col("ts"), col("ts_ns"),
        Some("2024-01-15 12:00:00"), None)
      .agg(count(lit(1)).as("n_events"), davg(col("value")).as("avg_value"))),

    // P16: partition-key derivation cascade (kafka_producer.py:85-95
    // semantics: deterministic bucket), summarized per key.
    "partition_keys" -> ((s, dir) => T(s, dir, "events")
      .select(coalesce(pmod(col("user_id"), lit(100)).cast("string"),
        lit("0")).as("part_key"))
      .groupBy("part_key").agg(count(lit(1)).as("n_events"))
      .orderBy("part_key")),

    // P17 + sort: top-k via ORDER BY … LIMIT (TakeOrderedAndProject —
    // no global sort materialization).
    "top_events" -> ((s, dir) => T(s, dir, "events")
      .orderBy(col("value").desc, col("event_id").asc)
      .limit(100)
      .select(col("event_id"), col("user_id"), col("value"))),

    // ----------------------------------------------------------------
    // Aggregation/join capability beyond the reference (§2.4): the
    // engine ships full join/window/set-op support.
    // ----------------------------------------------------------------

    // TPC-H Q1 shape: wide grouped aggregate with filter pushdown.
    "q1_agg" -> ((s, dir) => T(s, dir, "lineitem")
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-12-01 00:00:00")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) *
          (lit(1) + col("l_tax"))).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")),

    // Star-schema join: fact ⋈ orders ⋈ customer, grouped by segment.
    "star_revenue" -> ((s, dir) => T(s, dir, "lineitem")
      .join(T(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_lineitems"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
      .orderBy("c_mktsegment")),

    // TPC-H Q3 shape: selective star join + grouped revenue + top-k.
    "q3_topk" -> ((s, dir) => T(s, dir, "lineitem")
      .filter(col("l_shipdate") > to_timestamp(lit("1997-01-01 00:00:00")))
      .join(T(s, dir, "orders")
          .filter(col("o_orderdate") < to_timestamp(lit("1997-01-01 00:00:00"))),
        col("l_orderkey") === col("o_orderkey"))
      .join(T(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)),

    // TPC-H Q5 shape: 6-table join with a region filter and the
    // local-supplier condition — join-order / broadcast stress.
    "q5_region_revenue" -> ((s, dir) => T(s, dir, "customer")
      .join(T(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .join(T(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
      .join(T(s, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(T(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(T(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_lineitems"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))),

    // Correlated scalar subquery: orders above their own customer's mean
    // price (decimal mean so the cut is engine-independent).
    "correlated_subquery" -> ((s, dir) => {
      T(s, dir, "orders").createOrReplaceTempView("orders")
      T(s, dir, "customer").createOrReplaceTempView("customer")
      s.sql("""SELECT c_custkey, COUNT(*) AS n_above
               FROM orders o JOIN customer ON o.o_custkey = c_custkey
               WHERE o.o_totalprice > (
                 SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                        / COUNT(*)
                 FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
               GROUP BY c_custkey ORDER BY c_custkey""")
    }),

    // TPC-H Q18 shape: HAVING-filtered aggregate subquery drives a
    // semi-join on the fact (large-volume orders).
    "q18_big_orders" -> ((s, dir) => {
      val li = T(s, dir, "lineitem")
      val bigOrders = li.groupBy("l_orderkey")
        .agg(dsum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 150)
      T(s, dir, "orders")
        .join(bigOrders, col("o_orderkey") === bigOrders("l_orderkey"))
        .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
          col("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
        .limit(20)
    }),

    // Broadcast dimension joins: small dims never shuffle the fact side.
    "region_customers" -> ((s, dir) => T(s, dir, "customer")
      .join(broadcast(T(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(T(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_customers"),
        dsum(col("c_acctbal")).as("total_acctbal"))
      .orderBy("r_name")),

    // LEFT OUTER join: customers keep their row at zero orders
    // (COUNT(col) skips the null-extended side).
    "left_join_counts" -> ((s, dir) => T(s, dir, "customer")
      .join(T(s, dir, "orders"), col("c_custkey") === col("o_custkey"),
        "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .groupBy(col("n_orders"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("n_orders")),

    // String-function coverage (absent from the reference — engine
    // capability): LIKE, UPPER, SUBSTRING, CONCAT over part descriptions.
    "string_funcs" -> ((s, dir) => T(s, dir, "part")
      .filter(col("p_type").like("S%"))
      .select(
        concat(upper(substring(col("p_brand"), 1, 5)), lit("-"),
          col("p_size").cast("string")).as("brand_size"),
        col("p_partkey"))
      .groupBy("brand_size")
      .agg(count(lit(1)).as("n_parts"), min(col("p_partkey")).as("first_part"))
      .orderBy("brand_size")),

    // Semi/anti joins (EXISTS / NOT EXISTS).
    "semi_join" -> ((s, dir) => T(s, dir, "customer")
      .join(T(s, dir, "orders"), col("c_custkey") === col("o_custkey"),
        "left_semi")
      .agg(count(lit(1)).as("customers_with_orders"))),

    "anti_join" -> ((s, dir) => T(s, dir, "customer")
      .join(T(s, dir, "orders"), col("c_custkey") === col("o_custkey"),
        "left_anti")
      .agg(count(lit(1)).as("customers_without_orders"))),

    // DISTINCT aggregates.
    "distinct_counts" -> ((s, dir) => T(s, dir, "events")
      .agg(countDistinct(col("user_id")).as("distinct_users"),
        countDistinct(col("event_type")).as("distinct_types"))),

    // Skew-safe per-key distinct count: the salted two-stage form
    // (graft.etl.Skew.saltedDistinctCount) — provably identical to plain
    // countDistinct (every distinct value lands in exactly one salt
    // cell), which the oracle asserts; a hot key's distinct set spreads
    // over 16 tasks instead of melting one reducer.
    "distinct_counts_salted" -> ((s, dir) =>
      Skew.saltedDistinctCount(T(s, dir, "events"), "event_type", "user_id",
          outName = "distinct_users")
        .orderBy("event_type")),

    // Window function: top-3 per category (rank with total tiebreak).
    "window_topk" -> ((s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").desc, col("event_id").asc)
      T(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("event_type"), col("rn"), col("event_id"), col("value"))
        .orderBy("event_type", "rn")
    }),

    // Window function: running per-user revenue (deterministic frame).
    "running_total" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          round(sum(col("value")).over(w), 4).as("running_revenue"))
        .orderBy("event_id")
    }),

    // NTILE: equal-frequency quartiles per group (remainder to earlier
    // tiles — identical definition in ANSI engines given a total order).
    "ntile_quartiles" -> ((s, dir) => {
      val w = Window.partitionBy("event_type")
        .orderBy(col("value"), col("event_id"))
      T(s, dir, "events")
        .withColumn("q", ntile(4).over(w))
        .groupBy("event_type", "q")
        .agg(count(lit(1)).as("n"),
          round(min(col("value")), 4).as("min_v"),
          round(max(col("value")), 4).as("max_v"))
        .orderBy("event_type", "q")
    }),

    // RANK vs DENSE_RANK over tied keys (coarsened value buckets — ties
    // make the two diverge; both are constant within a bucket).
    "rank_buckets" -> ((s, dir) => {
      val bucket = floor(col("value") / 50).cast("long")
      val w = Window.partitionBy("event_type").orderBy(bucket.desc)
      T(s, dir, "events")
        .withColumn("bucket", bucket)
        .withColumn("rnk", rank().over(w))
        .withColumn("drnk", dense_rank().over(w))
        .groupBy("event_type", "bucket")
        .agg(min(col("rnk")).as("rnk"), min(col("drnk")).as("drnk"),
          count(lit(1)).as("n"))
        .orderBy("event_type", "bucket")
    }),

    // Typed Aggregator (bounded per-group top-k — k doubles per group ×
    // partition through the shuffle, vs. a window sort of every member).
    "topk_values_agg" -> ((s, dir) => T(s, dir, "events")
      .groupBy("event_type")
      .agg(graft.functions.TopKAgg.top_k_values(col("value"), 5).as("tv"))
      .select(col("event_type"),
        concat_ws(",", transform(col("tv"), v => round(v, 4).cast("string")))
          .as("top_values"))
      .orderBy("event_type")),

    // Analytic-vs-group comparison: customers above their nation's mean
    // balance. The window mean uses the exact decimal sum so the
    // above/below cut is engine-independent (a double window-AVG could
    // flip boundary rows between engines).
    "above_nation_avg" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_nationkey"))
      val exactAvg = sum(col("c_acctbal").cast("decimal(18,6)")).over(w)
        .cast("double") / count(lit(1)).over(w)
      T(s, dir, "customer")
        .withColumn("nation_avg", exactAvg)
        .filter(col("c_acctbal") > col("nation_avg"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_above"),
          dsum(col("c_acctbal")).as("sum_above"))
        .orderBy("c_nationkey")
    }),

    // UNION ALL of two grouped selections.
    "union_daily" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      def daily(t: String) = ev.filter(col("event_type") === t)
        .groupBy(to_date(col("ts")).as("dd"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("dd"), "yyyy-MM-dd").as("d"),
          col("event_type"), col("n"))
      daily("click").unionByName(daily("purchase")).orderBy("d", "event_type")
    }),

    // ROLLUP: hierarchical subtotals (engine capability beyond the
    // reference — grouping sets share one shuffle).
    "rollup_daily" -> ((s, dir) => T(s, dir, "events")
      .rollup(col("event_type"), to_date(col("ts")).as("dd"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("revenue"))
      .select(col("event_type"),
        date_format(col("dd"), "yyyy-MM-dd").as("d"), col("n"), col("revenue"))
      .orderBy(col("event_type").asc_nulls_first, col("d").asc_nulls_first)),

    // PIVOT: categories to columns (explicit value list keeps the plan a
    // single pass — no distinct-scan to discover columns).
    "pivot_user_type" -> ((s, dir) => T(s, dir, "events")
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .count()
      .na.fill(0L)
      .orderBy("user_id")),

    // As-of join (backward): each click paired with the user's most
    // recent purchase at-or-before it — single shuffle on the key, no
    // inequality join (graft.operators.Temporal).
    "asof_join" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      Temporal.asofJoinBackward(clicks, purchases, "user_id",
          "ts", "ts", "event_id", Seq("value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("click_us"),
          unix_micros(col("asof_ts")).as("purchase_us"),
          col("asof_event_id").as("purchase_event_id"),
          col("asof_value").as("purchase_value"))
        .orderBy("event_id")
    }),

    // Forward as-of join: each click paired with the user's next
    // purchase at-or-after it.
    "asof_join_forward" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      Temporal.asofJoinForward(clicks, purchases, "user_id",
          "ts", "ts", "event_id", Seq("value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("click_us"),
          unix_micros(col("asof_ts")).as("next_purchase_us"),
          col("asof_event_id").as("next_purchase_event_id"),
          col("asof_value").as("next_purchase_value"))
        .orderBy("event_id")
    }),

    // Gaps-and-islands sessionization (30-min gap) — the batch,
    // oracle-checkable twin of the streaming flatMapGroupsWithState
    // sessionizer.
    "sessionize_batch" -> ((s, dir) => Temporal.sessionize(
        T(s, dir, "events").select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tu")),
        "user_id", "tu", "event_id", gapUs = 1800000000L)
      .orderBy("user_id", "session_id")),

    // Tolerance (interval) join with no equi-key: purchase/signup event
    // pairs within 60 s of each other, via time-bucket manufactured keys
    // (never a cartesian).
    "tolerance_pairs" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(unix_micros(col("ts")).as("p_us"))
      val g = ev.filter(col("event_type") === "signup")
        .select(unix_micros(col("ts")).as("s_us"))
      Temporal.toleranceJoin(p, g, "p_us", "s_us", tolUs = 60000000L)
        .agg(count(lit(1)).as("n_pairs"),
          sum(abs(col("p_us") - col("s_us"))).as("sum_gap_us"))
    }),

    // Point-in-interval range join, varying-width intervals, no equi-key:
    // lineitems shipped inside each big order's 3-day fulfillment window,
    // via bucket-manufactured keys (never a nested-loop join).
    "range_join_counts" -> ((s, dir) => {
      val threeDaysUs = 259200000000L
      val intervals = T(s, dir, "orders")
        .filter(col("o_totalprice") > 490000)
        .select(col("o_orderkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("lo"),
          (unix_micros(col("o_orderdate").cast("timestamp")) + threeDaysUs).as("hi"))
      val points = T(s, dir, "lineitem")
        .select(col("l_quantity"),
          unix_micros(col("l_shipdate").cast("timestamp")).as("pt"))
      Temporal.rangeJoin(points, intervals, "pt", "lo", "hi", threeDaysUs)
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_shipped"),
          dsum(col("l_quantity")).as("qty_sum"))
        .orderBy("o_orderkey")
    }),

    // Window RANGE frame as a range-join substitute: clicks in the hour
    // preceding each purchase, counted with one shuffle and zero joins.
    "clicks_before_purchase" -> ((s, dir) => {
      val ev = T(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("tu"))
      val w = Window.partitionBy("user_id").orderBy("tu")
        .rangeBetween(-3600000000L, 0L)
      ev.withColumn("clicks_1h",
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("clicks_1h"))
        .orderBy("event_id")
    }),

    // Ordered conversion funnel: stage N counts only events after the
    // user's earliest stage-N−1 time (three chained user-keyed joins,
    // one partitioning reused).
    "funnel_steps" -> ((s, dir) => Behavior.funnel(T(s, dir, "events"),
      unix_micros(col("ts")), col("user_id"), col("event_type"),
      Seq("view", "click", "purchase"))),

    // Weekly cohort retention: first-event week × weeks-since, distinct
    // active users per cell.
    "cohort_retention" -> ((s, dir) => Behavior.cohortRetention(
      T(s, dir, "events"), unix_micros(col("ts")), col("user_id"))),

    // Markov bigram matrix over each user's time-ordered event sequence.
    "event_transitions" -> ((s, dir) => Behavior.transitions(
      T(s, dir, "events"), unix_micros(col("ts")), col("user_id"),
      col("event_type"), col("event_id"))),

    // Outlier-robust money stats: exact-percentile clamp then decimal sum.
    "winsorized_price" -> ((s, dir) => Behavior.winsorizedStats(
      T(s, dir, "lineitem"), col("l_extendedprice"), 0.01, 0.99)),

    // One-pass column profile: rows/nonnull/distinct/min/max/sum per
    // column (exact distinct plans through one Expand aggregate).
    "profile_columns" -> ((s, dir) => Profile.profileColumns(
      T(s, dir, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),

    // Per-group z-score outlier counts from exact decimal moments — the
    // mean/sd derivation shares one expression tree with the oracle.
    "outlier_zscore" -> ((s, dir) => Profile.outliersByGroup(
      T(s, dir, "events"), col("event_type"), col("value"), 2.5)),

    // Gaps-and-islands: collapse each user's stream into maximal
    // same-event-type runs with interval bounds (SCD-2 shape).
    "event_runs" -> ((s, dir) => Profile.eventRuns(
        T(s, dir, "events"), unix_micros(col("ts")), col("user_id"),
        col("event_type"), col("event_id"))
      .filter(col("u") < 50)),

    // Calendar densification: per-priority daily order counts with
    // missing days as explicit zeros.
    "gap_fill_daily" -> ((s, dir) => Profile.gapFillDaily(
      T(s, dir, "orders"), col("o_orderpriority"),
      to_date(col("o_orderdate")))),

    // Market-basket pairs: frequent-item-pruned co-occurrence counts
    // within orders, top-k with total tiebreak.
    "item_pairs" -> ((s, dir) => Relations.itemPairs(
      T(s, dir, "lineitem"), col("l_orderkey"), col("l_partkey"),
      3L, 50, maxBasketSize = 10000)),

    // Blocked fuzzy entity matching: Levenshtein ≤ 2 name pairs inside
    // nation blocks only.
    // subSplits = 4: 25 nation blocks cap the merge path at 25 tasks —
    // 4 sub-splits lift the Σ|block|² verify stage to 100 tasks, which
    // both exceeds the 32 local cores and load-balances the skewed
    // block sizes; pair space unchanged (QBench'd warm at sf0.1:
    // 2.7 s unsplit → 1.8 s at s=2 → 1.5 s at s=4, control flat).
    "fuzzy_match" -> ((s, dir) => Relations.fuzzyMatchBlocked(
      T(s, dir, "customer"), col("c_nationkey"), col("c_custkey"),
      col("c_name"), 2, subSplits = 4)),

    // Count-exact per-group sample: 20 digest-ranked docs per language.
    "per_group_sample" -> ((s, dir) => Sampling.perGroupSample(
        T(s, dir, "documents"), col("lang"), col("doc_id"), 20)
      .select("doc_id", "lang").orderBy("doc_id")),

    // Deterministic 5-fold cross-validation assignment (digest-interval
    // folds; a row's fold never changes as the corpus grows).
    "kfold_split" -> ((s, dir) => Sampling.kfoldAssign(
        T(s, dir, "documents"), col("doc_id"), 5)
      .groupBy("lang", "fold").agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "fold")),

    // SCD-1 MERGE shape: each user's latest event wins (version = ts,
    // tiebreak = event_id).
    "latest_state" -> ((s, dir) => warehouse.Warehouse.keepLatest(
        T(s, dir, "events")
          .select(col("user_id"), col("event_type"), col("value"),
            unix_micros(col("ts")).as("tu"), col("event_id")),
        Seq("user_id"), "tu", "event_id")
      .select("user_id", "event_type", "value", "tu")
      .orderBy("user_id")),

    // Materialized-view refresh: merge a standing daily aggregate with a
    // new delta's aggregate; must hash-match a from-scratch recompute
    // (the algebraic-invariant exact twin).
    "incremental_agg" -> ((s, dir) => {
      val ev = T(s, dir, "events").select(col("event_type"),
        date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"),
        col("value"), col("event_id"))
      def dailyAgg(df: DataFrame) = df.groupBy("event_type", "day")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).as("s"))
      val state = dailyAgg(ev.filter(col("event_id") < 8000))
      val delta = dailyAgg(ev.filter(col("event_id") >= 8000))
      warehouse.Warehouse.mergeAggState(state, delta,
          Seq("event_type", "day"))
        .select(col("event_type"), col("day"), col("n"),
          col("s").cast("double").as("revenue"))
        .orderBy("event_type", "day")
    }),

    // CUBE: all four grouping combinations in one shuffle.
    "cube_daily" -> ((s, dir) => T(s, dir, "events")
      .cube(col("event_type"), to_date(col("ts")).as("dd"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("revenue"))
      .select(col("event_type"),
        date_format(col("dd"), "yyyy-MM-dd").as("d"), col("n"), col("revenue"))
      .orderBy(col("event_type").asc_nulls_first, col("d").asc_nulls_first)),

    // Explicit GROUPING SETS through the SQL surface.
    "grouping_sets" -> ((s, dir) => {
      T(s, dir, "events").createOrReplaceTempView("events")
      s.sql("""SELECT user_id % 10 AS user_bucket, event_type,
                      COUNT(*) AS n,
                      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS revenue
               FROM events
               GROUP BY GROUPING SETS ((user_id % 10, event_type),
                                       (user_id % 10), ())
               ORDER BY user_bucket ASC NULLS FIRST,
                        event_type ASC NULLS FIRST""")
    }),

    // INTERSECT / EXCEPT set-operator semantics, computed as ONE
    // aggregate: both memberships fold per user in a single shuffle
    // (bool_or map-side-combines), then the set label derives from the
    // two flags — vs the literal INTERSECT/EXCEPT formulation's four
    // distinct passes over events plus two set-op shuffles. Same rows,
    // one scan, one exchange; the plan that survives 100 TB.
    "set_ops_users" -> ((s, dir) => {
      T(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "click", 1).otherwise(0)).as("c"),
          max(when(col("event_type") === "purchase", 1).otherwise(0)).as("p"))
        .filter(col("c") === 1)
        .select(col("user_id"),
          when(col("p") === 1, "click_and_purchase").otherwise("click_only")
            .as("set_op"))
        .orderBy("set_op", "user_id")
    }),

    // Exact interpolated percentiles per group (sort-based; the approx
    // sketch twin is approx_distinct's HLL — for quantiles at 100 TB use
    // percentile_approx, benchmarked separately).
    "value_percentiles" -> ((s, dir) => T(s, dir, "events")
      .groupBy("event_type")
      .agg(round(expr("percentile(value, 0.25)"), 4).as("p25"),
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"))
      .orderBy("event_type")),

    // P6 analog on a real timestamp pair: order→ship latency in days,
    // integer-day floor, grouped by priority.
    "ship_latency" -> ((s, dir) => T(s, dir, "lineitem")
      .join(T(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        floor((col("l_shipdate").cast("timestamp").cast("double") -
          col("o_orderdate").cast("timestamp").cast("double")) / 86400.0)
          .as("latency_days"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lineitems"),
        round(avg(col("latency_days")), 4).as("avg_latency_days"))
      .orderBy("o_orderpriority")),

    // Generator (UDTF-surface analog): explode the token stream, global
    // top-k by frequency — partial aggregation absorbs the explosion
    // before the shuffle.
    "top_tokens" -> ((s, dir) => T(s, dir, "documents")
      .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(20)),

    // Map-typed column: JSON props as map<string,int>, exploded to
    // key/value rows and re-aggregated per key.
    "props_map" -> ((s, dir) => T(s, dir, "events")
      .select(explode(from_json(col("props"),
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType, IntegerType)))
        .as(Seq("key", "value")))
      .groupBy("key")
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
      .orderBy("key")),

    // Array aggregation: per-user distinct type set, sorted and joined to
    // a canonical string (portable across engines; raw array formats
    // aren't).
    "user_type_sets" -> ((s, dir) => T(s, dir, "events")
      .groupBy("user_id")
      .agg(array_join(sort_array(collect_set(col("event_type"))), ",")
          .as("types"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")),

    // LAG analytic: delta between consecutive per-user event values
    // (order pinned by unique event_id).
    "lag_delta" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      T(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          round(col("value") - lag(col("value"), 1).over(w), 4).as("delta"))
        .orderBy("event_id")
    }),

    // Order-independent variance/stddev: double accumulation is
    // fold-order-dependent (forbidden by the determinism contract), so
    // the moments are exact DECIMAL sums and the variance algebra runs
    // once per group in double — identical on any engine or partitioning.
    "value_moments" -> ((s, dir) => T(s, dir, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("s1d"),
        sum((col("value") * col("value")).cast("decimal(28,6)")).as("s2d"))
      .select(col("event_type"), col("n"),
        round(col("s1d").cast("double") / col("n"), 4).as("mean_value"),
        round((col("s2d").cast("double") -
            pow(col("s1d").cast("double"), 2) / col("n")) / (col("n") - 1), 4)
          .as("var_value"),
        round(sqrt((col("s2d").cast("double") -
            pow(col("s1d").cast("double"), 2) / col("n")) / (col("n") - 1)), 4)
          .as("stddev_value"))
      .orderBy("event_type")),

    // Regex extraction: numeric prefix of the order priority.
    "priority_extract" -> ((s, dir) => T(s, dir, "orders")
      .select(regexp_extract(col("o_orderpriority"), "^(\\d+)", 1)
        .cast("int").as("priority"), col("o_totalprice"))
      .groupBy("priority")
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_price"))
      .orderBy("priority")),

    // ----------------------------------------------------------------
    // North-star: dedup / text analysis / similarity / multimodal
    // ----------------------------------------------------------------

    // Deterministic exact-fraction stratified sample (digest-ranked, no
    // RNG — reproducible on any cluster layout).
    "stratified_sample" -> ((s, dir) => Sampling.stratifiedSample(
        T(s, dir, "documents"), col("lang"), col("doc_id"), 0.1)
      .select("doc_id", "lang").orderBy("doc_id")),

    // Stable train/validation/test assignment: a row's split never
    // changes as the corpus grows.
    "dataset_split" -> ((s, dir) => Sampling.datasetSplit(
        T(s, dir, "documents"), col("doc_id"))
      .groupBy("lang", "split").agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "split")),

    // Greedy contiguous packing of docs into max-token training
    // sequences, SHARDED by language: each shard's running sum is an
    // independent window partition, so packing parallelizes across
    // shards with no global-ORDER-BY single task (the 100 TB form;
    // (lang, seq_id) is the global sequence key).
    "pack_sequences" -> ((s, dir) => Sampling.packSequencesSharded(
        T(s, dir, "documents"), col("lang"), col("doc_id"),
        TextAnalysis.tokenCount(col("text")), maxTokens = 2048)
      .groupBy("lang", "seq_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("seq_tokens"))
      .orderBy("lang", "seq_id")),

    // ONE global greedy packing order (no shard key): the distributed
    // two-pass prefix sum — quantile buckets, per-bucket offsets,
    // parallel per-bucket windows — whose output is bit-identical to a
    // single global window at any bucket count. The oracle computes
    // the plain global window cumsum, so a hash match certifies the
    // prefix-sum reassembly exactly.
    "pack_global" -> ((s, dir) => Sampling.packSequencesGlobal(
        T(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens")),
        col("doc_id"), col("n_tokens"), maxTokens = 256, buckets = 8)
      .select(col("doc_id"), col("n_tokens"), col("seq_id"))
      .orderBy("doc_id")),

    // Benchmark-contamination screen: eval docs (id < 50) vs the training
    // rest, 3-gram overlap with stop-gram pruning.
    "contamination" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Contamination.ngramOverlap(
        docs.filter(col("doc_id") < 50), docs.filter(col("doc_id") >= 50))
    }),

    // The decision the screen feeds: the training corpus with every
    // flagged doc REMOVED (same split + thresholds as `contamination`).
    "decontaminate" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Contamination.decontaminate(
          docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50))
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    // The contamination screen's frozen-model form: the eval suite's
    // hashed-3-gram postings persisted ONCE (stop-gram df cap stored in
    // the index), every batch doc verdicted against them — the eval
    // suite is never re-tokenized at screen time. Full-verdict shape
    // (one row per batch doc, best match named) rather than the batch
    // form's pair report; stop-grams prune on EVAL-side df, so a doc's
    // verdict never depends on what else arrived in its trigger.
    "contamination_indexed" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val path = Contamination.evalIndexPathFor(dir)
      Contamination.ensureEvalIndex(s, docs.filter(col("doc_id") < 50),
        path, sourcePath = Some(s"$dir/documents.parquet"))
      Contamination.contaminationAgainstIndex(
        docs.filter(col("doc_id") >= 450), path)
    }),

    // The decision the frozen screen feeds — the batch with every
    // flagged doc REMOVED (decontaminate's indexed twin; what a
    // re-decontamination job runs after a new benchmark is appended
    // to the eval index).
    "decontaminate_indexed" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val path = Contamination.evalIndexPathFor(dir)
      Contamination.ensureEvalIndex(s, docs.filter(col("doc_id") < 50),
        path, sourcePath = Some(s"$dir/documents.parquet"))
      Contamination.decontaminateAgainstIndex(
          docs.filter(col("doc_id") >= 450), path)
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    // SPAN-level contamination: the consecutive-overlap rule (a doc is
    // contaminated when it shares a CONTIGUOUS ≥8-token run with the
    // eval suite) over the same persisted eval-gram index the
    // doc-level screen probes — run lengths via the gaps-and-islands
    // identity over the positional gram stream. Separates a verbatim
    // benchmark quote from the same number of scattered shared grams.
    "contamination_spans" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val path = Contamination.evalIndexPathFor(dir)
      Contamination.ensureEvalIndex(s, docs.filter(col("doc_id") < 50),
        path, sourcePath = Some(s"$dir/documents.parquet"))
      Contamination.spanContaminationAgainstIndex(
        docs.filter(col("doc_id") >= 450), path, minRunTokens = 8)
    }),

    // The span screen's decision form: contaminated SPANS removed,
    // the rest of each doc kept — dropping a whole document for one
    // quoted benchmark question destroys good training text; dropping
    // the quote doesn't. Same index, split, and run rule as
    // contamination_spans.
    "decontaminate_spans" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val path = Contamination.evalIndexPathFor(dir)
      Contamination.ensureEvalIndex(s, docs.filter(col("doc_id") < 50),
        path, sourcePath = Some(s"$dir/documents.parquet"))
      Contamination.scrubContaminatedSpans(
        docs.filter(col("doc_id") >= 450), path, minRunTokens = 8)
    }),

    // The re-decontamination LIFECYCLE in one plan: base eval index
    // (benchmarks 30–49) + an appended benchmark suite (doc_id < 30,
    // ingest 1) → the DELTA a scheduled removal job must act on: docs
    // the appended benchmarks newly flag, excluding docs the base index
    // already flagged (long removed — nothing to re-delete). Both
    // screen states ride ONE postings read (per-gram full/base df
    // flags); the best match is reported under the full index. (The
    // split direction is chosen so the delta actually FIRES on the
    // generated corpora at both driver scales — ≥1 row each.)
    "redecontaminate_delta" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val path = Contamination.evalDeltaIndexPathFor(dir)
      Contamination.buildEvalIndex(
        docs.filter(col("doc_id") >= 30 && col("doc_id") < 50), path)
      Contamination.appendEvalIndex(
        docs.filter(col("doc_id") < 30), path, ingestId = 1L)
      Contamination.redecontaminateDelta(
        docs.filter(col("doc_id") >= 450), path, sinceIngestId = 1L)
    }),

    // The same append→screen→delta lifecycle under the SPAN rule: docs
    // whose max contiguous run vs the FULL index reaches 8 tokens but
    // whose run vs the BASE index (ingest 0 alone) stays under it —
    // the newly-qualifying spans a span-rule deployment must cut after
    // a benchmark append. Both rare-gram states from ONE postings
    // read; the matched positional stream is checkpointed so the two
    // per-state island windows share one corpus tokenize pass.
    "redecontaminate_spans_delta" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val path = Contamination.evalSpanDeltaIndexPathFor(dir)
      Contamination.buildEvalIndex(
        docs.filter(col("doc_id") >= 30 && col("doc_id") < 50), path)
      Contamination.appendEvalIndex(
        docs.filter(col("doc_id") < 30), path, ingestId = 1L)
      Contamination.redecontaminateSpansDelta(
        docs.filter(col("doc_id") >= 450), path, sinceIngestId = 1L,
        minRunTokens = 8)
    }),

    // The FUZZY form of the same lifecycle (r17 — completes the
    // append→screen→delta set for all THREE contamination rules): docs
    // with a verified near-dup among the appended benchmarks but none
    // among the base suite. Both states from ONE verified-match read
    // (each match carries its ingest partition); base-flagged docs
    // never re-report. Same 30/50 lifecycle-demo split.
    "redecontaminate_neardup_delta" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val path = Dedup.minhashEvalDeltaIndexPathFor(dir)
      Dedup.buildMinhashIndex(
        docs.filter(col("doc_id") >= 30 && col("doc_id") < 50), path)
      Dedup.appendMinhashIndex(
        docs.filter(col("doc_id") < 30), path, ingestId = 1L)
      Contamination.redecontaminateNeardupDelta(
        docs.filter(col("doc_id") >= 450), path, sinceIngestId = 1L)
    }),

    // Edit-distance verify (the character-level near-dup metric):
    // adjacent-id pairs over 200-char prefixes — pairwise DP cost is
    // bounded by pair count × prefix², exactly how a candidate-pair
    // verify stage budgets it.
    "edit_distance" -> ((s, dir) => {
      val d = T(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), substring(col("text"), 1, 200).as("prefix"))
      val a = d.select(col("doc_id").as("doc_a"), col("prefix").as("pa"))
      val b = d.select(col("doc_id").as("doc_b"), col("prefix").as("pb"))
      a.join(b, col("doc_b") === col("doc_a") + 1)
        .select(col("doc_a"), levenshtein(col("pa"), col("pb")).as("edit_dist"))
        .orderBy("doc_a")
    }),

    "dedup_exact" -> ((s, dir) => Dedup.exactStats(T(s, dir, "documents"))),

    // Incremental exact dedup: a new ingestion slice (doc_id >= 450)
    // anti-joined on content digest against the standing corpus — the
    // per-batch form of dedup at 100 TB (never rescan-vs-rescan).
    "incremental_dedup" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Dedup.dedupAgainstSeen(
          docs.filter(col("doc_id") >= 450), docs.filter(col("doc_id") < 450))
        .select("doc_id").orderBy("doc_id")
    }),

    // The same dedup through the bloom-prescreen path: one BloomSketch
    // aggregate over the standing corpus, misses short-circuit past the
    // anti-join (no false negatives), hits are exactly verified — rows
    // identical to incremental_dedup by construction, same oracle shape.
    "incremental_dedup_bloom" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Dedup.dedupAgainstSeenBloom(
          docs.filter(col("doc_id") >= 450), docs.filter(col("doc_id") < 450))
        .select("doc_id").orderBy("doc_id")
    }),

    // Count-min-screened frequent tokens: the estimate filter drops
    // non-candidates BEFORE the exact aggregation (est >= true, so no
    // qualifying token is lost) and the exact HAVING keeps the output
    // identical to the plain GROUP BY the oracle runs.
    "heavy_hitters" -> ((s, dir) =>
      TextAnalysis.frequentTokensCms(T(s, dir, "documents"), minCount = 50L)),

    // PII scrub: emails/URLs/long digit runs → typed placeholders. The
    // corpus is deterministically augmented with synthetic PII first, so
    // the replacement path (not just identity) is what both engines hash.
    "redact_pii" -> ((s, dir) => {
      val id = col("doc_id").cast("string")
      val aug = T(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" contact user"), id,
          lit("@mail.example.com or https://ex"), id, lit(".org/id/"), id,
          lit(" ref 123456789")).as("text"))
      aug.select(col("doc_id"),
          TextAnalysis.redactPii(col("text")).as("clean"),
          (length(col("text")) - length(TextAnalysis.redactPii(col("text"))))
            .as("removed_chars"))
        .orderBy("doc_id")
    }),

    // Sequence-length histogram (20-token buckets) — the distribution a
    // packing/truncation policy is tuned against.
    "token_histogram" -> ((s, dir) => T(s, dir, "documents")
      .select((floor(TextAnalysis.tokenCount(col("text")) / 20) * 20)
        .cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_docs"))
      .orderBy("bucket")),

    // Repetition quality signals (the Gopher-style machine-text filters):
    // duplicate-word fraction, top-word and top-bigram share, riding the
    // same compiled shingle pass the dedup family uses.
    "repetition_stats" -> ((s, dir) =>
      TextAnalysis.repetitionStats(T(s, dir, "documents"))),

    // Deterministic training-mixture resampling: per-language epoch
    // weights (en ×2.3, zh ×0.4, rest ×1); fractional epochs are a
    // digest coin per doc and `epoch` numbers the copies.
    "mixture_sample" -> ((s, dir) => Sampling.mixtureSample(
        T(s, dir, "documents"), col("lang"), col("doc_id"),
        Map("en" -> 2.3, "zh" -> 0.4))
      .select("doc_id", "lang", "epoch").orderBy("doc_id", "epoch")),

    // Temperature (T=2) mixture with weights DERIVED from per-language
    // counts: √(n_max/n_s) — the largest language keeps every row once,
    // rarer ones upsample by the square root of their deficit. The
    // oracle re-derives the identical IEEE-exact weights in SQL.
    "temperature_mixture" -> ((s, dir) => Sampling.temperatureMixture(
        T(s, dir, "documents"), col("lang"), col("doc_id"))
      .select("doc_id", "lang", "epoch").orderBy("doc_id", "epoch")),

    // Context-window chunking: 32-token windows at stride 24, the tail
    // covered exactly once — the splitter that feeds sequence packing.
    "chunk_tokens" -> ((s, dir) => Sampling.chunkByTokens(
        T(s, dir, "documents"), chunkTokens = 32, strideTokens = 24)
      .orderBy("doc_id", "chunk_id")),

    // Corpus-boilerplate list: word bigrams appearing in ≥ 100 documents
    // (hash-keyed document-frequency count; gram text broadcast-joined
    // back for survivors only).
    "boilerplate_grams" -> ((s, dir) =>
      TextAnalysis.frequentNgrams(T(s, dir, "documents"), n = 2, minDf = 100)),

    // Cross-doc repeated-span scrubbing: drop every token covered by a
    // 3-gram occurring in ≥3 distinct docs, rebuild the text (the
    // corpus-wide removal step frequentNgrams only lists).
    "cross_span_scrub" -> ((s, dir) =>
      TextAnalysis.scrubCommonSpans(T(s, dir, "documents"), n = 3, minDf = 3)),

    // CCNet-style cross-doc line dedup: every (case/trim-normalized)
    // line keeps its first corpus-wide occurrence, later copies cut out
    // positionally; 3-token synthetic lines (the corpus is single-line).
    "line_dedup" -> ((s, dir) =>
      TextAnalysis.dedupLines(syntheticLines(T(s, dir, "documents"), 3))),

    // Line dedup AGAINST the persisted standing-corpus line-hash index —
    // the deployment shape: even docs are the standing corpus (index at
    // rest), odd docs the incoming batch; held lines cut, keep-first
    // within the batch (equal to dedupLines over the union restricted to
    // the batch — LineOpsSpec pins the equality).
    "line_dedup_indexed" -> ((s, dir) => {
      val docs = syntheticLines(T(s, dir, "documents"), 3)
      val path = TextAnalysis.lineIndexPathFor(dir)
      TextAnalysis.ensureLineIndex(s, docs.filter(col("doc_id") % 2 === 0),
        path, sourcePath = Some(s"$dir/documents.parquet"))
      TextAnalysis.dedupLinesAgainstIndex(
        docs.filter(col("doc_id") % 2 === 1), path)
    }),

    // C4-style row-local line cleanup: drop lines under 3 words (the
    // chunk tails here) or mentioning a blocklisted phrase; rebuild.
    "clean_lines" -> ((s, dir) =>
      TextAnalysis.filterLines(syntheticLines(T(s, dir, "documents"), 3),
        minWords = 3, blocklist = Seq("slow"))),

    // Gopher line-repetition signals + gate: per-doc duplicate-line
    // fraction and duplicate-line CHAR fraction over 2-token synthetic
    // lines (width 2 so the corpus exercises real duplicate groups —
    // ~180 docs carry intra-doc dups at this width; the API itself
    // operates on real newline lines).
    "line_repetition" -> ((s, dir) =>
      TextAnalysis.lineRepetitionStats(
        syntheticLines(T(s, dir, "documents"), 2))),

    // Gopher DOC-quality battery + gate: word bounds, mean word length,
    // symbol ratio, bullet/ellipsis line fractions, alpha-word fraction,
    // indicator-stopword hits. Word floor 25 and stopword floor 1 so the
    // 10–99-word corpus splits on both axes (75/425 and 118/382);
    // synthetic 3-token lines give the line fractions real line counts.
    "gopher_quality" -> ((s, dir) =>
      TextAnalysis.gopherQualityStats(
        syntheticLines(T(s, dir, "documents"), 3),
        minWords = 25, minStopwords = 1)),

    // Gopher n-gram repetition battery + gate: top-{2,3,4}-gram char
    // fraction and duplicated-{5..10}-gram char COVERAGE per doc. The
    // doc's first 8 tokens are appended to its tail so the corpus
    // exercises the union-coverage math with intermediate values
    // (0.13–0.90 dup-5gram fractions) instead of the all-zero
    // dup columns the raw ~30-token docs would give.
    "gopher_ngrams" -> ((s, dir) => {
      val toks = split(trim(col("text")), "\\s+")
      TextAnalysis.gopherNgramStats(
        T(s, dir, "documents").select(col("doc_id"),
          concat_ws(" ", col("text"),
            array_join(slice(toks, 1, 8), " ")).as("text")))
    }),

    // Deterministic sharded training-order shuffle: digest-bucket shard
    // + within-shard digest rank — one fixed permutation, no global sort.
    "shuffle_shards" -> ((s, dir) =>
      Sampling.shuffleShards(T(s, dir, "documents"), col("doc_id"),
          numShards = 8, seed = "r18")
        .select("doc_id", "shard", "pos").orderBy("shard", "pos")),

    // Shard manifest (the training-data data-card): per-shard doc count,
    // token volume, and source spread under the same digest assignment —
    // row-local shardId (no rank window) + one aggregate.
    "shard_manifest" -> ((s, dir) =>
      T(s, dir, "documents")
        .withColumn("shard",
          Sampling.shardId(col("doc_id"), numShards = 8, seed = "r18"))
        .groupBy("shard").agg(
          count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast("bigint"))
            .as("n_tokens"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("shard")),

    // Unigram log-probability fluency score (the KenLM-perplexity proxy):
    // corpus word frequencies → per-doc mean log-probability.
    "unigram_logprob" -> ((s, dir) =>
      TextAnalysis.unigramLogProb(T(s, dir, "documents"))),

    // TF-IDF top-3 terms per document (score desc, term asc — a total
    // order both engines share).
    "tfidf_top_terms" -> ((s, dir) =>
      TextAnalysis.tfidfTopTerms(T(s, dir, "documents"), topK = 3)),

    // Full-outer user activity: signup counts vs error counts per user,
    // null-filled on both unmatched sides.
    "full_outer_users" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      def per(t: String, n: String) = ev.filter(col("event_type") === t)
        .groupBy("user_id").agg(count(lit(1)).as(n))
      per("signup", "n_signups")
        .join(per("error", "n_errors"), Seq("user_id"), "full_outer")
        .select(col("user_id"),
          coalesce(col("n_signups"), lit(0L)).as("n_signups"),
          coalesce(col("n_errors"), lit(0L)).as("n_errors"))
        .orderBy("user_id")
    }),

    "dedup_normalized" -> ((s, dir) =>
      Dedup.normalizedStats(T(s, dir, "documents"))),

    "dedup_keep_first" -> ((s, dir) =>
      Dedup.dedupKeepFirst(T(s, dir, "documents")).orderBy("content_digest")),

    // Source-priority dedup: among exact dups the most-trusted source's
    // copy survives (trust rank = the source's numeric suffix here),
    // tie → min doc_id.
    "dedup_keep_preferred" -> ((s, dir) =>
      Dedup.dedupKeepPreferred(T(s, dir, "documents"),
          regexp_extract(col("source"), "(\\d+)", 1).cast("int"))
        .orderBy("content_digest")),

    "token_stats" -> ((s, dir) => TextAnalysis.tokenStats(T(s, dir, "documents"))),

    // Per-source caps: within each source keep the `cap` longest docs
    // (n_chars desc, doc_id tie-break) — the no-domain-dominates rule;
    // survivors only, so the rank<=cap filter plans a partial
    // WindowGroupLimit (hot-domain skew armor, PlanGuard-pinned).
    "source_caps" -> ((s, dir) =>
      Sampling.sourceCaps(T(s, dir, "documents"), cap = 10,
        preference = col("n_chars"))),

    "lang_stats" -> ((s, dir) => TextAnalysis.langStats(T(s, dir, "documents"))),

    "quality_score" -> ((s, dir) =>
      TextAnalysis.qualityScore(T(s, dir, "documents"))),

    "lang_confusion" -> ((s, dir) =>
      TextAnalysis.langIdHeuristic(T(s, dir, "documents"))),

    "embed_stats" -> ((s, dir) => Similarity.embedStats(T(s, dir, "embeddings"))),

    "cosine_topk" -> ((s, dir) =>
      Similarity.cosineTopK(T(s, dir, "embeddings"), queryId = 0L, k = 10)),

    "multimodal_meta" -> ((s, dir) =>
      Multimodal.binaryMeta(T(s, dir, "documents"))),

    // Frame-sampling plumbing, oracle-checked: the sampled-frame count
    // per payload is a pure function of byte length (stride over
    // fixed-size slices), so ANSI SQL can predict it exactly.
    "frame_stats" -> ((s, dir) => Multimodal.sampleFrames(s,
        Multimodal.mediaFromDocuments(T(s, dir, "documents")))
      .groupBy("id")
      .agg(count(lit(1)).as("n_frames"),
        sum(octet_length(col("frame")).cast("long")).as("frame_bytes"))
      .orderBy("id")),

    // UNPIVOT (melt): wide measure columns to (measure, value) rows.
    "unpivot_measures" -> ((s, dir) => T(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")
      .unpivot(Array(col("l_orderkey")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "measure", "val")
      .groupBy("measure")
      .agg(count(lit(1)).as("n"),
        Analytics.dsum(col("val")).as("total"))
      .orderBy("measure")),

    // Per-partition batch decode (mapPartitions plumbing; codec stubbed
    // deterministically — the schema/batch shape is the real thing).
    "decode_meta" -> ((s, dir) => Multimodal.decodeMeta(s,
        Multimodal.mediaFromDocuments(T(s, dir, "documents")))
      .orderBy("id")),

    // Feature extraction composed with vector math: stub encoder output
    // flows straight into the codegen'd dot-product kernel.
    "media_features" -> ((s, dir) => Multimodal.extractFeatures(s,
        Multimodal.mediaFromDocuments(T(s, dir, "documents")))
      .select(col("id"),
        round(sqrt(graft.functions.VectorFunctions.vec_dot(
          col("embedding"), col("embedding"))), 4).as("feature_norm"))
      .orderBy("id")),

    // MinHash candidate pairs with the EXACT Jaccard verified alongside
    // the estimate: the oracle covers the exact side (DuckDB re-derives
    // the word-3-gram sets) and the estimate is pinned by a tolerance
    // flag — |est − exact| ≤ 0.2 (≳3σ for 32 hashes at the J≈0.9 of the
    // planted dups), so a broken signature shows up as a hash mismatch
    // without asking the oracle to reproduce xxhash64 minima.
    "minhash_pairs" -> ((s, dir) =>
      if (verifyExact)
        Dedup.minhashVerifiedPairs(T(s, dir, "documents"))
          .select(col("doc_a"), col("doc_b"),
            round(col("jaccard"), 4).as("jaccard"),
            (abs(col("est_jaccard") - col("jaccard")) <= 0.2).as("est_within_02"))
          .orderBy("doc_a", "doc_b")
      else // bench: the production sketch plan, no exact twin
        Dedup.minhashNearDupPairs(T(s, dir, "documents"))),

    // Incremental MinHash near-dup: new-slice docs with no verified
    // near-duplicate (exact J ≥ 0.5 on banding candidates) in the
    // standing corpus — the syntactic twin of incremental_dedup (exact
    // digest) and semantic_novel (embedding cells), same 450 split.
    "minhash_novel" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Dedup.minhashNovel(docs.filter(col("doc_id") >= 450),
          docs.filter(col("doc_id") < 450))
        .orderBy("doc_id")
    }),

    // The same screen over the PERSISTED MinHash corpus index (bands +
    // stored shingle sets; corpus text never re-scanned) — shares
    // minhash_novel's oracle, so a hash match certifies the index path
    // end-to-end: build layout, bucket-pruned candidates, stored-set
    // verify.
    "minhash_novel_indexed" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val path = Dedup.minhashIndexPathFor(dir)
      Dedup.ensureMinhashIndex(s, docs.filter(col("doc_id") < 450), path,
        sourcePath = Some(s"$dir/documents.parquet"))
      // broadcastBatch = false: this query's fixed 450-split makes the
      // "batch" most of the table at larger SFs — backfill-shaped, so
      // the co-partitioned merge plan is right here. Per-trigger-sized
      // batches (the streaming path) keep the broadcast default.
      Dedup.minhashNovelAgainstIndex(docs.filter(col("doc_id") >= 450), path,
          broadcastBatch = false)
        .filter(col("is_novel")).select("doc_id").orderBy("doc_id")
    }),

    // NEAR-DUP contamination: the fuzzy third rule of the family —
    // MinHash similarity against the eval slice catches a paraphrased
    // or lightly-edited benchmark copy whose exact 3-grams are broken
    // (the scattered-count and contiguous-run rules both miss it, but
    // enough shingles survive for J >= 0.5). Same eval slice as
    // corpus_prep; the minhashNovel machinery with the polarity
    // flipped: NOT novel vs the eval suite == contaminated.
    // broadcastCorpus: the eval side is benchmark-sized — the
    // decontamination polarity — so its bands and sets broadcast into
    // a streamed scan of the corpus side (the scan-form twin of the
    // indexed query's broadcastIndex plan; r18). Verdict-identical to
    // the merge plan (ExtSpec pins the equality), same oracle.
    "contamination_neardup" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val cand = docs.filter(col("doc_id") >= 50)
      val novel = Dedup.minhashNovel(cand, docs.filter(col("doc_id") < 50),
        broadcastCorpus = true)
      cand.select("doc_id").join(novel, Seq("doc_id"), "left_anti")
        .orderBy("doc_id")
    }),

    // The fuzzy rule's DEPLOYMENT shape: the eval suite's MinHash index
    // persisted ONCE (bands + stored shingle sets, its own path — never
    // confusable with the standing-corpus index), every batch doc
    // verdicted against it — the eval suite is never re-shingled at
    // screen time, completing the family symmetry (count, span, and
    // near-dup rules all ship scan + index + stream). Shares
    // contamination_neardup's oracle, so a hash match certifies the
    // index path end-to-end: build layout, broadcast-index plan,
    // stored-set verify, polarity flip. broadcastIndex: the index is
    // benchmark-sized (the SMALL side — opposite of
    // minhash_novel_indexed's corpus index), so bands and sets
    // broadcast into a streamed scan of the corpus-scale batch.
    "contamination_neardup_indexed" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val path = Dedup.minhashEvalIndexPathFor(dir)
      Dedup.ensureMinhashIndex(s, docs.filter(col("doc_id") < 50), path,
        sourcePath = Some(s"$dir/documents.parquet"))
      Contamination.neardupContaminationAgainstIndex(
          docs.filter(col("doc_id") >= 50), path)
        .filter(col("is_contaminated")).select("doc_id")
        .orderBy("doc_id")
    }),

    // The fuzzy rule's DECISION form (r18): the batch with every
    // near-dup-flagged doc REMOVED — decontaminate_indexed's twin for
    // the family's third rule, completing the removal symmetry (count:
    // decontaminate/_indexed; span: scrub_contaminated_spans; fuzzy:
    // this). A left_anti over the indexed screen's flagged side; the
    // oracle anti-joins the exhaustive exact-Jaccard dup set, so a
    // hash match certifies screen + removal end to end.
    "decontaminate_neardup" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val path = Dedup.minhashEvalIndexPathFor(dir)
      Dedup.ensureMinhashIndex(s, docs.filter(col("doc_id") < 50), path,
        sourcePath = Some(s"$dir/documents.parquet"))
      Contamination.decontaminateNeardup(
          docs.filter(col("doc_id") >= 50), path)
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    // Near-dup pairs → connected components → corpus-wide cluster
    // assignment with canonical survivors (min doc_id per cluster).
    "dedup_clusters" -> ((s, dir) =>
      Dedup.nearDupClusters(T(s, dir, "documents"))),

    // The production survivor rule: keep the BEST copy per near-dup
    // cluster — here "longest by token count" (the RefinedWeb choice),
    // doc_id tiebreak; one per-cluster rank window on top of the
    // cluster assignment.
    "dedup_keep_longest" -> ((s, dir) =>
      Dedup.nearDupClustersKeepBest(T(s, dir, "documents"),
        TextAnalysis.tokenCount(col("text")).cast("long"))),

    // Token-budget mixture plan: per-source target tokens / epochs /
    // residual sampling rate for a fixed budget and mixture weights —
    // the sizing step mixture_sample consumes downstream.
    "token_budget_plan" -> ((s, dir) => Sampling.tokenBudgetPlan(
      T(s, dir, "documents"),
      Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1),
      budgetTokens = 10000L)),

    // The plan EXECUTED (r17): the corpus materialized AT the budget —
    // full epochs via copy expansion, the residual via the
    // deterministic digest coin, rates derived from the plan itself so
    // sizing and sampling can't drift. The 1M budget exercises BOTH
    // mechanisms at every verify scale (multi-epoch at sf0.001,
    // mixed full+residual at sf0.01); the oracle re-derives the plan
    // arithmetic AND replays the md5 coin per doc, so row counts per
    // (source, epoch) match exactly.
    "train_prep_budget" -> ((s, dir) =>
      Sampling.sampleAtBudget(T(s, dir, "documents"),
          Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1),
          budgetTokens = 1000000L)
        .select(col("doc_id"), col("source"), col("epoch"))
        .orderBy("doc_id", "epoch")),

    // The end-to-end curation report: quality screen + exact dedup +
    // near-dup survivors + contamination vs a held-out slice, one pass.
    "corpus_prep" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      graft.ext.CorpusPrep.report(graft.ext.CorpusPrep.prepare(
        docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50)))
    }),

    // The composite with every round-12 screen wired in: blocklist gate
    // as a stage-1 row-local verdict, containment edges widening the
    // cluster graph (a quoted passage joins its container's cluster),
    // the semantic outlier screen on the embedding side, and (r15) the
    // intra-document repetition veto at the incremental composite's
    // threshold — batch backfill and streaming ingest now screen with
    // the SAME set, the composites' symmetry contract. Staged-survivor
    // rules unchanged, so a blocklisted doc's near-dup survivor falls
    // to the next eligible copy (ExtSpec pins the interaction).
    "corpus_prep_v2" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      graft.ext.CorpusPrep.report(graft.ext.CorpusPrep.prepare(
        docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
        blocklist = Seq("dup", "skew", "spill"),
        blocklistMaxFraction = 0.05,
        containmentThreshold = Some(0.5),
        embeddings = Some(T(s, dir, "embeddings")),
        repetitionMaxDupFrac = Some(0.05)))
    }),

    // The batch composite's PER-DOC verdict frame with the span-
    // contamination veto on (r16: screenIncremental's stage 4b brought
    // to the batch path — the second half of the composites' symmetry
    // contract; the repetition veto closed the first). Every v2 screen
    // plus `contam_span_run`/`span_ok`: a doc sharing a contiguous
    // ≥8-token run with the eval slice is ineligible even when its
    // scattered-gram count stays under the doc-level threshold. The
    // oracle re-derives all NINE verdicts per doc, including the
    // eval-df rare set and the gaps-and-islands run lengths.
    "corpus_prep_v3" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      graft.ext.CorpusPrep.prepare(
        docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
        blocklist = Seq("dup", "skew", "spill"),
        blocklistMaxFraction = 0.05,
        containmentThreshold = Some(0.5),
        embeddings = Some(T(s, dir, "embeddings")),
        repetitionMaxDupFrac = Some(0.05),
        contamSpanMinRun = Some(8))
    }),

    // The batch composite with ALL THREE contamination rules on (r17:
    // the fuzzy MinHash-vs-eval veto joins the scattered-count and
    // contiguous-span rules — the flagship pair now applies the whole
    // family symmetrically): a paraphrased benchmark copy whose exact
    // grams are broken becomes ineligible at shingle-Jaccard ≥ 0.5. The
    // veto rides the shared shingle checkpoint (MinHash consumes the
    // same (doc_id, h) stream) — still ONE corpus tokenize pass for six
    // shingle consumers. The oracle re-derives every verdict including
    // per-doc exact Jaccard against the eval slice.
    "corpus_prep_v4" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      graft.ext.CorpusPrep.prepare(
        docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
        blocklist = Seq("dup", "skew", "spill"),
        blocklistMaxFraction = 0.05,
        containmentThreshold = Some(0.5),
        embeddings = Some(T(s, dir, "embeddings")),
        repetitionMaxDupFrac = Some(0.05),
        contamSpanMinRun = Some(8),
        contamNeardupThreshold = Some(0.5))
    }),

    // v4 plus the full Gopher doc-quality battery (r18) as a stage-1
    // veto — the published word/mean-length/symbol/bullet/ellipsis/
    // alpha/stopword rules fused into the same row-local checkpointed
    // projection as the 2-signal pre-gate: eleven screens, still ONE
    // corpus text scan and ONE shared shingle pass. Word floor 25 and
    // stopword floor 1 split this corpus on both axes.
    "corpus_prep_v5" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      graft.ext.CorpusPrep.prepare(
        docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
        blocklist = Seq("dup", "skew", "spill"),
        blocklistMaxFraction = 0.05,
        containmentThreshold = Some(0.5),
        embeddings = Some(T(s, dir, "embeddings")),
        repetitionMaxDupFrac = Some(0.05),
        contamSpanMinRun = Some(8),
        contamNeardupThreshold = Some(0.5),
        gopherGate = Some(TextAnalysis.GopherGateConfig(
          minWords = 25, minStopwords = 1)))
    }),

    // The INCREMENTAL curation composite: a new batch (doc_id >= 450)
    // against the standing corpus' persisted state — row-local quality
    // + blocklist, MinHash novelty vs the standing index, DSIR
    // selection vs the frozen 250-doc target model, intra-batch
    // near-dup clustering among the eligible. Full per-screen audit
    // columns; the oracle re-derives all four screens (xxh64 DSIR
    // chain, exact-Jaccard novelty with best-match tie order, the
    // recursive component CTE for the intra-batch clusters).
    "curation_screen" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val mh = Dedup.minhashIndexPathFor(dir)
      Dedup.ensureMinhashIndex(s, docs.filter(col("doc_id") < 450), mh,
        sourcePath = Some(s"$dir/documents.parquet"))
      val ds = TextAnalysis.dsirIndexPathFor(dir)
      TextAnalysis.ensureDsirIndex(s, docs.filter(col("doc_id") < 250), ds,
        sourcePath = Some(s"$dir/documents.parquet"))
      val cn = Dedup.containIndexPathFor(dir)
      Dedup.ensureContainmentIndex(s, docs.filter(col("doc_id") < 450), cn,
        sourcePath = Some(s"$dir/documents.parquet"))
      val sh = Dedup.simhashIndexPathFor(dir)
      Dedup.ensureSimhashIndex(s, docs.filter(col("doc_id") < 450), sh,
        sourcePath = Some(s"$dir/documents.parquet"))
      // broadcastBatch = false: at this fixed split the "batch" is most
      // of the corpus — backfill-shaped, so the registered form pins
      // the merge plan (containment_novel's rationale); the per-trigger
      // broadcast plan carries its own evidence in ScreenDrill +
      // PipelineSpec's curationStream.
      graft.ext.CorpusPrep.screenIncremental(
        docs.filter(col("doc_id") >= 450), mh,
        blocklist = Seq("dup", "skew", "spill"),
        blocklistMaxFraction = 0.05,
        dsirIndexPath = Some(ds),
        containmentIndexPath = Some(cn),
        simhashIndexPath = Some(sh),
        broadcastBatch = false)
    }),

    // The incremental composite with EVERY screen family configured —
    // curation_screen plus the persisted eval-gram contamination index
    // (eval suite = doc_id < 50, the batch composite's split) and the
    // frozen embedding-outlier model (fit on vec_id < 450) — making the
    // incremental screen a strict superset of the batch composite's
    // screen set: nothing `prepare` would reject rides in through the
    // ingest path. The oracle re-derives all EIGHT verdicts, including
    // the eval-df stop-gram chain and the unrolled k-means moments.
    "curation_screen_v2" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val emb = T(s, dir, "embeddings")
      val mh = Dedup.minhashIndexPathFor(dir)
      Dedup.ensureMinhashIndex(s, docs.filter(col("doc_id") < 450), mh,
        sourcePath = Some(s"$dir/documents.parquet"))
      val ds = TextAnalysis.dsirIndexPathFor(dir)
      TextAnalysis.ensureDsirIndex(s, docs.filter(col("doc_id") < 250), ds,
        sourcePath = Some(s"$dir/documents.parquet"))
      val cn = Dedup.containIndexPathFor(dir)
      Dedup.ensureContainmentIndex(s, docs.filter(col("doc_id") < 450), cn,
        sourcePath = Some(s"$dir/documents.parquet"))
      val sh = Dedup.simhashIndexPathFor(dir)
      Dedup.ensureSimhashIndex(s, docs.filter(col("doc_id") < 450), sh,
        sourcePath = Some(s"$dir/documents.parquet"))
      val ev = Contamination.evalIndexPathFor(dir)
      Contamination.ensureEvalIndex(s, docs.filter(col("doc_id") < 50), ev,
        sourcePath = Some(s"$dir/documents.parquet"))
      val ol = Similarity.outlierIndexPathFor(dir)
      Similarity.ensureOutlierIndex(s, emb.filter(col("vec_id") < 450), ol,
        sourcePath = Some(s"$dir/embeddings.parquet"))
      graft.ext.CorpusPrep.screenIncremental(
        docs.filter(col("doc_id") >= 450), mh,
        blocklist = Seq("dup", "skew", "spill"),
        blocklistMaxFraction = 0.05,
        dsirIndexPath = Some(ds),
        containmentIndexPath = Some(cn),
        simhashIndexPath = Some(sh),
        contamIndexPath = Some(ev),
        contamSpanMinRun = Some(8),
        embeddings = Some(emb.filter(col("vec_id") >= 450)),
        outlierIndexPath = Some(ol),
        repetitionMaxDupFrac = Some(0.05),
        broadcastBatch = false)
    }),

    // curation_screen_v2 plus the fuzzy contamination screen (r17): the
    // batch is additionally verdicted against the FROZEN eval-suite
    // MinHash index — the ingest path now applies the same three
    // contamination rules as corpus_prep_v4's backfill path, keeping
    // the composites' symmetry contract whole. The oracle re-derives
    // the new verdict as per-doc exact Jaccard vs the eval slice with
    // the engine's (rounded-j, eval_id) tie order.
    "curation_screen_v3" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val emb = T(s, dir, "embeddings")
      val mh = Dedup.minhashIndexPathFor(dir)
      Dedup.ensureMinhashIndex(s, docs.filter(col("doc_id") < 450), mh,
        sourcePath = Some(s"$dir/documents.parquet"))
      val ds = TextAnalysis.dsirIndexPathFor(dir)
      TextAnalysis.ensureDsirIndex(s, docs.filter(col("doc_id") < 250), ds,
        sourcePath = Some(s"$dir/documents.parquet"))
      val cn = Dedup.containIndexPathFor(dir)
      Dedup.ensureContainmentIndex(s, docs.filter(col("doc_id") < 450), cn,
        sourcePath = Some(s"$dir/documents.parquet"))
      val sh = Dedup.simhashIndexPathFor(dir)
      Dedup.ensureSimhashIndex(s, docs.filter(col("doc_id") < 450), sh,
        sourcePath = Some(s"$dir/documents.parquet"))
      val ev = Contamination.evalIndexPathFor(dir)
      Contamination.ensureEvalIndex(s, docs.filter(col("doc_id") < 50), ev,
        sourcePath = Some(s"$dir/documents.parquet"))
      val nd = Dedup.minhashEvalIndexPathFor(dir)
      Dedup.ensureMinhashIndex(s, docs.filter(col("doc_id") < 50), nd,
        sourcePath = Some(s"$dir/documents.parquet"))
      val ol = Similarity.outlierIndexPathFor(dir)
      Similarity.ensureOutlierIndex(s, emb.filter(col("vec_id") < 450), ol,
        sourcePath = Some(s"$dir/embeddings.parquet"))
      graft.ext.CorpusPrep.screenIncremental(
        docs.filter(col("doc_id") >= 450), mh,
        blocklist = Seq("dup", "skew", "spill"),
        blocklistMaxFraction = 0.05,
        dsirIndexPath = Some(ds),
        containmentIndexPath = Some(cn),
        simhashIndexPath = Some(sh),
        contamIndexPath = Some(ev),
        contamSpanMinRun = Some(8),
        neardupEvalIndexPath = Some(nd),
        embeddings = Some(emb.filter(col("vec_id") >= 450)),
        outlierIndexPath = Some(ol),
        repetitionMaxDupFrac = Some(0.05),
        broadcastBatch = false)
    }),

    // v3 plus the Gopher battery (r18) — stage 5c fused into the
    // row-local projection, keeping screen-set parity with
    // corpus_prep_v5 (nothing the batch path rejects rides in through
    // the incremental path). Same config otherwise.
    "curation_screen_v4" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val emb = T(s, dir, "embeddings")
      val mh = Dedup.minhashIndexPathFor(dir)
      Dedup.ensureMinhashIndex(s, docs.filter(col("doc_id") < 450), mh,
        sourcePath = Some(s"$dir/documents.parquet"))
      val ds = TextAnalysis.dsirIndexPathFor(dir)
      TextAnalysis.ensureDsirIndex(s, docs.filter(col("doc_id") < 250), ds,
        sourcePath = Some(s"$dir/documents.parquet"))
      val cn = Dedup.containIndexPathFor(dir)
      Dedup.ensureContainmentIndex(s, docs.filter(col("doc_id") < 450), cn,
        sourcePath = Some(s"$dir/documents.parquet"))
      val sh = Dedup.simhashIndexPathFor(dir)
      Dedup.ensureSimhashIndex(s, docs.filter(col("doc_id") < 450), sh,
        sourcePath = Some(s"$dir/documents.parquet"))
      val ev = Contamination.evalIndexPathFor(dir)
      Contamination.ensureEvalIndex(s, docs.filter(col("doc_id") < 50), ev,
        sourcePath = Some(s"$dir/documents.parquet"))
      val nd = Dedup.minhashEvalIndexPathFor(dir)
      Dedup.ensureMinhashIndex(s, docs.filter(col("doc_id") < 50), nd,
        sourcePath = Some(s"$dir/documents.parquet"))
      val ol = Similarity.outlierIndexPathFor(dir)
      Similarity.ensureOutlierIndex(s, emb.filter(col("vec_id") < 450), ol,
        sourcePath = Some(s"$dir/embeddings.parquet"))
      graft.ext.CorpusPrep.screenIncremental(
        docs.filter(col("doc_id") >= 450), mh,
        blocklist = Seq("dup", "skew", "spill"),
        blocklistMaxFraction = 0.05,
        dsirIndexPath = Some(ds),
        containmentIndexPath = Some(cn),
        simhashIndexPath = Some(sh),
        contamIndexPath = Some(ev),
        contamSpanMinRun = Some(8),
        neardupEvalIndexPath = Some(nd),
        embeddings = Some(emb.filter(col("vec_id") >= 450)),
        outlierIndexPath = Some(ol),
        repetitionMaxDupFrac = Some(0.05),
        gopherGate = Some(TextAnalysis.GopherGateConfig(
          minWords = 25, minStopwords = 1)),
        broadcastBatch = false)
    }),

    // The whole pretraining shard path as one plan: curation survivors →
    // en ×2 mixture → 32/24 chunking → 256-token packing per lang.
    "train_prep" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      graft.ext.CorpusPrep.trainPrep(
        docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
        weights = Map("en" -> 2.0), chunkTokens = 32, strideTokens = 24,
        maxTokens = 256)
    }),

    // train_prep with the DSIR selection stage between curation and
    // mixture: survivors score against the corpus' own English slice
    // (tilt the mix toward the en distribution) and only
    // mean_log_ratio >= 0 proceeds to chunking/packing — the mixture
    // stage driven by the data-selection signal.
    "train_prep_dsir" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      graft.ext.CorpusPrep.trainPrep(
        docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
        weights = Map("en" -> 2.0), chunkTokens = 32, strideTokens = 24,
        maxTokens = 256,
        dsirTarget = Some(docs.filter(
          col("doc_id") >= 50 && col("lang") === "en")),
        dsirMinScore = 0.0)
    }),

    // Sketch quantiles (KLL-style percentile_approx) — the 100 TB path
    // where exact sort-based percentiles stop being viable. Oracle-checked
    // in RANK space, which is the sketch's actual guarantee: the approx
    // value (a real data point) must fall between the exact interpolated
    // quantiles at target ±0.01 rank (sketch rank error is 1/accuracy =
    // 1e-4, so the ±0.01 band is ~100× slack yet still catches a broken
    // sketch, whose error is rank-random); value-space error is
    // unbounded in a sparse tail, so it is NOT the pinned quantity.
    // DuckDB recomputes the exact quantiles; the flags oracle as TRUE.
    "approx_percentiles" -> ((s, dir) => T(s, dir, "events")
      .groupBy("event_type")
      .agg(
        expr("percentile_approx(value, 0.5, 10000)").as("__p50a"),
        round(expr("percentile(value, 0.5)"), 4).as("p50_exact"),
        expr("percentile_approx(value, 0.99, 10000)").as("__p99a"),
        round(expr("percentile(value, 0.99)"), 4).as("p99_exact"),
        expr("percentile(value, 0.49)").as("__l50"),
        expr("percentile(value, 0.51)").as("__h50"),
        expr("percentile(value, 0.98)").as("__l99"),
        expr("percentile(value, 1.0)").as("__h99"))
      .select(col("event_type"), col("p50_exact"), col("p99_exact"),
        col("__p50a").between(col("__l50"), col("__h50")).as("p50_in_band"),
        col("__p99a").between(col("__l99"), col("__h99")).as("p99_in_band"))
      .orderBy("event_type")),

    // Sketch aggregates (HLL++) — the estimate is engine-specific, so the
    // oracle checks the EXACT twins and pins the sketch by relative-error
    // flags at 3σ of each sketch's rsd (15% for the default rsd-0.05,
    // 3% for rsd-0.01). A 1σ bound looked fine at the gate scales but
    // flipped at sf0.1 (measured 6.67% user error on 1500 distincts) —
    // pin the guarantee, not one dataset's luck.
    "approx_distinct" -> ((s, dir) => T(s, dir, "events")
      .agg(
        approx_count_distinct(col("user_id")).as("__au"),
        countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("event_id"), 0.01).as("__ae"),
        countDistinct(col("event_id")).as("exact_events"))
      .select(col("exact_users"), col("exact_events"),
        (abs(col("__au") - col("exact_users")) <=
          col("exact_users") * 0.15).as("users_err_le_15pct"),
        (abs(col("__ae") - col("exact_events")) <=
          col("exact_events") * 0.03).as("events_err_le_3pct"))),

    // Exact verification of raw LSH candidates (band collisions), the
    // recall-safe complement of minhash_pairs' estimate-thresholded view.
    // Single-scan form: one hashedShingles pass yields both the banding
    // signatures and the exact shingle sets. Oracle-checked: DuckDB
    // re-derives the exact Jaccard over word-3-gram STRING sets (the
    // engine's hashed sets are collision-free at this scale), so a hash
    // match certifies both the verify arithmetic AND that banding lost
    // no true pair ≥ 0.3 on this corpus.
    "ngram_jaccard_pairs" -> ((s, dir) =>
      Dedup.lshVerifiedJaccardPairs(T(s, dir, "documents"))
        .filter(col("jaccard") >= 0.3)
        .select(col("doc_a"), col("doc_b"),
          round(col("jaccard"), 4).as("jaccard"))
        .orderBy("doc_a", "doc_b")),

    "simhash_docs" -> ((s, dir) => Dedup.simhash(T(s, dir, "documents"))),

    // SimHash near-dup pairs: banded Hamming join over the 64-bit
    // fingerprints — 4×16-bit bands are COMPLETE at Hamming ≤ 3
    // (pigeonhole), so the oracle enumerates ALL pairs exhaustively
    // and a hash match certifies fingerprint + lossless banding.
    "simhash_pairs" -> ((s, dir) =>
      Dedup.simhashNearDupPairs(T(s, dir, "documents"))),

    // The radius-7 form rides the multi-index layout (plain 16-bit
    // blocks joined against single-bit-expanded blocks — pigeonhole
    // puts some block at distance ≤ 1 for any pair within Hamming 7),
    // still COMPLETE, so the same exhaustive oracle applies at the
    // wider radius.
    "simhash_pairs_r7" -> ((s, dir) =>
      Dedup.simhashNearDupPairs(T(s, dir, "documents"), maxHamming = 7,
        observeName = "simhash_bucket_clamp_r7")),

    "doc_fingerprints" -> ((s, dir) =>
      TextAnalysis.fingerprint(T(s, dir, "documents"))),

    // Asymmetric containment over winnow fingerprints — the one-sided
    // inclusion Jaccard misses (short doc quoted inside a long one).
    // Inverted self-join on shared fingerprints (clamped); complete for
    // threshold > 0, certified by the exhaustive oracle.
    "containment_pairs" -> ((s, dir) =>
      Dedup.containmentPairs(T(s, dir, "documents"))),

    // The cross-corpus form: batch docs screened against the PERSISTED
    // winnow-fingerprint index (corpus text never re-scanned) — the
    // streaming-ingest question "is this new doc already contained in
    // the standing corpus". Same 450 split as minhash_novel_indexed;
    // broadcastBatch = false for the same backfill-shaped reason.
    "containment_novel" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val path = Dedup.containIndexPathFor(dir)
      Dedup.ensureContainmentIndex(s, docs.filter(col("doc_id") < 450), path,
        sourcePath = Some(s"$dir/documents.parquet"))
      Dedup.containmentAgainstIndex(docs.filter(col("doc_id") >= 450), path,
        broadcastBatch = false)
    }),

    // The SimHash family's indexed twin: Hamming-radius novelty against
    // the persisted 16-byte-row fingerprint index. Two registered forms
    // split the coverage DELIBERATELY: radius 3 runs the plain banded
    // probe on the merge (backfill) plan; radius 5 runs the
    // single-bit-expanded multi-index probe on the default broadcast
    // plan (semi-join prune included) — between them every probe path ×
    // join strategy the operator has carries oracle evidence.
    "simhash_novel" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val path = Dedup.simhashIndexPathFor(dir)
      Dedup.ensureSimhashIndex(s, docs.filter(col("doc_id") < 450), path,
        sourcePath = Some(s"$dir/documents.parquet"))
      Dedup.simhashNovelAgainstIndex(docs.filter(col("doc_id") >= 450), path,
        broadcastBatch = false)
    }),
    "simhash_novel_r5" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val path = Dedup.simhashIndexPathFor(dir)
      Dedup.ensureSimhashIndex(s, docs.filter(col("doc_id") < 450), path,
        sourcePath = Some(s"$dir/documents.parquet"))
      Dedup.simhashNovelAgainstIndex(docs.filter(col("doc_id") >= 450), path,
        maxHamming = 5, observeName = "simhash_clamp_novel_r5")
    }),

    // 4 planes + Hamming-1 multiprobe: ~5/16 of the corpus scanned.
    "ann_topk_lsh" -> ((s, dir) => Similarity.annTopK(
      T(s, dir, "embeddings"), queryId = 0L, k = 10, numPlanes = 4)),

    // IVF variant: coarse quantizer + 2 probed inverted lists.
    "ann_topk_ivf" -> ((s, dir) => Similarity.annTopKIvf(
      T(s, dir, "embeddings"), queryId = 0L, k = 10)),

    // Product-quantization ADC ranking: train 4×16 L2 codebooks (3
    // Lloyd rounds), encode the corpus to 4 codes/vector, rank by
    // asymmetric codebook lookups — the memory side of the ANN stack.
    // Rows-only (iterative training + approximate ranking have no ANSI
    // twin); QuantizationSpec pins codec exactness, ADC arithmetic,
    // convergence, determinism, and cluster recall.
    "pq_topk" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Quantization.pqTopK(emb,
        Quantization.pqTrain(emb, m = 4, k = 16, iters = 3), queryId = 0L,
        k = 10)
    }),

    // Two-stage retrieval — the production ANN SERVING pattern: the
    // corpus-wide pass scores 8-byte PQ codes into an AUTO-SIZED
    // shortlist (tie-class-complete ADC threshold — no hand-tuned
    // kCand constant; the r11 sizing law executed, not documented),
    // exact cosine reranks only those raw vectors (broadcast
    // semi-join, never a second corpus scan). The oracle reproduces
    // threshold, shortlist AND rerank.
    "pq_rerank" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Quantization.pqRerankAuto(emb,
        Quantization.pqTrain(emb, m = 4, k = 16, iters = 3), queryId = 0L,
        k = 10)
    }),

    // IVF × PQ: probe 2 coarse cells, ADC-score only their members —
    // the memory-and-pruning composition a 100 TB vector index runs
    // (cells partition-prune the scan, codes replace raw vectors).
    "pq_topk_ivf" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Quantization.pqTopKIvf(emb,
        Quantization.pqTrain(emb, m = 4, k = 16, iters = 3), queryId = 0L,
        k = 10)
    }),

    // The PERSISTED form: codes at rest partitioned by cell (no raw
    // embeddings in the index), driver-side ADC lookup tables, static
    // cell pruning. Builds once per corpus dir (source-stamped), reused
    // by every later query. Training params are the SAME literals as
    // pq_topk_ivf's, and QuantizationSpec pins the two registered
    // queries row-equal — the equality is tested, not assumed.
    "pq_topk_indexed" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val idx = Quantization.pqIndexPathFor(dir)
      Quantization.ensurePqIndex(s, emb, idx, m = 4, k = 16, iters = 3,
        sourcePath = Some(s"$dir/embeddings.parquet"))
      val qVec = emb.filter(col("vec_id") === 0L)
        .select("embedding").head().getSeq[Float](0).toArray
      Quantization.pqTopKIndexed(s, idx, qVec, k = 10)
    }),

    // Two-stage retrieval over the PERSISTED index — the deployment
    // form: cell-pruned at-rest codes build the AUTO-SIZED shortlist
    // (tie-class threshold WITHIN the probed population), exact cosine
    // reranks only those against the raw table. Oracle = the
    // probed-cell threshold shortlist + exact round-4 rerank.
    "pq_rerank_indexed" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val idx = Quantization.pqIndexPathFor(dir)
      Quantization.ensurePqIndex(s, emb, idx, m = 4, k = 16, iters = 3,
        sourcePath = Some(s"$dir/embeddings.parquet"))
      val qVec = emb.filter(col("vec_id") === 0L)
        .select("embedding").head().getSeq[Float](0).toArray
      Quantization.pqRerankIndexedAuto(s, idx, emb, qVec, k = 10)
    }),

    // IVF over the PERSISTED index (cell = partition key): the scan reads
    // ONLY the probed cells' files (static partition pruning — the
    // repeated-query cost model at 100 TB), and returns exactly
    // ann_topk_ivf's rows. The index builds once per corpus dir and is
    // reused by every subsequent query.
    "ann_topk_indexed" -> ((s, dir) => {
      val idx = Similarity.ivfIndexPathFor(dir)
      Similarity.ensureIvfIndex(s, T(s, dir, "embeddings"), idx,
        sourcePath = Some(s"$dir/embeddings.parquet"))
      val (qVec, qNorm) = Similarity.lookupVec(s, idx, 0L)
      Similarity.annTopKIndexed(s, idx, qVec, qNorm, k = 10)
    }),

    // Recall@10 of both ANN variants against the exact scan — the
    // quality metric that justifies the approximate path at scale
    // (deterministic: fixed planes/centroids, no RNG). On this corpus
    // recall ≈ the scanned fraction (LSH probes 5/16 ≈ 0.31, observed
    // 0.3): the synthetic embeddings are near-orthogonal noise with no
    // neighbor structure, so that equality is itself the correctness
    // check — a real corpus with clustered neighbors scores far above
    // the scanned fraction.
    "ann_recall" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val exact = Similarity.cosineTopK(emb, queryId = 0L, k = 10)
        .select("vec_id")
      val lsh = Similarity.annTopK(emb, queryId = 0L, k = 10, numPlanes = 4)
        .select("vec_id")
      val ivf = Similarity.annTopKIvf(emb, queryId = 0L, k = 10)
        .select("vec_id")
      recallOf(exact, lsh, 10, "recall_lsh")
        .crossJoin(recallOf(exact, ivf, 10, "recall_ivf"))
    }),

    // PQ recall self-measurement vs the exact scan (ann_recall's twin
    // for the codes path): full-corpus ADC, and ADC restricted to the
    // probed IVF cells, both under the codebook STORED in the ensured
    // persisted index (no retraining — recall measures the index that
    // actually serves queries). On this neighborless noise corpus ADC
    // recall reflects quantization distortion alone; a clustered
    // corpus scores far higher (QuantizationSpec's clustered fixture).
    "pq_recall" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val idx = Quantization.pqIndexPathFor(dir)
      Quantization.ensurePqIndex(s, emb, idx, m = 4, k = 16, iters = 3,
        sourcePath = Some(s"$dir/embeddings.parquet"))
      val books = Quantization.loadBooks(s, idx)
      val exact = Similarity.cosineTopK(emb, queryId = 0L, k = 10)
        .select("vec_id")
      val adc = Quantization.pqTopK(emb, books, queryId = 0L, k = 10)
        .select("vec_id")
      val adcIvf = Quantization.pqTopKIvf(emb, books, queryId = 0L, k = 10)
        .select("vec_id")
      recallOf(exact, adc, 10, "recall_adc")
        .crossJoin(recallOf(exact, adcIvf, 10, "recall_adc_ivf"))
    }),

    "doc_winnow" -> ((s, dir) =>
      Dedup.winnowedFingerprints(T(s, dir, "documents"))),

    // Testdata embeddings are near-orthogonal (max pairwise cosine ≈0.4),
    // so the "near-dup" threshold here is set low to exercise the
    // bucketed-pair path; production near-dup would use ≥0.9.
    "embed_neardup_pairs" -> ((s, dir) => Similarity.nearDupPairs(
      T(s, dir, "embeddings"), threshold = 0.25, numPlanes = 4)),

    // Spherical k-means over the embedding corpus (4 Lloyd iterations
    // from the seeded IVF centroids): per-cluster size + mean cosine to
    // the fitted centroid. Iterative fit → no ANSI twin (rows-only);
    // ScalaTest pins partition-invariance and objective improvement.
    "kmeans_clusters" -> ((s, dir) =>
      Similarity.kmeansClusters(T(s, dir, "embeddings"), k = 8, iters = 4)),

    // Embedding-space outliers: cosine-to-own-centroid more than 2σ
    // below the cell mean (decimal-exact moments) — the curation screen
    // for mis-embedded/garbage rows, the far-from-everything complement
    // of semantic_dedup's too-close-to-something.
    "semantic_outliers" -> ((s, dir) =>
      Similarity.semanticOutliers(T(s, dir, "embeddings"), k = 8,
        iters = 4)),

    // The frozen-model form: centroids + per-cell moments fit ONCE on
    // the training half and persisted; the screened half gets verdicts
    // for every row against the frozen boundary — the streaming outlier
    // screen's exact semantics, so batch and stream flag identically.
    "semantic_outliers_indexed" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val path = Similarity.outlierIndexPathFor(dir)
      Similarity.ensureOutlierIndex(s, emb.filter(col("vec_id") < 450),
        path, sourcePath = Some(s"$dir/embeddings.parquet"))
      Similarity.outliersAgainstIndex(emb.filter(col("vec_id") >= 450),
        path)
    }),

    // SemDeDup composite: k-means cells bound the pair space, cosine ≥ t
    // edges connect into semantic groups, min vec_id per group survives.
    // Threshold is low for the near-orthogonal testdata (see
    // embed_neardup_pairs). k scales with the corpus (√N — a fixed k
    // would let cell populations, hence the within-cell pair space,
    // grow unboundedly); the KmeansSql oracle inlines k = 8, and
    // OracleAssumptionsSpec pins that the formula still resolves to 8
    // on every present testdata scale. The corpus count behind k is
    // memoized per (session, table) — one count job per session for
    // the whole semantic family, not one per query build.
    "semantic_dedup" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.semanticDedup(emb, threshold = 0.25,
        k = Similarity.scaledCellCount(tableCount(s, dir, "embeddings")),
        iters = 2)
    }),

    // Multi-assignment SemDeDup: vectors within eps of a cell boundary
    // also land in their 2nd-best cell, recovering near-dup pairs that
    // straddle it (single assignment's documented recall gap; boundary-
    // geometry ScalaTest in ExtSpec). The conditionality keeps the pair
    // space at (1+beta)^2 of single assignment (beta = boundary
    // fraction) — unconditional top-2 measures 4.0x (SemDedupDrill).
    "semantic_dedup_multi" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.semanticDedup(emb, threshold = 0.25,
        k = Similarity.scaledCellCount(tableCount(s, dir, "embeddings")),
        iters = 2, assignments = 2)
    }),

    // Incremental SemDeDup: odd-id vectors screened against a persisted
    // index of the even-id corpus — cell-pruned probe join, novel iff
    // no stored vector reaches the threshold. Rows-only (seeded
    // quantizer cells have no ANSI twin); ExtSpec pins the verdict
    // semantics on constructed geometry, PipelineSpec the streaming
    // admit-and-fold composition.
    "semantic_novel" -> ((s, dir) => {
      val idx = Similarity.ivfIndexPathFor(dir) + "-even"
      Similarity.ensureIvfIndex(s,
        T(s, dir, "embeddings").filter(col("vec_id") % 2 === 0), idx,
        sourcePath = Some(s"$dir/embeddings.parquet"))
      Similarity.semanticNovelAgainstIndex(
        T(s, dir, "embeddings").filter(col("vec_id") % 2 === 1), idx,
        threshold = 0.25)
    }),

    // ----------------------------------------------------------------
    // Statistical analytics (agg/Stats.scala): second-moment algebra
    // from exact decimal power sums — the warehouse stats toolkit the
    // reference's COUNT/AVG/SUM layer stops short of.
    // ----------------------------------------------------------------

    // Bivariate regression/correlation per return flag: corr, covar,
    // OLS slope/intercept of price on quantity, all from one hash
    // aggregate of five decimal power sums (built-in corr/covar_samp
    // are fold-order-dependent doubles — contract-breaking).
    "regression_stats" -> ((s, dir) => Stats.regressionStats(
      T(s, dir, "lineitem"), col("l_returnflag"),
      col("l_quantity"), col("l_extendedprice"))),

    // Trailing 7-row moving stats per user (ROWS frame): decimal
    // sliding sum so segment-tree vs re-scan window internals agree.
    "rolling_stats" -> ((s, dir) => Stats.rollingStats(
      T(s, dir, "events"), col("user_id"), col("event_id"), col("value"))),

    // Time-weighted average value per user-day: piecewise-constant
    // integral weighted by integer-ns forward intervals.
    "time_weighted_avg" -> ((s, dir) => Stats.timeWeightedAvg(
      T(s, dir, "events"), col("user_id"), col("ts"), col("ts_ns"),
      col("value"))),

    // Share-of-total revenue per order priority: the ratio_to_report
    // window over the aggregated frame (one row per group shuffles).
    "revenue_share" -> ((s, dir) => Stats.shareOfTotal(
      T(s, dir, "orders"), col("o_orderpriority"), col("o_totalprice"))),

    // Bigram LM fluency score per document (the KenLM-style perplexity
    // filter's 2-gram core): ln P(w2|w1) under the corpus MLE model.
    "bigram_logprob" -> ((s, dir) =>
      TextAnalysis.bigramLogProb(T(s, dir, "documents"))),

    // Cross-corpus LM scoring — CCNet-style perplexity filtering: the
    // bigram LM trains on a TRUSTED reference slice (id < 250) and
    // scores the rest under it; low scorers are out-of-distribution.
    // Add-1 smoothing over the reference vocab keeps unseen grams
    // finite (log(1/V) floor).
    "bigram_logprob_ref" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      TextAnalysis.bigramLogProbAgainst(
        docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250))
    }),

    // CCNet-style perplexity terciles: candidates scored under the
    // trusted-slice LM, each language cut head/middle/tail at exact
    // percentile THRESHOLDS (broadcast back, row-local assignment —
    // never a per-language global rank window).
    "ppl_buckets" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      TextAnalysis.perplexityBuckets(
        docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250))
    }),

    // C4-style blocklist gate: token-fraction screen against a
    // blocklist literal — row-local, scan-bound, the classic badwords
    // curation rule with a tolerance knob.
    "blocklist_gate" -> ((s, dir) =>
      TextAnalysis.blocklistGate(T(s, dir, "documents"),
        Seq("dup", "skew", "spill"), maxFraction = 0.05)),

    // DSIR-style importance weights — data SELECTION by hashed-ngram
    // likelihood RATIO (target slice vs the raw corpus itself): the
    // bucketed histograms ARE the model, so the oracle reproduces the
    // exact xxh64-chain + pmod bucketing, not word strings.
    "dsir_weights" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      TextAnalysis.dsirWeights(
        docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250))
    }),

    // The PERSISTED-model form: the target histogram lives as a
    // buckets-row index table (built once, source-stamped) and scoring
    // never rescans the target — row-identical to the in-frame form,
    // same oracle.
    "dsir_weights_indexed" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val idx = TextAnalysis.dsirIndexPathFor(dir)
      TextAnalysis.ensureDsirIndex(s, docs.filter(col("doc_id") < 250),
        idx, sourcePath = Some(s"$dir/documents.parquet"))
      TextAnalysis.dsirWeightsIndexed(s, idx,
        docs.filter(col("doc_id") >= 250))
    }),

    // Zipf rank-frequency slope over the top tokens: corpus-health
    // regression on ln(rank) vs ln(count).
    "zipf_slope" -> ((s, dir) =>
      TextAnalysis.zipfSlope(T(s, dir, "documents"), topK = 100)),

    // Mergeable-sketch rollup: per-lang HLL vocabulary sketches + the
    // ALL row as a sketch UNION (no corpus re-scan). The sketch estimate
    // itself isn't ANSI-expressible, so the oracle-checked output carries
    // the EXACT twin (which DuckDB recomputes) plus a tolerance flag
    // pinning the estimate to ≤2% relative error (lgK=12 HLL++ is ~1.6%
    // worst-case, exact in sparse mode at this vocab size) — a broken
    // sketch or union flips the flag and fails the hash compare.
    // StatsSpec still pins estimate error and union-equals-rescan.
    "hll_vocab_rollup" -> ((s, dir) =>
      TextAnalysis.vocabRollupChecked(T(s, dir, "documents"))),

    // Welch's t-test: click vs view event values — one conditional
    // hash aggregate, six decimal sums, single-row answer.
    "welch_ttest" -> ((s, dir) => Stats.welchTTest(
      T(s, dir, "events"), col("event_type"), col("value"),
      "click", "view")),

    // Chi-square independence of event type vs user decile: cell
    // counts in one aggregate, marginals via windows over the
    // 50-cell frame, decimal-summed contributions.
    "chi_square" -> ((s, dir) => Stats.chiSquare(
      T(s, dir, "events"), col("event_type"), pmod(col("user_id"), lit(10)))),

    // BM25 top-k retrieval (Lucene's idf form): the corpus token stream
    // is broadcast-filtered to the query terms before any shuffle, so
    // tf/df aggregate postings only — corpus-scan bound at 100 TB.
    "bm25_topk" -> ((s, dir) => Retrieval.bm25TopK(
      T(s, dir, "documents"), Seq("spark", "vector", "dup"), k = 10)),

    // BM25 over the PERSISTED inverted index: postings scan pruned to
    // the query terms' buckets (static partition filter), df derived
    // from the pruned postings. Same scoring tree as bm25_topk — same
    // rows, same oracle.
    "bm25_indexed" -> ((s, dir) => {
      val idx = Retrieval.bm25IndexPathFor(dir)
      Retrieval.ensureBm25Index(s, T(s, dir, "documents"), idx,
        sourcePath = Some(s"$dir/documents.parquet"))
      Retrieval.bm25Indexed(s, idx, Seq("spark", "vector", "dup"), k = 10)
    }),

    // Hybrid retrieval: RRF fusion of BM25 (sparse) and exact cosine
    // (dense) candidate lists over the aligned doc/embedding tables —
    // two one-scan generators, constant-sized fusion.
    "hybrid_topk" -> ((s, dir) => Retrieval.hybridTopK(
      T(s, dir, "documents"), T(s, dir, "embeddings"),
      Seq("spark", "vector", "dup"), queryVecId = 0L, k = 10)),

    // The deployment form: sparse candidates from the PERSISTED
    // inverted index (bucket-pruned postings). Row-identical to
    // hybrid_topk — shares its oracle, so a hash match certifies the
    // indexed path end to end (the bm25_indexed convention).
    "hybrid_topk_indexed" -> ((s, dir) => {
      val idx = Retrieval.bm25IndexPathFor(dir)
      Retrieval.ensureBm25Index(s, T(s, dir, "documents"), idx,
        sourcePath = Some(s"$dir/documents.parquet"))
      Retrieval.hybridTopKIndexed(s, idx, T(s, dir, "embeddings"),
        Seq("spark", "vector", "dup"), queryVecId = 0L, k = 10)
    }),

    // MMR-diversified top-k over the dense shortlist: the greedy
    // de-redundancy pass (λ_rel·rel − λ_div·maxSimToPicked), selection
    // driver-side over the bounded nCand²-pair matrix.
    "mmr_topk" -> ((s, dir) => Similarity.mmrTopK(
      T(s, dir, "embeddings"), queryId = 0L, k = 10, nCand = 30)),

    // Hashing-trick linear classifier inference (fasttext-style): md5-
    // derived deterministic weights, decimal per-doc mean, exact
    // decision boundary on the unrounded score.
    "quality_classifier" -> ((s, dir) =>
      Retrieval.linearQualityScore(T(s, dir, "documents"))),

    // Per-source KL divergence vs the corpus unigram distribution:
    // the training-mixture drift monitor; hash-keyed vocab shuffles.
    "domain_kl" -> ((s, dir) =>
      Retrieval.domainDivergence(T(s, dir, "documents"))),

    // Exact trailing-7-day distinct actives (DAU/WAU): sliding distinct
    // doesn't decompose — replicate each DISTINCT (day,user) pair to
    // its 7 target days, one count-distinct shuffle keyed by day.
    "rolling_distinct_users" -> ((s, dir) => Behavior.rollingDistinctUsers(
      T(s, dir, "events"), col("ts"), col("user_id"))),

    // The sketch path: per-day HLL sketches unioned over a trailing
    // RANGE frame — re-scan-free at any window length. Oracle-checked:
    // the exact rolling distinct (recomputed over the same
    // days-present row set, so the sketch's sparse-calendar semantics
    // are preserved) rides along, and the estimate is pinned to ≤5%
    // relative error (BehaviorSpec's bound, now hash-enforced).
    "rolling_distinct_hll" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      val est = Behavior.rollingDistinctUsersHll(ev, col("ts"), col("user_id"))
      if (!verifyExact) est.orderBy("day") // bench: production sketch plan
      else {
        val du = ev.select(to_date(col("ts")).as("d"), col("user_id").as("u"))
          .distinct()
        val exact = du.select(col("d").as("day")).distinct()
          .join(du, col("d").between(date_sub(col("day"), 6), col("day")))
          .groupBy("day")
          .agg(countDistinct(col("u")).as("exact_users_7d"))
          .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("exact_users_7d"))
        est.join(exact, Seq("day"))
          .select(col("day"), col("exact_users_7d"),
            (abs(col("est_users_7d") - col("exact_users_7d")) <=
              col("exact_users_7d") * 0.05).as("est_err_le_5pct"))
          .orderBy("day")
      }
    }),

    // Intra-doc repeated-span removal (Gopher/C4-style scrub): greedy
    // one-pass skip of n-grams already seen in the same document.
    // Compiled mapPartitions, zero shuffle; sequential semantics are
    // not ANSI-expressible → rows-only (ExtSpec pins hand fixtures).
    "span_dedup" -> ((s, dir) =>
      TextAnalysis.dropRepeatedSpans(T(s, dir, "documents"))),

    // BPE merge learning on the word histogram (one corpus scan; 16
    // vocabulary-frame iterations, 1 argmax row each to the driver).
    // Iterative argmax has no ANSI twin → rows-only; VocabSpec pins
    // the merges against an independent reference implementation.
    "bpe_merges" -> ((s, dir) =>
      Vocab.learnBpeMerges(T(s, dir, "documents"), 16)),

    // Token accounting under the learned merges: segmentation runs per
    // DISTINCT word, documents join back on the word key. Rows-only
    // (VocabSpec pins zero-merge = chars, bounds, and a reference
    // segmentation).
    "bpe_encode" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Vocab.bpeTokenCounts(docs,
        Vocab.learnedMerges(Vocab.learnBpeMerges(docs, 16)))
    }),

    // Declarative data-quality audit: every same-table predicate fuses
    // into one scan; FK edges are key-only anti-joins; the report is a
    // union of 1-row frames.
    "dq_audit" -> ((s, dir) => warehouse.DataQuality.audit(
      T(s, dir, "orders"), T(s, dir, "lineitem"),
      T(s, dir, "customer"), T(s, dir, "events"))),

    // Bounded EWMA smoothing of purchase values per user: a fixed lag-
    // chain expression over one window shuffle — the deterministic form
    // of the non-associative EWMA recursion. ts is µs-truncated (the
    // oracle's TIMESTAMP resolution); event_id tiebreaks within a µs.
    "ewma_smooth" -> ((s, dir) => Stats.ewmaSmooth(
        T(s, dir, "events").filter(col("event_type") === "purchase"),
        col("user_id"), col("ts_ns") - pmod(col("ts_ns"), lit(1000L)),
        col("event_id"), col("value"))
      .select(col("k").as("user_id"), col("o").as("ts_ns"),
        col("tb").as("event_id"), col("value"), col("ewma"))),

    // Deterministic fixed-size uniform sample: bottom-k by key digest.
    // TakeOrdered plan — k rows per partition to the driver merge, no
    // shuffle at any scale; reproducible across engines and runs.
    "bottomk_sample" -> ((s, dir) => Sampling.bottomKSample(
        T(s, dir, "documents").select("doc_id", "lang", "source"),
        col("doc_id"), k = 100)),

    // Point-in-time state reconstruction (the time-travel read over an
    // event log): each user's latest event at the as-of instant via one
    // window top-1 — the SCD-2 "state as of T" query.
    "state_asof" -> ((s, dir) => {
      val asofUs = 1705276800000000L // 2024-01-15 00:00:00 UTC
      val w = Window.partitionBy("user_id")
        .orderBy(col("tu").desc, col("event_id").desc)
      T(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), expr("ts_ns div 1000").as("tu"))
        .filter(col("tu") <= asofUs)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_event_type"),
          round(col("value"), 4).as("last_value"),
          col("tu").as("ts_us"))
        .orderBy("user_id")
    }),

    // PageRank centrality over the embedding near-dup graph: the
    // principled keep-choice inside duplicate clusters (most-connected
    // copy wins, not min-id). Fixed iterations, decimal rank mass —
    // rows-only (LSH bucketing upstream isn't ANSI-expressible);
    // GraphSpec pins hand-computed ranks.
    "doc_centrality" -> ((s, dir) => graft.ext.Graph.topCentralDocs(
      Similarity.nearDupPairs(T(s, dir, "embeddings"), threshold = 0.25,
        numPlanes = 4),
      k = 20)),

    // CDC MERGE: keep-latest upserts + DELETE ops in one window pass;
    // replay-safe (version order decides, not arrival order). Post-
    // cutoff 'error' events act as deletes of that user's state row.
    "cdc_merge" -> ((s, dir) => {
      val ev = T(s, dir, "events").select(col("user_id"),
        col("event_type"), col("value"),
        unix_micros(col("ts")).as("tu"), col("event_id"))
      val cut = 1705276800000000L // 2024-01-15 00:00:00 UTC
      val state = warehouse.Warehouse.keepLatest(
        ev.filter(col("tu") <= cut), Seq("user_id"), "tu", "event_id")
      val changes = ev.filter(col("tu") > cut)
        .withColumn("op", when(col("event_type") === "error", lit("D"))
          .otherwise(lit("U")))
      warehouse.Warehouse.applyCdc(state, changes, Seq("user_id"),
          "tu", "event_id")
        .select("user_id", "event_type", "value", "tu")
        .orderBy("user_id")
    }),

    // Deterministic negative sampling (contrastive training): per
    // anchor, the k broadcast-pool members with the smallest pair
    // digest — reproducible negatives, |anchors|×|pool| pair frame.
    "negative_samples" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Sampling.negativeSamples(docs, col("doc_id"),
        docs.filter(col("doc_id") % 50 === 0), col("doc_id"), k = 3)
    }),

    // Distribution-position window functions (percent_rank, cume_dist,
    // first/nth value) over supplier balances within nation — completes
    // the window-function inventory.
    "window_funcs_extra" -> ((s, dir) => {
      val w = Window.partitionBy("s_nationkey")
        .orderBy(col("s_acctbal").desc, col("s_suppkey"))
      T(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"),
          round(col("s_acctbal"), 2).as("acctbal"),
          round(percent_rank().over(w), 4).as("pct_rank"),
          round(cume_dist().over(w), 4).as("cume"),
          first(col("s_suppkey")).over(w).as("top_supp"),
          nth_value(col("s_suppkey"), 2).over(w).as("second_supp"))
        .orderBy(col("s_nationkey"), col("pct_rank"), col("s_suppkey"))
    })
  )

  /** DuckDB-runnable ANSI SQL twins of [[queries]] (same parquet tables,
    * same column names/types, same ordering). Omitted keys get the
    * driver's weaker rows-only check.
    */
  def oracleSql: Map[String, String] = {
    val moneySum = "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)"
    val nTokens = "LEN(string_split_regex(TRIM(text), '\\s+'))"
    val alphaLen = "LENGTH(REGEXP_REPLACE(text, '[^A-Za-z]', '', 'g'))"
    val noSpaceLen = "LENGTH(REGEXP_REPLACE(text, '\\s', '', 'g'))"
    val normText =
      "TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
    // Synthetic-line CTEs (the SQL twin of syntheticLines at width `w`)
    // and the normalized-occurrence CTE — ONE copy for the line-family
    // oracles, so a chunk-width or normalization change cannot
    // desynchronize them.
    def lineCtesW(w: Int) =
      s"""d AS (SELECT doc_id, string_split_regex(TRIM(text), '${"\\s+"}') AS toks FROM documents),
        |s AS (SELECT doc_id, [array_to_string(toks[i*$w+1:i*$w+$w], ' ')
        |                     for i in range(0, CAST(CEIL(len(toks)/$w.0) AS BIGINT))] AS lines FROM d),
        |occ AS (SELECT doc_id, UNNEST(range(1, len(lines) + 1)) AS pos, UNNEST(lines) AS line FROM s),
        |p AS (SELECT doc_id, pos, LOWER(TRIM(line)) AS k FROM occ WHERE TRIM(line) <> '')"""
        .stripMargin
    val lineCtes = lineCtesW(3)
    // The Gopher doc-quality battery as reusable CTEs over any (doc_id,
    // text) source — the SQL twin of TextAnalysis.gopherSignals +
    // gopherGateOver at the composites' registered thresholds (word
    // floor 25, stopword floor 1, the published rest). ONE copy feeds
    // the batch composite, the incremental composite, AND the
    // standalone gopher_quality stats oracle (which rounds `grat`'s raw
    // ratios), so a battery-rule tweak cannot desynchronize them.
    def gopherGateCtes(src: String, minWords: Int = 25,
                       minStop: Int = 1): String = {
      val stopCases = ext.TextAnalysis.GopherStopwords.map(w =>
        s"CASE WHEN regexp_matches(LOWER(text), '\\b$w\\b') THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""gsig AS (SELECT doc_id,
         |  list_filter(string_split_regex(TRIM(text), '${"\\s+"}'), t -> t <> '') AS gtoks,
         |  list_filter(list_transform(string_split(text, chr(10)), l -> TRIM(l)), l -> l <> '') AS glns,
         |  ($stopCases) AS gstop, text AS gtext
         |  FROM $src),
         |gcalc AS (SELECT doc_id, gstop,
         |  CAST(len(gtoks) AS BIGINT) AS gn,
         |  CAST(COALESCE(list_sum(list_transform(gtoks, t -> LENGTH(t))), 0) AS BIGINT) AS gchars,
         |  (LENGTH(gtext) - LENGTH(REPLACE(gtext, '#', ''))) / 1
         |    + (LENGTH(gtext) - LENGTH(REPLACE(gtext, '…', ''))) / 1
         |    + (LENGTH(gtext) - LENGTH(REPLACE(gtext, '...', ''))) / 3 AS gsym,
         |  len(glns) AS gnl,
         |  len(list_filter(glns, l -> starts_with(l, '•') OR starts_with(l, '‣') OR starts_with(l, '▪') OR starts_with(l, '- ') OR starts_with(l, '* '))) AS gbul,
         |  len(list_filter(glns, l -> ends_with(l, '…') OR ends_with(l, '...'))) AS gell,
         |  len(list_filter(gtoks, t -> regexp_matches(t, '[A-Za-z]'))) AS galpha
         |  FROM gsig),
         |grat AS (SELECT doc_id, gn, gstop,
         |  CASE WHEN gn > 0 THEN gchars / gn ELSE 0.0 END AS gml,
         |  CASE WHEN gn > 0 THEN gsym / gn ELSE 0.0 END AS gsr,
         |  CASE WHEN gnl > 0 THEN gbul / CAST(gnl AS DOUBLE) ELSE 0.0 END AS gbf,
         |  CASE WHEN gnl > 0 THEN gell / CAST(gnl AS DOUBLE) ELSE 0.0 END AS gef,
         |  CASE WHEN gn > 0 THEN galpha / CAST(gn AS DOUBLE) ELSE 0.0 END AS gaf
         |  FROM gcalc),
         |gq AS (SELECT doc_id,
         |  (gn >= $minWords AND gn <= 100000
         |   AND gml >= 3.0 AND gml <= 10.0 AND gsr <= 0.1
         |   AND gbf <= 0.90 AND gef <= 0.30 AND gaf >= 0.80
         |   AND gstop >= $minStop) AS gopher_ok
         |  FROM grat)""".stripMargin
    }
    // 8-bucket digest-prefix CASE over a `dg` md5 column — the SQL twin
    // of Sampling.digestBucket at n = 8, shared by the shuffle/manifest
    // oracles (same hexThreshold literals as the engine plan).
    val shard8Case = "CASE " + (1 to 7).map(i =>
      s"WHEN substr(dg, 1, 8) < '${ext.Sampling.hexThreshold(i / 8.0)}'" +
        s" THEN ${i - 1}").mkString(" ") + " ELSE 7 END"
    val base = unique(
      "trip_stats" ->
        s"""SELECT COUNT(*) AS total_trips, $moneySum / COUNT(*) AS avg_fare, $moneySum AS total_revenue, MIN(value) AS min_fare, MAX(value) AS max_fare FROM events WHERE ts BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00'""",
      "vendor_comparison" ->
        s"""SELECT user_id AS vendor_id, COUNT(*) AS total_trips, $moneySum / COUNT(*) AS avg_fare, $moneySum AS total_revenue FROM events GROUP BY user_id ORDER BY vendor_id""",
      "date_bounds" ->
        "SELECT strftime(MIN(ts), '%Y-%m-%d') AS min_date, strftime(MAX(ts), '%Y-%m-%d') AS max_date, CAST(FLOOR(EPOCH(MIN(ts))) AS BIGINT) AS min_ts_sec, CAST(FLOOR(EPOCH(MAX(ts))) AS BIGINT) AS max_ts_sec FROM events",
      "hourly_stats" ->
        s"""SELECT strftime(ts, '%Y-%m-%d') AS analysis_date, CAST(HOUR(ts) AS INTEGER) AS hour_of_day, COUNT(*) AS trip_count, $moneySum / COUNT(*) AS avg_fare, $moneySum AS total_revenue FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
      "vendor_daily" ->
        s"""SELECT user_id AS vendor_id, strftime(ts, '%Y-%m-%d') AS analysis_date, COUNT(*) AS total_trips, $moneySum / COUNT(*) AS avg_fare, $moneySum AS total_revenue FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
      "category_counts" ->
        ("SELECT " + Seq(
          "event_type = 'click'" -> "click_trips",
          "event_type = 'view'" -> "view_trips",
          "event_type = 'purchase'" -> "purchase_trips",
          "event_type = 'signup'" -> "signup_trips",
          "event_type = 'error'" -> "error_trips",
          "value <= 20" -> "short_trips",
          "value > 20 AND value <= 100" -> "medium_trips",
          "value > 100" -> "long_trips").map { case (cond, name) =>
            s"CAST(SUM(CASE WHEN $cond THEN 1 ELSE 0 END) AS BIGINT) AS $name"
          }.mkString(", ") + " FROM events"),
      "json_kv" ->
        "SELECT event_id, CAST(json_extract(props, '$.k') AS INTEGER) AS k FROM events ORDER BY event_id",
      "derived_trip_columns" ->
        "SELECT event_id, CAST(HOUR(ts) AS INTEGER) AS pickup_hour, CASE WHEN value <= 20 THEN 'short' WHEN value <= 100 THEN 'medium' ELSE 'long' END AS trip_category, ROUND(CASE WHEN value > 0 THEN CAST(json_extract(props, '$.k') AS INTEGER) / value * 100.0 ELSE 0.0 END, 4) AS tip_pct FROM events ORDER BY event_id",
      "trip_speed" ->
        "SELECT event_id, CASE WHEN CAST(json_extract(props, '$.k') AS DOUBLE) > 0 AND value > 0 THEN value / (CAST(json_extract(props, '$.k') AS DOUBLE) / 60.0) ELSE 0.0 END AS speed_mph FROM events ORDER BY event_id",
      "valid_filter" ->
        s"""SELECT COUNT(*) AS valid_events, $moneySum AS valid_revenue FROM events WHERE value > 0 AND value < 300 AND event_type <> 'error'""",
      "dynamic_range" ->
        s"""SELECT COUNT(*) AS n_events, $moneySum / COUNT(*) AS avg_value FROM events WHERE ts >= TIMESTAMP '2024-01-15 12:00:00'""",
      "partition_keys" ->
        "SELECT COALESCE(CAST(user_id % 100 AS VARCHAR), '0') AS part_key, COUNT(*) AS n_events FROM events GROUP BY 1 ORDER BY 1",
      "top_events" ->
        "SELECT event_id, user_id, value FROM events ORDER BY value DESC, event_id LIMIT 100",
      "q1_agg" ->
        ("SELECT l_returnflag, l_linestatus, " +
          "CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty, " +
          "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price, " +
          "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price, " +
          "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge, " +
          "CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_qty, " +
          "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_price, " +
          "CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_disc, " +
          "COUNT(*) AS count_order FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-12-01 00:00:00' " +
          "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
      "star_revenue" ->
        "SELECT c_mktsegment, COUNT(*) AS n_lineitems, CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment ORDER BY c_mktsegment",
      "q3_topk" ->
        "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate, CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey WHERE l_shipdate > TIMESTAMP '1997-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00' AND c_mktsegment = 'BUILDING' GROUP BY 1, 2 ORDER BY revenue DESC, o_orderkey LIMIT 10",
      "q5_region_revenue" ->
        """SELECT n_name, COUNT(*) AS n_lineitems,
          |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
          |FROM customer
          |JOIN orders ON c_custkey = o_custkey
          |JOIN lineitem ON l_orderkey = o_orderkey
          |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          |JOIN nation ON s_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |WHERE r_name = 'ASIA'
          |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
      "correlated_subquery" ->
        """SELECT c_custkey, COUNT(*) AS n_above
          |FROM orders o JOIN customer ON o.o_custkey = c_custkey
          |WHERE o.o_totalprice > (
          |  SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
          |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
          |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
      "q18_big_orders" ->
        """SELECT c_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate, total_qty
          |FROM orders
          |JOIN (SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty
          |      FROM lineitem GROUP BY l_orderkey HAVING total_qty > 150) t
          |  ON o_orderkey = l_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |ORDER BY total_qty DESC, o_orderkey LIMIT 20""".stripMargin,
      "region_customers" ->
        "SELECT r_name, COUNT(*) AS n_customers, CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_acctbal FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey GROUP BY r_name ORDER BY r_name",
      "left_join_counts" ->
        "SELECT n_orders, COUNT(*) AS n_customers FROM (SELECT c_custkey, COUNT(o_orderkey) AS n_orders FROM customer LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey) t GROUP BY n_orders ORDER BY n_orders",
      "string_funcs" ->
        "SELECT CONCAT(UPPER(SUBSTRING(p_brand, 1, 5)), '-', CAST(p_size AS VARCHAR)) AS brand_size, COUNT(*) AS n_parts, MIN(p_partkey) AS first_part FROM part WHERE p_type LIKE 'S%' GROUP BY 1 ORDER BY 1",
      "semi_join" ->
        "SELECT COUNT(*) AS customers_with_orders FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)",
      "anti_join" ->
        "SELECT COUNT(*) AS customers_without_orders FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)",
      "distinct_counts" ->
        "SELECT COUNT(DISTINCT user_id) AS distinct_users, COUNT(DISTINCT event_type) AS distinct_types FROM events",
      "distinct_counts_salted" ->
        "SELECT event_type, COUNT(DISTINCT user_id) AS distinct_users FROM events GROUP BY event_type ORDER BY event_type",
      "window_topk" ->
        "SELECT event_type, CAST(rn AS INTEGER) AS rn, event_id, value FROM (SELECT event_type, event_id, value, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn FROM events) t WHERE rn <= 3 ORDER BY event_type, rn",
      "running_total" ->
        "SELECT event_id, user_id, ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_revenue FROM events ORDER BY event_id",
      "ntile_quartiles" ->
        "SELECT event_type, CAST(q AS INTEGER) AS q, COUNT(*) AS n, ROUND(MIN(value), 4) AS min_v, ROUND(MAX(value), 4) AS max_v FROM (SELECT event_type, value, NTILE(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS q FROM events) t GROUP BY event_type, q ORDER BY event_type, q",
      "rank_buckets" ->
        "SELECT event_type, bucket, CAST(MIN(rnk) AS INTEGER) AS rnk, CAST(MIN(drnk) AS INTEGER) AS drnk, COUNT(*) AS n FROM (SELECT event_type, CAST(FLOOR(value / 50) AS BIGINT) AS bucket, RANK() OVER (PARTITION BY event_type ORDER BY CAST(FLOOR(value / 50) AS BIGINT) DESC) AS rnk, DENSE_RANK() OVER (PARTITION BY event_type ORDER BY CAST(FLOOR(value / 50) AS BIGINT) DESC) AS drnk FROM events) t GROUP BY event_type, bucket ORDER BY event_type, bucket",
      "topk_values_agg" ->
        """SELECT event_type,
          |       array_to_string(list_transform(
          |         (array_agg(value ORDER BY value DESC))[1:5],
          |         v -> CAST(ROUND(v, 4) AS VARCHAR)), ',') AS top_values
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      "above_nation_avg" ->
        "SELECT c_nationkey, COUNT(*) AS n_above, CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_above FROM (SELECT c_nationkey, c_acctbal, CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) OVER (PARTITION BY c_nationkey) AS DOUBLE) / COUNT(*) OVER (PARTITION BY c_nationkey) AS nation_avg FROM customer) t WHERE c_acctbal > nation_avg GROUP BY c_nationkey ORDER BY c_nationkey",
      "union_daily" ->
        "SELECT strftime(ts, '%Y-%m-%d') AS d, event_type, COUNT(*) AS n FROM events WHERE event_type = 'click' GROUP BY 1, 2 UNION ALL SELECT strftime(ts, '%Y-%m-%d') AS d, event_type, COUNT(*) AS n FROM events WHERE event_type = 'purchase' GROUP BY 1, 2 ORDER BY d, event_type",
      "rollup_daily" ->
        s"""SELECT event_type, strftime(ts, '%Y-%m-%d') AS d, COUNT(*) AS n, $moneySum AS revenue FROM events GROUP BY ROLLUP(event_type, d) ORDER BY event_type ASC NULLS FIRST, d ASC NULLS FIRST""",
      "pivot_user_type" ->
        ("SELECT user_id, " + Seq("click", "view", "purchase", "signup", "error")
          .map(t => s"COUNT(CASE WHEN event_type = '$t' THEN 1 END) AS $t")
          .mkString(", ") + " FROM events GROUP BY user_id ORDER BY user_id"),
      "asof_join" ->
        """WITH u AS (
          |  SELECT user_id, epoch_us(ts) AS tu, 1 AS side, event_id,
          |         NULL::BIGINT AS p_us, NULL::BIGINT AS p_eid, NULL::DOUBLE AS p_val
          |  FROM events WHERE event_type = 'click'
          |  UNION ALL
          |  SELECT user_id, epoch_us(ts), 0, event_id,
          |         epoch_us(ts), event_id, value
          |  FROM events WHERE event_type = 'purchase'),
          |w AS (
          |  SELECT *,
          |    LAST_VALUE(p_us IGNORE NULLS) OVER win AS a_us,
          |    LAST_VALUE(p_eid IGNORE NULLS) OVER win AS a_eid,
          |    LAST_VALUE(p_val IGNORE NULLS) OVER win AS a_val
          |  FROM u
          |  WINDOW win AS (PARTITION BY user_id ORDER BY tu, side, event_id
          |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
          |SELECT event_id, user_id, tu AS click_us, a_us AS purchase_us,
          |       a_eid AS purchase_event_id, a_val AS purchase_value
          |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin,
      "asof_join_forward" ->
        """WITH u AS (
          |  SELECT user_id, epoch_us(ts) AS tu, 1 AS side, event_id,
          |         NULL::BIGINT AS p_us, NULL::BIGINT AS p_eid, NULL::DOUBLE AS p_val
          |  FROM events WHERE event_type = 'click'
          |  UNION ALL
          |  SELECT user_id, epoch_us(ts), 0, event_id,
          |         epoch_us(ts), event_id, value
          |  FROM events WHERE event_type = 'purchase'),
          |w AS (
          |  SELECT *,
          |    LAST_VALUE(p_us IGNORE NULLS) OVER win AS a_us,
          |    LAST_VALUE(p_eid IGNORE NULLS) OVER win AS a_eid,
          |    LAST_VALUE(p_val IGNORE NULLS) OVER win AS a_val
          |  FROM u
          |  WINDOW win AS (PARTITION BY user_id ORDER BY tu DESC, side, event_id DESC
          |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
          |SELECT event_id, user_id, tu AS click_us, a_us AS next_purchase_us,
          |       a_eid AS next_purchase_event_id, a_val AS next_purchase_value
          |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin,
      "sessionize_batch" ->
        """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS tu FROM events),
          |f AS (SELECT user_id, event_id, tu,
          |        CASE WHEN LAG(tu) OVER w IS NULL OR tu - LAG(tu) OVER w > 1800000000
          |             THEN 1 ELSE 0 END AS new_s
          |      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)),
          |s AS (SELECT user_id, tu,
          |        SUM(new_s) OVER (PARTITION BY user_id ORDER BY tu, event_id
          |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          |      FROM f)
          |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
          |       MIN(tu) AS session_start_us, MAX(tu) AS session_end_us,
          |       COUNT(*) AS n_events
          |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
      "tolerance_pairs" ->
        """SELECT COUNT(*) AS n_pairs,
          |       CAST(SUM(ABS(epoch_us(a.ts) - epoch_us(b.ts))) AS BIGINT) AS sum_gap_us
          |FROM events a, events b
          |WHERE a.event_type = 'purchase' AND b.event_type = 'signup'
          |  AND ABS(epoch_us(a.ts) - epoch_us(b.ts)) <= 60000000""".stripMargin,
      "range_join_counts" ->
        """SELECT o_orderkey, COUNT(*) AS n_shipped,
          |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty_sum
          |FROM orders o JOIN lineitem l
          |  ON epoch_us(l.l_shipdate) >= epoch_us(o.o_orderdate)
          | AND epoch_us(l.l_shipdate) <= epoch_us(o.o_orderdate) + 259200000000
          |WHERE o.o_totalprice > 490000
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      "clicks_before_purchase" ->
        """SELECT event_id, user_id, clicks_1h FROM (
          |  SELECT event_id, user_id, event_type,
          |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
          |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
          |            RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS clicks_1h
          |  FROM events) t
          |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
      "funnel_steps" ->
        """WITH ev AS (SELECT user_id AS u, event_type AS et, epoch_us(ts) AS tu FROM events),
          |s1 AS (SELECT u, MIN(tu) AS t0 FROM ev WHERE et = 'view' GROUP BY u),
          |s2 AS (SELECT ev.u AS u, MIN(tu) AS t1 FROM ev JOIN s1 ON ev.u = s1.u
          |       WHERE et = 'click' AND tu > t0 GROUP BY ev.u),
          |s3 AS (SELECT ev.u AS u, MIN(tu) AS t2 FROM ev JOIN s2 ON ev.u = s2.u
          |       WHERE et = 'purchase' AND tu > t1 GROUP BY ev.u)
          |SELECT 1 AS stage, 'view' AS stage_name, (SELECT COUNT(*) FROM s1) AS n_users
          |UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
          |UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)
          |ORDER BY stage""".stripMargin,
      "cohort_retention" ->
        """WITH ev AS (SELECT user_id AS u, epoch_us(ts) // 604800000000 AS wk FROM events),
          |c AS (SELECT u, wk, MIN(wk) OVER (PARTITION BY u) AS cohort_wk FROM ev)
          |SELECT cohort_wk, wk - cohort_wk AS week_offset,
          |       COUNT(DISTINCT u) AS n_active
          |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "event_transitions" ->
        """WITH l AS (SELECT event_type AS et,
          |    LEAD(event_type) OVER (PARTITION BY user_id
          |      ORDER BY epoch_us(ts), event_id) AS next_et FROM events)
          |SELECT et AS from_type, next_et AS to_type, COUNT(*) AS n
          |FROM l WHERE next_et IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "winsorized_price" ->
        """WITH v AS (SELECT l_extendedprice AS v FROM lineitem),
          |b AS (SELECT quantile_cont(v, 0.01) AS lo, quantile_cont(v, 0.99) AS hi FROM v),
          |c AS (SELECT LEAST(GREATEST(v.v, b.lo), b.hi) AS cv FROM v, b)
          |SELECT COUNT(*) AS n,
          |  CAST(SUM(CAST(cv AS DECIMAL(18,6))) AS DOUBLE) AS w_sum,
          |  CAST(SUM(CAST(cv AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS w_avg,
          |  MIN(cv) AS w_min, MAX(cv) AS w_max FROM c""".stripMargin,
      "profile_columns" ->
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map { c =>
          s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows, COUNT($c) AS n_nonnull,
             |  COUNT(DISTINCT $c) AS n_distinct,
             |  CAST(MIN($c) AS DOUBLE) AS min_v, CAST(MAX($c) AS DOUBLE) AS max_v,
             |  CAST(SUM(CAST($c AS DECIMAL(18,6))) AS DOUBLE) AS sum_v
             |FROM lineitem""".stripMargin
        }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),
      "outlier_zscore" ->
        """WITH st AS (
          |  SELECT event_type AS g, COUNT(value) AS n,
          |    SUM(CAST(value AS DECIMAL(18,6))) AS s,
          |    SUM(CAST(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)) AS DECIMAL(38,12))) AS s2
          |  FROM events GROUP BY 1),
          |en AS (
          |  SELECT g, n, CAST(s AS DOUBLE) / n AS mean_v,
          |    SQRT((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1)) AS sd_v
          |  FROM st)
          |SELECT en.g AS g, en.n AS n, COUNT(*) AS n_outliers
          |FROM events e JOIN en ON e.event_type = en.g
          |WHERE ABS(e.value - en.mean_v) > 2.5 * en.sd_v
          |GROUP BY 1, 2 ORDER BY g""".stripMargin,
      "event_runs" ->
        """WITH ev AS (SELECT user_id AS u, event_type AS et, epoch_us(ts) AS tu,
          |                   event_id AS tb FROM events WHERE user_id < 50),
          |c AS (SELECT *, CASE WHEN LAG(et) OVER w IS NULL
          |                       OR LAG(et) OVER w <> et THEN 1 ELSE 0 END AS chg
          |      FROM ev WINDOW w AS (PARTITION BY u ORDER BY tu, tb)),
          |r AS (SELECT *, CAST(SUM(chg) OVER (PARTITION BY u ORDER BY tu, tb
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id FROM c)
          |SELECT u, run_id, MIN(et) AS et, MIN(tu) AS valid_from,
          |       MAX(tu) AS valid_to, COUNT(*) AS n_events
          |FROM r GROUP BY u, run_id ORDER BY u, run_id""".stripMargin,
      "gap_fill_daily" ->
        """WITH b AS (SELECT CAST(MIN(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS lo,
          |                  CAST(MAX(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS hi FROM orders),
          |d AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d FROM b),
          |ks AS (SELECT DISTINCT o_orderpriority AS k FROM orders),
          |c AS (SELECT o_orderpriority AS k, CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n
          |      FROM orders GROUP BY 1, 2)
          |SELECT g.k AS k, strftime(g.d, '%Y-%m-%d') AS day, COALESCE(c.n, 0) AS n
          |FROM (SELECT ks.k, d.d FROM ks, d) g
          |LEFT JOIN c ON c.k = g.k AND c.d = g.d
          |ORDER BY k, day""".stripMargin,
      "item_pairs" ->
        """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
          |freq AS (SELECT i FROM items GROUP BY i HAVING COUNT(*) >= 3),
          |pruned AS (SELECT * FROM items WHERE i IN (SELECT i FROM freq))
          |SELECT a.i AS i1, c.i AS i2, COUNT(*) AS n_baskets
          |FROM pruned a JOIN pruned c ON a.b = c.b AND a.i < c.i
          |GROUP BY 1, 2 ORDER BY n_baskets DESC, i1, i2 LIMIT 50""".stripMargin,
      "fuzzy_match" ->
        """SELECT c1.c_nationkey AS blk, c1.c_custkey AS id1, c2.c_custkey AS id2,
          |       CAST(levenshtein(c1.c_name, c2.c_name) AS INTEGER) AS dist
          |FROM customer c1 JOIN customer c2
          |  ON c1.c_nationkey = c2.c_nationkey AND c1.c_custkey < c2.c_custkey
          |WHERE levenshtein(c1.c_name, c2.c_name) <= 2
          |ORDER BY blk, id1, id2""".stripMargin,
      "per_group_sample" ->
        """SELECT doc_id, lang FROM (
          |  SELECT doc_id, lang,
          |         ROW_NUMBER() OVER (PARTITION BY lang
          |           ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          |  FROM documents) t
          |WHERE rn <= 20 ORDER BY doc_id""".stripMargin,
      "kfold_split" -> {
        val cases = (1 until 5).map { i =>
          s"WHEN SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 8) < '${Sampling.hexThreshold(i / 5.0)}' THEN ${i - 1}"
        }.mkString(" ")
        s"""SELECT lang, CASE $cases ELSE 4 END AS fold, COUNT(*) AS n_docs
           |FROM documents GROUP BY 1, 2 ORDER BY lang, fold""".stripMargin
      },
      "latest_state" ->
        """SELECT user_id, event_type, value, tu FROM (
          |  SELECT user_id, event_type, value, epoch_us(ts) AS tu,
          |         ROW_NUMBER() OVER (PARTITION BY user_id
          |           ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
          |  FROM events) t
          |WHERE rn = 1 ORDER BY user_id""".stripMargin,
      "incremental_agg" ->
        """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n,
          |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS revenue
          |FROM events GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin,
      "cube_daily" ->
        s"""SELECT event_type, strftime(ts, '%Y-%m-%d') AS d, COUNT(*) AS n, $moneySum AS revenue FROM events GROUP BY CUBE(event_type, d) ORDER BY event_type ASC NULLS FIRST, d ASC NULLS FIRST""",
      "grouping_sets" ->
        s"""SELECT user_id % 10 AS user_bucket, event_type, COUNT(*) AS n, $moneySum AS revenue FROM events GROUP BY GROUPING SETS ((user_bucket, event_type), (user_bucket), ()) ORDER BY user_bucket ASC NULLS FIRST, event_type ASC NULLS FIRST""",
      "set_ops_users" ->
        """SELECT user_id, 'click_and_purchase' AS set_op FROM (
          |  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
          |  INTERSECT
          |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
          |UNION ALL
          |SELECT user_id, 'click_only' FROM (
          |  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
          |  EXCEPT
          |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
          |ORDER BY set_op, user_id""".stripMargin,
      "value_percentiles" ->
        "SELECT event_type, ROUND(quantile_cont(value, 0.25), 4) AS p25, ROUND(quantile_cont(value, 0.5), 4) AS p50, ROUND(quantile_cont(value, 0.9), 4) AS p90, ROUND(quantile_cont(value, 0.99), 4) AS p99 FROM events GROUP BY event_type ORDER BY event_type",
      "ship_latency" ->
        "SELECT o_orderpriority, COUNT(*) AS n_lineitems, ROUND(AVG(FLOOR((EPOCH(l_shipdate) - EPOCH(o_orderdate)) / 86400.0)), 4) AS avg_latency_days FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY o_orderpriority ORDER BY o_orderpriority",
      "user_type_sets" ->
        "SELECT user_id, array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types, COUNT(*) AS n_events FROM events GROUP BY user_id ORDER BY user_id",
      "lag_delta" ->
        "SELECT event_id, user_id, ROUND(value - LAG(value, 1) OVER (PARTITION BY user_id ORDER BY event_id), 4) AS delta FROM events ORDER BY event_id",
      "value_moments" ->
        ("SELECT event_type, COUNT(*) AS n, " +
          "ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4) AS mean_value, " +
          "ROUND((CAST(SUM(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE) - POW(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) / COUNT(*)) / (COUNT(*) - 1), 4) AS var_value, " +
          "ROUND(SQRT((CAST(SUM(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE) - POW(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) / COUNT(*)) / (COUNT(*) - 1)), 4) AS stddev_value " +
          "FROM events GROUP BY event_type ORDER BY event_type"),
      "priority_extract" ->
        "SELECT CAST(regexp_extract(o_orderpriority, '^(\\d+)', 1) AS INTEGER) AS priority, COUNT(*) AS n_orders, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price FROM orders GROUP BY 1 ORDER BY 1",
      "top_tokens" ->
        """SELECT token, COUNT(*) AS n FROM (
          |  SELECT UNNEST(string_split_regex(TRIM(text), '\s+')) AS token
          |  FROM documents) t
          |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,
      "props_map" ->
        """SELECT key, COUNT(*) AS n,
          |       CAST(SUM(CAST(json_extract(props, '$.' || key) AS INTEGER)) AS BIGINT) AS sum_v
          |FROM (SELECT props, UNNEST(json_keys(props)) AS key FROM events) t
          |GROUP BY key ORDER BY key""".stripMargin,
      "contamination" ->
        """WITH g AS (
          |  SELECT doc_id, UNNEST([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]) AS sh
          |  FROM (SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS toks FROM documents)),
          |ev AS (SELECT DISTINCT doc_id AS eval_id, sh FROM g WHERE doc_id < 50),
          |tr AS (SELECT DISTINCT doc_id AS train_id, sh FROM g WHERE doc_id >= 50),
          |rare AS (SELECT sh FROM tr GROUP BY sh HAVING COUNT(*) <= 20)
          |SELECT eval_id, train_id, COUNT(*) AS shared_ngrams
          |FROM ev JOIN tr USING (sh) JOIN rare USING (sh)
          |GROUP BY eval_id, train_id HAVING COUNT(*) >= 5
          |ORDER BY eval_id, train_id""".stripMargin,
      "decontaminate" ->
        """WITH g AS (
          |  SELECT doc_id, UNNEST([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]) AS sh
          |  FROM (SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS toks FROM documents)),
          |ev AS (SELECT DISTINCT doc_id AS eval_id, sh FROM g WHERE doc_id < 50),
          |tr AS (SELECT DISTINCT doc_id AS train_id, sh FROM g WHERE doc_id >= 50),
          |rare AS (SELECT sh FROM tr GROUP BY sh HAVING COUNT(*) <= 20),
          |flagged AS (
          |  SELECT train_id FROM ev JOIN tr USING (sh) JOIN rare USING (sh)
          |  GROUP BY eval_id, train_id HAVING COUNT(*) >= 5)
          |SELECT doc_id, lang FROM documents
          |WHERE doc_id >= 50 AND doc_id NOT IN (SELECT DISTINCT train_id FROM flagged)
          |ORDER BY doc_id""".stripMargin,
      "stratified_sample" ->
        """SELECT doc_id, lang FROM (
          |  SELECT doc_id, lang,
          |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY MD5(CAST(doc_id AS VARCHAR))) AS rn,
          |         COUNT(*) OVER (PARTITION BY lang) AS n
          |  FROM documents) t
          |WHERE rn <= CEIL(0.1 * n) ORDER BY doc_id""".stripMargin,
      "dataset_split" ->
        """SELECT lang,
          |       CASE WHEN SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
          |            WHEN SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'validation'
          |            ELSE 'test' END AS split,
          |       COUNT(*) AS n_docs
          |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "pack_sequences" ->
        s"""SELECT lang, seq_id, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS seq_tokens FROM (
          |  SELECT lang,
          |         CAST(FLOOR((SUM(nt) OVER (PARTITION BY lang ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt) / 2048) AS BIGINT) AS seq_id,
          |         nt
          |  FROM (SELECT doc_id, lang, $nTokens AS nt FROM documents) x) t
          |GROUP BY lang, seq_id ORDER BY lang, seq_id""".stripMargin,
      "pack_global" ->
        s"""SELECT doc_id, CAST(nt AS INTEGER) AS n_tokens,
          |       CAST(FLOOR((SUM(nt) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt) / 256) AS BIGINT) AS seq_id
          |FROM (SELECT doc_id, $nTokens AS nt FROM documents) x
          |ORDER BY doc_id""".stripMargin,
      "edit_distance" ->
        "SELECT a.doc_id AS doc_a, CAST(levenshtein(SUBSTRING(a.text, 1, 200), SUBSTRING(b.text, 1, 200)) AS INTEGER) AS edit_dist FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1 WHERE a.doc_id < 200 AND b.doc_id < 200 ORDER BY doc_a",
      "dedup_exact" ->
        "SELECT COUNT(*) AS total_docs, COUNT(DISTINCT MD5(text)) AS distinct_docs, COUNT(*) - COUNT(DISTINCT MD5(text)) AS duplicate_docs FROM documents",
      "incremental_dedup" ->
        """SELECT n.doc_id FROM documents n WHERE n.doc_id >= 450 AND NOT EXISTS (
          |  SELECT 1 FROM documents s WHERE s.doc_id < 450 AND MD5(s.text) = MD5(n.text))
          |ORDER BY n.doc_id""".stripMargin,
      "incremental_dedup_bloom" ->
        """SELECT n.doc_id FROM documents n WHERE n.doc_id >= 450 AND NOT EXISTS (
          |  SELECT 1 FROM documents s WHERE s.doc_id < 450 AND MD5(s.text) = MD5(n.text))
          |ORDER BY n.doc_id""".stripMargin,
      "heavy_hitters" ->
        """SELECT token, COUNT(*) AS cnt FROM (
          |  SELECT UNNEST(string_split_regex(TRIM(text), '\s+')) AS token
          |  FROM documents) t
          |GROUP BY token HAVING COUNT(*) >= 50 ORDER BY cnt DESC, token""".stripMargin,
      "redact_pii" ->
        """SELECT doc_id,
          |  REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(text2,
          |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |    'https?://[^\s]+', '<URL>', 'g'),
          |    '\b\d{7,}\b', '<NUMBER>', 'g') AS clean,
          |  CAST(LENGTH(text2) - LENGTH(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(text2,
          |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |    'https?://[^\s]+', '<URL>', 'g'),
          |    '\b\d{7,}\b', '<NUMBER>', 'g')) AS INTEGER) AS removed_chars
          |FROM (SELECT doc_id, text || ' contact user' || doc_id ||
          |        '@mail.example.com or https://ex' || doc_id || '.org/id/' ||
          |        doc_id || ' ref 123456789' AS text2 FROM documents) t
          |ORDER BY doc_id""".stripMargin,
      "token_histogram" ->
        s"""SELECT CAST(FLOOR($nTokens / 20) * 20 AS BIGINT) AS bucket, COUNT(*) AS n_docs FROM documents GROUP BY 1 ORDER BY 1""",
      "dedup_normalized" ->
        s"""SELECT COUNT(*) AS total_docs, COUNT(DISTINCT MD5($normText)) AS distinct_docs, COUNT(*) - COUNT(DISTINCT MD5($normText)) AS duplicate_docs FROM documents""",
      "dedup_keep_first" ->
        "SELECT MD5(text) AS content_digest, MIN(doc_id) AS keep_doc_id, COUNT(*) AS group_size FROM documents GROUP BY 1 ORDER BY 1",
      "dedup_keep_preferred" ->
        """SELECT content_digest, keep_doc_id, keep_priority, group_size FROM (
          |  SELECT MD5(text) AS content_digest, doc_id AS keep_doc_id,
          |         CAST(regexp_extract(source, '(\d+)', 1) AS INTEGER) AS keep_priority,
          |         COUNT(*) OVER (PARTITION BY MD5(text)) AS group_size,
          |         ROW_NUMBER() OVER (PARTITION BY MD5(text)
          |           ORDER BY CAST(regexp_extract(source, '(\d+)', 1) AS INTEGER), doc_id) AS rn
          |  FROM documents)
          |WHERE rn = 1 ORDER BY content_digest""".stripMargin,
      "token_stats" ->
        s"""SELECT doc_id, CAST($nTokens AS INTEGER) AS n_tokens, CAST(LEN(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS INTEGER) AS bpe_tokens, CAST(LENGTH(text) AS INTEGER) AS n_chars_calc FROM documents ORDER BY doc_id""",
      "lang_stats" ->
        s"""SELECT lang, COUNT(*) AS n_docs, AVG($nTokens) AS avg_tokens, AVG(n_chars) AS avg_chars FROM documents GROUP BY lang ORDER BY lang""",
      "source_caps" ->
        """SELECT doc_id, source, src_rank FROM (
          |  SELECT doc_id, source,
          |    CAST(row_number() OVER (PARTITION BY source
          |      ORDER BY n_chars DESC, doc_id) AS INTEGER) AS src_rank
          |  FROM documents)
          |WHERE src_rank <= 10 ORDER BY source, src_rank""".stripMargin,
      "quality_score" ->
        s"""SELECT doc_id, CAST($nTokens AS INTEGER) AS n_tokens, ROUND($alphaLen / LENGTH(text), 4) AS alpha_ratio, ROUND((LENGTH(text) - $noSpaceLen) / LENGTH(text), 4) AS space_ratio, ROUND($noSpaceLen / $nTokens, 4) AS avg_token_len, CASE WHEN $nTokens >= 5 AND $alphaLen / LENGTH(text) > 0.6 THEN 'good' ELSE 'poor' END AS quality FROM documents ORDER BY doc_id""",
      "lang_confusion" ->
        """SELECT lang, CASE WHEN LEN(regexp_extract_all(text, '\b(the|and|of|to|in|is|a)\b')) >= 3 THEN 'en' ELSE 'other' END AS predicted_lang, COUNT(*) AS n_docs FROM documents GROUP BY 1, 2 ORDER BY 1, 2""",
      "embed_stats" ->
        "SELECT vec_id, label, ROUND(SQRT(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')), 4) AS l2_norm, ROUND(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'sum') / LEN(embedding), 4) AS mean_component, ROUND(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 4) AS max_component FROM embeddings ORDER BY vec_id",
      "cosine_topk" ->
        "WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) SELECT e.vec_id, e.label, ROUND(d.dp / (SQRT(d.na) * SQRT(d.nb)), 4) AS cosine FROM embeddings e, q, LATERAL (SELECT SUM(CAST(a AS DOUBLE) * CAST(b AS DOUBLE)) AS dp, SUM(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)) AS na, SUM(CAST(b AS DOUBLE) * CAST(b AS DOUBLE)) AS nb FROM (SELECT UNNEST(e.embedding) AS a, UNNEST(q.qe) AS b) t) d WHERE e.vec_id <> 0 ORDER BY cosine DESC, e.vec_id LIMIT 10",
      "multimodal_meta" ->
        "SELECT doc_id, CAST(OCTET_LENGTH(ENCODE(text)) AS INTEGER) AS byte_len, SHA256(text) AS sha256 FROM documents ORDER BY doc_id",
      "frame_stats" ->
        // nFrames = max(1, len div 32); sampled count = ceil(nFrames/4);
        // every sampled frame is a full 32 bytes except the len<32 case
        // (one truncated frame) — trailing sub-frame bytes are unsampled.
        """SELECT doc_id AS id,
          |       CAST(CEIL(GREATEST(1, OCTET_LENGTH(ENCODE(text)) // 32) / 4.0) AS BIGINT) AS n_frames,
          |       CAST(CASE WHEN OCTET_LENGTH(ENCODE(text)) < 32 THEN OCTET_LENGTH(ENCODE(text))
          |            ELSE 32 * CEIL((OCTET_LENGTH(ENCODE(text)) // 32) / 4.0) END AS BIGINT) AS frame_bytes
          |FROM documents ORDER BY doc_id""".stripMargin,
      "unpivot_measures" ->
        """SELECT measure, COUNT(*) AS n, CAST(SUM(CAST(val AS DECIMAL(18,6))) AS DOUBLE) AS total FROM (
          |  SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem
          |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
          |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem)
          |GROUP BY measure ORDER BY measure""".stripMargin,
      "repetition_stats" ->
        """WITH w AS (
          |  SELECT doc_id,
          |         UNNEST(string_split_regex(TRIM(text), '\s+')) AS w,
          |         UNNEST(generate_series(1, LEN(string_split_regex(TRIM(text), '\s+')))) AS pos
          |  FROM documents),
          |wc AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY 1, 2),
          |ws AS (SELECT doc_id, SUM(c) AS nw, COUNT(*) AS nd, MAX(c) AS tw FROM wc GROUP BY 1),
          |bc AS (SELECT a.doc_id, a.w || ' ' || b.w AS bg, COUNT(*) AS c
          |       FROM w a JOIN w b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 GROUP BY 1, 2),
          |bs AS (SELECT doc_id, SUM(c) AS nb, MAX(c) AS tb FROM bc GROUP BY 1)
          |SELECT ws.doc_id, CAST(nw AS BIGINT) AS n_words,
          |       ROUND(1.0 - nd / nw, 4) AS dup_word_frac,
          |       ROUND(tw / nw, 4) AS top_word_frac,
          |       ROUND(COALESCE(tb / nb, 0.0), 4) AS top_bigram_frac
          |FROM ws LEFT JOIN bs ON bs.doc_id = ws.doc_id ORDER BY ws.doc_id""".stripMargin,
      "mixture_sample" -> {
        // Same digest-coin thresholds the Spark plan bakes in, from the
        // same function — the two engines compare identical hex strings.
        val en = Sampling.hexThreshold(2.3 - math.floor(2.3))
        val zh = Sampling.hexThreshold(0.4 - math.floor(0.4))
        s"""SELECT doc_id, lang, epoch FROM (
          |  SELECT doc_id, lang, CAST(UNNEST(generate_series(1, copies)) AS INTEGER) AS epoch FROM (
          |    SELECT doc_id, lang,
          |           CASE WHEN lang = 'en' THEN 2 + CASE WHEN SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 8) < '$en' THEN 1 ELSE 0 END
          |                WHEN lang = 'zh' THEN CASE WHEN SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 8) < '$zh' THEN 1 ELSE 0 END
          |                ELSE 1 END AS copies
          |    FROM documents) t) u
          |ORDER BY doc_id, epoch""".stripMargin
      },
      "temperature_mixture" ->
        // Weights derived in SQL exactly as the operator derives them:
        // sqrt and division are IEEE-exact on exact integer counts,
        // frac·2^32 is an exact power-of-two scaling, and the digest
        // integer compares against it directly — no rounding, no hex
        // formatting, nothing libm on either engine.
        """WITH n AS (SELECT lang AS s, COUNT(*) AS n FROM documents WHERE lang IS NOT NULL GROUP BY 1),
          |w AS (SELECT s, SQRT(CAST((SELECT MAX(n) FROM n) AS DOUBLE) / n) AS w FROM n),
          |c AS (SELECT d.doc_id, d.lang,
          |        COALESCE(CAST(FLOOR(w.w) AS INTEGER) +
          |        CASE WHEN CAST(('0x' || SUBSTRING(MD5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          |               < (w.w - FLOOR(w.w)) * 4294967296.0
          |             THEN 1 ELSE 0 END, 1) AS copies
          |      FROM documents d LEFT JOIN w ON d.lang = w.s)
          |SELECT doc_id, lang, epoch FROM (
          |  SELECT doc_id, lang, CAST(UNNEST(generate_series(1, copies)) AS INTEGER) AS epoch
          |  FROM c WHERE copies > 0) t
          |ORDER BY doc_id, epoch""".stripMargin,
      "chunk_tokens" ->
        """WITH d AS (SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS toks FROM documents),
          |e AS (SELECT doc_id, toks, UNNEST(generate_series(0,
          |        GREATEST(0, CAST(CEIL((LEN(toks) - 32) / 24.0) AS BIGINT)))) AS i FROM d),
          |c AS (SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
          |             list_slice(toks, i*24 + 1, i*24 + 32) AS ctoks FROM e)
          |SELECT doc_id, chunk_id, CAST(LEN(ctoks) AS INTEGER) AS n_tokens,
          |       ARRAY_TO_STRING(ctoks, ' ') AS chunk
          |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
      "boilerplate_grams" ->
        """WITH w AS (
          |  SELECT doc_id,
          |         UNNEST(string_split_regex(TRIM(text), '\s+')) AS w,
          |         UNNEST(generate_series(1, LEN(string_split_regex(TRIM(text), '\s+')))) AS pos
          |  FROM documents),
          |b AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w AS gram
          |      FROM w a JOIN w b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1)
          |SELECT gram, df FROM (SELECT gram, COUNT(*) AS df FROM b GROUP BY 1) t
          |WHERE df >= 100 ORDER BY df DESC, gram""".stripMargin,
      "cross_span_scrub" ->
        """WITH t AS (SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS toks FROM documents),
          |gg AS (SELECT doc_id,
          |         UNNEST(range(1, len(toks) - 1)) AS st,
          |         UNNEST([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]) AS gram
          |       FROM t),
          |common AS (SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM gg) d
          |           GROUP BY gram HAVING COUNT(*) >= 3),
          |rm AS (SELECT DISTINCT doc_id, UNNEST(range(st, st + 3)) AS p
          |       FROM gg JOIN common USING (gram)),
          |tt AS (SELECT doc_id, UNNEST(range(1, len(toks) + 1)) AS p, UNNEST(toks) AS w FROM t),
          |kept AS (SELECT tt.doc_id, tt.p, tt.w
          |         FROM tt LEFT JOIN rm ON tt.doc_id = rm.doc_id AND tt.p = rm.p
          |         WHERE rm.doc_id IS NULL),
          |agg AS (SELECT doc_id, STRING_AGG(w, ' ' ORDER BY p) AS clean_text,
          |               COUNT(*) AS n_kept
          |        FROM kept GROUP BY doc_id)
          |SELECT t.doc_id, COALESCE(agg.clean_text, '') AS clean_text,
          |       CAST(len(t.toks) - COALESCE(agg.n_kept, 0) AS BIGINT) AS tokens_removed
          |FROM t LEFT JOIN agg USING (doc_id) ORDER BY t.doc_id""".stripMargin,
      // The string-keyed twin of the hash-keyed engine: identical up to
      // 64-bit xxh64 collisions, like every shingle-family oracle.
      "line_dedup" ->
        s"""WITH $lineCtes,
          |r AS (SELECT doc_id, pos, ROW_NUMBER() OVER (PARTITION BY k ORDER BY doc_id, pos) AS rn FROM p),
          |rm AS (SELECT doc_id, pos FROM r WHERE rn > 1),
          |kept AS (SELECT occ.doc_id, occ.pos, occ.line
          |         FROM occ LEFT JOIN rm ON occ.doc_id = rm.doc_id AND occ.pos = rm.pos
          |         WHERE rm.doc_id IS NULL),
          |agg AS (SELECT doc_id, STRING_AGG(line, chr(10) ORDER BY pos) AS clean_text, COUNT(*) AS n_kept
          |        FROM kept GROUP BY doc_id)
          |SELECT s.doc_id, COALESCE(agg.clean_text, '') AS clean_text,
          |       CAST(len(s.lines) - COALESCE(agg.n_kept, 0) AS BIGINT) AS lines_removed
          |FROM s LEFT JOIN agg USING (doc_id) ORDER BY s.doc_id""".stripMargin,
      "line_dedup_indexed" ->
        s"""WITH $lineCtes,
          |held AS (SELECT DISTINCT k FROM p WHERE doc_id % 2 = 0),
          |b AS (SELECT doc_id, pos, k FROM p WHERE doc_id % 2 = 1),
          |r AS (SELECT doc_id, pos, k, ROW_NUMBER() OVER (PARTITION BY k ORDER BY doc_id, pos) AS rn FROM b),
          |rm AS (SELECT doc_id, pos FROM r WHERE k IN (SELECT k FROM held) OR rn > 1),
          |bocc AS (SELECT * FROM occ WHERE doc_id % 2 = 1),
          |kept AS (SELECT bocc.doc_id, bocc.pos, bocc.line
          |         FROM bocc LEFT JOIN rm ON bocc.doc_id = rm.doc_id AND bocc.pos = rm.pos
          |         WHERE rm.doc_id IS NULL),
          |agg AS (SELECT doc_id, STRING_AGG(line, chr(10) ORDER BY pos) AS clean_text, COUNT(*) AS n_kept
          |        FROM kept GROUP BY doc_id)
          |SELECT s.doc_id, COALESCE(agg.clean_text, '') AS clean_text,
          |       CAST(len(s.lines) - COALESCE(agg.n_kept, 0) AS BIGINT) AS lines_removed
          |FROM s LEFT JOIN agg USING (doc_id) WHERE s.doc_id % 2 = 1 ORDER BY s.doc_id""".stripMargin,
      // Gopher doc-quality battery over the width-3 synthetic-line text
      // — the stats view of the SAME gopherGateCtes the composites use
      // (grat's raw ratios rounded, gq's verdict passed through).
      "gopher_quality" ->
        s"""WITH ${lineCtesW(3)},
           |sl AS (SELECT s.doc_id, array_to_string(s.lines, chr(10)) AS text FROM s),
           |${gopherGateCtes("sl")}
           |SELECT grat.doc_id, gn AS n_words,
           |  ROUND(gml, 4) AS mean_word_len,
           |  ROUND(gsr, 4) AS symbol_word_ratio,
           |  ROUND(gbf, 4) AS bullet_line_frac,
           |  ROUND(gef, 4) AS ellipsis_line_frac,
           |  ROUND(gaf, 4) AS alpha_word_frac,
           |  CAST(gstop AS INTEGER) AS stopword_hits,
           |  gq.gopher_ok AS gopher_quality_ok
           |FROM grat JOIN gq USING (doc_id) ORDER BY grat.doc_id""".stripMargin,
      // Gopher n-gram battery — string-gram re-derivation of the
      // engine's hashed single-pass: per n, gram counts (top: max count
      // then max chars; dup: DISTINCT covered positions summed), same
      // token-char mass convention, same first-8-token tail append.
      "gopher_ngrams" -> {
        def gramCte(n: Int) =
          s"""g$n AS (SELECT d.doc_id, UNNEST(range(1, GREATEST(nt - $n + 2, 1))) AS i FROM d JOIN tot USING (doc_id) WHERE nt >= $n),
             |gg$n AS (SELECT g$n.doc_id, CAST(i AS INT) AS i, array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+${n - 1}], ' ') AS gram,
             |         CAST(list_sum(list_transform(toks[CAST(i AS INT):CAST(i AS INT)+${n - 1}], t -> LENGTH(t))) AS BIGINT) AS ch
             |         FROM g$n JOIN d USING (doc_id))""".stripMargin
        def topCte(n: Int) =
          s"""c$n AS (SELECT doc_id, gram, COUNT(*) AS c, MIN(ch) AS ch FROM gg$n GROUP BY doc_id, gram),
             |m$n AS (SELECT doc_id, MAX(c) AS mc FROM c$n GROUP BY doc_id),
             |t$n AS (SELECT c$n.doc_id, MAX(c$n.ch) * m$n.mc AS num FROM c$n JOIN m$n ON c$n.doc_id = m$n.doc_id AND c$n.c = m$n.mc GROUP BY c$n.doc_id, m$n.mc)""".stripMargin
        def dupCte(n: Int) =
          s"""dup$n AS (SELECT doc_id, gram FROM gg$n GROUP BY doc_id, gram HAVING COUNT(*) > 1),
             |cov$n AS (SELECT DISTINCT gg$n.doc_id, CAST(UNNEST(range(i, i + $n)) AS INT) AS pos FROM gg$n JOIN dup$n USING (doc_id, gram)),
             |cc$n AS (SELECT cov$n.doc_id, CAST(SUM(LENGTH(toks[pos])) AS BIGINT) AS num FROM cov$n JOIN d USING (doc_id) GROUP BY cov$n.doc_id)""".stripMargin
        val topNs = Seq(2, 3, 4); val dupNs = Seq(5, 6, 7, 8, 9, 10)
        val topThr = Map(2 -> "0.20", 3 -> "0.18", 4 -> "0.16")
        val dupThr = Map(5 -> "0.15", 6 -> "0.14", 7 -> "0.13",
          8 -> "0.12", 9 -> "0.11", 10 -> "0.10")
        def frac(src: String) =
          s"CASE WHEN COALESCE(tot.tc, 0) > 0 THEN COALESCE($src.num, 0) / tot.tc ELSE 0.0 END"
        val cols =
          topNs.map(n => s"ROUND(${frac(s"t$n")}, 4) AS top_${n}gram_frac") ++
          dupNs.map(n => s"ROUND(${frac(s"cc$n")}, 4) AS dup_${n}gram_frac")
        val gate = (topNs.map(n => s"${frac(s"t$n")} <= ${topThr(n)}") ++
          dupNs.map(n => s"${frac(s"cc$n")} <= ${dupThr(n)}"))
          .mkString(" AND ")
        val joins = (topNs.map(n => s"t$n") ++ dupNs.map(n => s"cc$n"))
          .map(a => s"LEFT JOIN $a ON $a.doc_id = tot.doc_id").mkString(" ")
        s"""WITH d0 AS (SELECT doc_id, list_filter(string_split_regex(TRIM(text), '${"\\s+"}'), t -> t <> '') AS t0 FROM documents),
           |d AS (SELECT doc_id, list_concat(t0, t0[1:8]) AS toks FROM d0),
           |tot AS (SELECT doc_id, len(toks) AS nt, CAST(COALESCE(list_sum(list_transform(toks, t -> LENGTH(t))), 0) AS BIGINT) AS tc FROM d),
           |${(topNs ++ dupNs).map(gramCte).mkString(",\n")},
           |${topNs.map(topCte).mkString(",\n")},
           |${dupNs.map(dupCte).mkString(",\n")}
           |SELECT tot.doc_id, ${cols.mkString(", ")}, ($gate) AS gopher_ngram_ok
           |FROM tot $joins ORDER BY tot.doc_id""".stripMargin
      },
      // Gopher line-repetition signals at width 2 — the grouped
      // re-derivation of the engine's sorted-array fold: Σ(c−1) lines,
      // Σ(c−1)·len chars, over the same normalized-line identity.
      "line_repetition" ->
        s"""WITH ${lineCtesW(2)},
          |grp AS (SELECT doc_id, k, COUNT(*) AS c FROM p GROUP BY doc_id, k),
          |agg AS (SELECT doc_id,
          |        CAST(SUM(c) AS BIGINT) AS n_lines,
          |        CAST(SUM(c - 1) AS BIGINT) AS dl,
          |        CAST(SUM((c - 1) * LENGTH(k)) AS BIGINT) AS dc,
          |        CAST(SUM(c * LENGTH(k)) AS BIGINT) AS tc
          |        FROM grp GROUP BY doc_id),
          |f AS (SELECT s.doc_id,
          |        COALESCE(agg.n_lines, 0) AS n_lines,
          |        CASE WHEN COALESCE(agg.n_lines, 0) > 0 THEN agg.dl / agg.n_lines ELSE 0.0 END AS df,
          |        CASE WHEN COALESCE(agg.tc, 0) > 0 THEN agg.dc / agg.tc ELSE 0.0 END AS cf
          |      FROM s LEFT JOIN agg USING (doc_id))
          |SELECT doc_id, n_lines, ROUND(df, 4) AS dup_line_frac,
          |       ROUND(cf, 4) AS dup_line_char_frac,
          |       (df <= 0.30 AND cf <= 0.20) AS gopher_ok
          |FROM f ORDER BY doc_id""".stripMargin,
      "clean_lines" ->
        s"""WITH $lineCtes,
          |f AS (SELECT doc_id, lines,
          |        list_filter(lines, l -> len(string_split_regex(TRIM(l), '${"\\s+"}')) >= 3
          |          AND TRIM(l) <> '' AND NOT contains(LOWER(l), 'slow')) AS kept
          |      FROM s)
          |SELECT doc_id, array_to_string(kept, chr(10)) AS clean_text,
          |       CAST(len(kept) AS BIGINT) AS lines_kept,
          |       CAST(len(lines) - len(kept) AS BIGINT) AS lines_dropped
          |FROM f ORDER BY doc_id""".stripMargin,
      // Shard thresholds are the engine's own plan-time hexThreshold
      // literals — both engines compare plain lowercase-hex strings.
      "shuffle_shards" ->
        s"""WITH d AS (SELECT doc_id, md5('r18:' || CAST(doc_id AS VARCHAR)) AS dg FROM documents),
           |s AS (SELECT doc_id, dg, $shard8Case AS shard FROM d)
           |SELECT doc_id, CAST(shard AS INTEGER) AS shard,
           |       ROW_NUMBER() OVER (PARTITION BY shard ORDER BY dg, doc_id) AS pos
           |FROM s ORDER BY shard, pos""".stripMargin,
      "shard_manifest" ->
        s"""WITH d AS (SELECT doc_id, text, source, md5('r18:' || CAST(doc_id AS VARCHAR)) AS dg FROM documents),
           |s AS (SELECT text, source, $shard8Case AS shard FROM d)
           |SELECT CAST(shard AS INTEGER) AS shard, COUNT(*) AS n_docs,
           |       CAST(SUM($nTokens) AS BIGINT) AS n_tokens,
           |       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
           |FROM s GROUP BY shard ORDER BY shard""".stripMargin,
      "unigram_logprob" ->
        """WITH w AS (
          |  SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\s+')) AS w
          |  FROM documents),
          |f AS (SELECT w, COUNT(*) AS cnt FROM w GROUP BY 1),
          |t AS (SELECT SUM(cnt) AS tot FROM f)
          |SELECT doc_id, COUNT(*) AS n_words,
          |       ROUND(CAST(SUM(CAST(LN(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE)) AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*), 4) AS mean_logp
          |FROM w JOIN f USING (w) CROSS JOIN t
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "full_outer_users" ->
        """SELECT user_id, COALESCE(n_signups, 0) AS n_signups, COALESCE(n_errors, 0) AS n_errors
          |FROM (SELECT user_id, COUNT(*) AS n_signups FROM events WHERE event_type = 'signup' GROUP BY 1) s
          |FULL OUTER JOIN (SELECT user_id, COUNT(*) AS n_errors FROM events WHERE event_type = 'error' GROUP BY 1) e USING (user_id)
          |ORDER BY user_id""".stripMargin,
      "tfidf_top_terms" ->
        """WITH w AS (
          |  SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\s+')) AS term
          |  FROM documents),
          |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY 1, 2),
          |idf AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY 1),
          |n AS (SELECT COUNT(*) AS n FROM documents),
          |s AS (SELECT doc_id, term,
          |        tf * LN(CAST(n AS DOUBLE) / CAST(df AS DOUBLE)) AS score
          |      FROM tf JOIN idf USING (term) CROSS JOIN n),
          |r AS (SELECT doc_id, term, score,
          |        ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
          |      FROM s)
          |SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, ROUND(score, 4) AS score
          |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
      "regression_stats" ->
        """WITH s AS (
          |  SELECT l_returnflag AS grp, COUNT(*) AS n,
          |    SUM(CAST(l_quantity AS DECIMAL(18,6))) AS sx,
          |    SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS sy,
          |    SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6))) AS sxx,
          |    SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,6))) AS syy,
          |    SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,6))) AS sxy
          |  FROM lineitem GROUP BY 1),
          |m AS (
          |  SELECT grp, n,
          |    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS cov,
          |    (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS varx,
          |    (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS vary,
          |    CAST(sx AS DOUBLE) AS dx, CAST(sy AS DOUBLE) AS dy
          |  FROM s)
          |SELECT grp, n, ROUND(cov, 4) AS covar_xy,
          |  ROUND(cov / SQRT(varx * vary), 4) AS corr_xy,
          |  ROUND(cov / varx, 4) AS slope,
          |  ROUND((dy - (cov / varx) * dx) / CAST(n AS DOUBLE), 4) AS intercept
          |FROM m ORDER BY grp""".stripMargin,
      "rolling_stats" ->
        """SELECT event_id AS id, user_id AS part,
          |  COUNT(*) OVER w AS win_n,
          |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) / (COUNT(*) OVER w), 4) AS win_avg,
          |  ROUND(MIN(value) OVER w, 4) AS win_min,
          |  ROUND(MAX(value) OVER w, 4) AS win_max
          |FROM events
          |WINDOW w AS (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
          |ORDER BY id""".stripMargin,
      "time_weighted_avg" ->
        """WITH e AS (
          |  SELECT user_id AS k, CAST(ts AS DATE) AS day, value AS v,
          |    LEAD(epoch_ns(ts), 1) OVER (PARTITION BY user_id, CAST(ts AS DATE)
          |      ORDER BY epoch_ns(ts), event_id) - epoch_ns(ts) AS dur_ns
          |  FROM events)
          |SELECT k AS user_id, STRFTIME(day, '%Y-%m-%d') AS day, COUNT(*) AS n_intervals,
          |  ROUND(CAST(SUM(CAST(v AS DECIMAL(18,6)) * dur_ns) AS DOUBLE) / CAST(SUM(dur_ns) AS DOUBLE), 4) AS twap
          |FROM e WHERE dur_ns IS NOT NULL AND dur_ns > 0
          |GROUP BY 1, 2 ORDER BY user_id, day""".stripMargin,
      "revenue_share" ->
        """WITH g AS (SELECT o_orderpriority AS grp,
          |  SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev FROM orders GROUP BY 1)
          |SELECT grp, ROUND(CAST(rev AS DOUBLE), 2) AS revenue,
          |  ROUND(CAST(rev AS DOUBLE) * 100.0 / CAST(SUM(rev) OVER () AS DOUBLE), 4) AS pct_of_total
          |FROM g ORDER BY grp""".stripMargin,
      "bigram_logprob" ->
        """WITH d AS (SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS toks FROM documents),
          |u AS (SELECT UNNEST(toks) AS w FROM d),
          |c1 AS (SELECT w, COUNT(*) AS c1 FROM u GROUP BY 1),
          |p AS (SELECT doc_id, toks, UNNEST(generate_series(1, LEN(toks) - 1)) AS i FROM d),
          |b AS (SELECT doc_id, toks[i] AS w1, toks[i] || ' ' || toks[i + 1] AS bg FROM p),
          |c2 AS (SELECT bg, COUNT(*) AS c2 FROM b GROUP BY 1)
          |SELECT doc_id, COUNT(*) AS n_bigrams,
          |  ROUND(CAST(SUM(CAST(LN(CAST(c2.c2 AS DOUBLE) / CAST(c1.c1 AS DOUBLE)) AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*), 4) AS mean_logp
          |FROM b JOIN c2 USING (bg) JOIN c1 ON b.w1 = c1.w
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "bigram_logprob_ref" ->
        """WITH ref AS (SELECT string_split_regex(TRIM(text), '\s+') AS toks FROM documents WHERE doc_id < 250),
          |cand AS (SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS toks FROM documents WHERE doc_id >= 250),
          |ru AS (SELECT UNNEST(toks) AS w FROM ref),
          |c1 AS (SELECT w, COUNT(*) AS c1 FROM ru GROUP BY 1),
          |v AS (SELECT COUNT(DISTINCT w) AS v FROM ru),
          |rp AS (SELECT toks, UNNEST(generate_series(1, LEN(toks) - 1)) AS i FROM ref),
          |c2 AS (SELECT bg, COUNT(*) AS c2 FROM (SELECT toks[i] || ' ' || toks[i + 1] AS bg FROM rp) GROUP BY 1),
          |p AS (SELECT doc_id, toks, UNNEST(generate_series(1, LEN(toks) - 1)) AS i FROM cand),
          |b AS (SELECT doc_id, toks[i] AS w1, toks[i] || ' ' || toks[i + 1] AS bg FROM p)
          |SELECT doc_id, COUNT(*) AS n_bigrams,
          |  ROUND(CAST(SUM(CAST(LN((CAST(COALESCE(c2.c2, 0) AS DOUBLE) + 1.0) / (CAST(COALESCE(c1.c1, 0) AS DOUBLE) + 1.0 * v.v)) AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*), 4) AS mean_logp
          |FROM b LEFT JOIN c2 USING (bg) LEFT JOIN c1 ON b.w1 = c1.w CROSS JOIN v
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // Same scoring CTEs as bigram_logprob_ref, then per-lang
      // quantile_cont thresholds (rounded 4dp, the value_percentiles
      // contract) and row-local >= bucketing.
      "ppl_buckets" ->
        """WITH ref AS (SELECT string_split_regex(TRIM(text), '\s+') AS toks FROM documents WHERE doc_id < 250),
          |cand AS (SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS toks FROM documents WHERE doc_id >= 250),
          |ru AS (SELECT UNNEST(toks) AS w FROM ref),
          |c1 AS (SELECT w, COUNT(*) AS c1 FROM ru GROUP BY 1),
          |v AS (SELECT COUNT(DISTINCT w) AS v FROM ru),
          |rp AS (SELECT toks, UNNEST(generate_series(1, LEN(toks) - 1)) AS i FROM ref),
          |c2 AS (SELECT bg, COUNT(*) AS c2 FROM (SELECT toks[i] || ' ' || toks[i + 1] AS bg FROM rp) GROUP BY 1),
          |p AS (SELECT doc_id, toks, UNNEST(generate_series(1, LEN(toks) - 1)) AS i FROM cand),
          |b AS (SELECT doc_id, toks[i] AS w1, toks[i] || ' ' || toks[i + 1] AS bg FROM p),
          |scored AS (
          |  SELECT doc_id,
          |    ROUND(CAST(SUM(CAST(LN((CAST(COALESCE(c2.c2, 0) AS DOUBLE) + 1.0) / (CAST(COALESCE(c1.c1, 0) AS DOUBLE) + 1.0 * v.v)) AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*), 4) AS mean_logp
          |  FROM b LEFT JOIN c2 USING (bg) LEFT JOIN c1 ON b.w1 = c1.w CROSS JOIN v
          |  GROUP BY doc_id),
          |sc AS (SELECT s.doc_id, d.lang, s.mean_logp
          |       FROM scored s JOIN documents d USING (doc_id)),
          |th AS (SELECT lang, ROUND(quantile_cont(mean_logp, 2.0/3.0), 4) AS t_head,
          |              ROUND(quantile_cont(mean_logp, 1.0/3.0), 4) AS t_mid
          |       FROM sc GROUP BY 1)
          |SELECT sc.doc_id, sc.lang, sc.mean_logp,
          |  CASE WHEN mean_logp >= t_head THEN 'head'
          |       WHEN mean_logp >= t_mid THEN 'middle'
          |       ELSE 'tail' END AS bucket
          |FROM sc JOIN th USING (lang) ORDER BY sc.doc_id""".stripMargin,
      "blocklist_gate" ->
        """WITH d AS (SELECT doc_id, list_filter(string_split_regex(TRIM(text), '\s+'), t -> LEN(t) > 0) AS toks FROM documents),
          |b AS (SELECT doc_id, CAST(LEN(toks) AS BIGINT) AS n_tokens,
          |  CAST(LEN(list_filter(toks, t -> list_contains(['dup','skew','spill'], lower(t)))) AS BIGINT) AS n_blocked FROM d)
          |SELECT doc_id, n_tokens, n_blocked,
          |  ROUND(CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_blocked AS DOUBLE) / n_tokens END, 4) AS blocked_frac,
          |  CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_blocked AS DOUBLE) / n_tokens END <= 0.05 AS keep
          |FROM b ORDER BY doc_id""".stripMargin,
      "dsir_weights" -> graft.oracle.Xxh64Sql.dsirWeightsSql(),
      "dsir_weights_indexed" -> graft.oracle.Xxh64Sql.dsirWeightsSql(),
      "zipf_slope" ->
        """WITH c AS (
          |  SELECT token, COUNT(*) AS cnt FROM (
          |    SELECT UNNEST(string_split_regex(TRIM(text), '\s+')) AS token
          |    FROM documents) t
          |  GROUP BY token ORDER BY cnt DESC, token LIMIT 100),
          |r AS (SELECT LN(CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS DOUBLE)) AS lx,
          |             LN(CAST(cnt AS DOUBLE)) AS ly FROM c),
          |s AS (SELECT COUNT(*) AS n,
          |        SUM(CAST(lx AS DECIMAL(27,12))) AS sx,
          |        SUM(CAST(ly AS DECIMAL(27,12))) AS sy,
          |        SUM(CAST(lx * lx AS DECIMAL(28,12))) AS sxx,
          |        SUM(CAST(lx * ly AS DECIMAL(28,12))) AS sxy FROM r)
          |SELECT n AS n_tokens,
          |  ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4) AS zipf_slope,
          |  ROUND((CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 4) AS intercept
          |FROM s""".stripMargin,
      "welch_ttest" ->
        """WITH s AS (
          |  SELECT
          |    COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS na,
          |    SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,6)) END) AS sa,
          |    SUM(CASE WHEN event_type = 'click' THEN CAST(value * value AS DECIMAL(28,6)) END) AS qa,
          |    COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS nb,
          |    SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,6)) END) AS sb,
          |    SUM(CASE WHEN event_type = 'view' THEN CAST(value * value AS DECIMAL(28,6)) END) AS qb
          |  FROM events),
          |m AS (
          |  SELECT na, nb,
          |    CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
          |    CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
          |    ((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)) / (CAST(na AS DOUBLE) - 1.0)) / CAST(na AS DOUBLE) AS sea,
          |    ((CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) / (CAST(nb AS DOUBLE) - 1.0)) / CAST(nb AS DOUBLE) AS seb
          |  FROM s)
          |SELECT 'click' AS group_a, 'view' AS group_b, na, nb,
          |  ROUND(ma, 4) AS mean_a, ROUND(mb, 4) AS mean_b,
          |  ROUND((ma - mb) / SQRT(sea + seb), 4) AS t_stat,
          |  ROUND((sea + seb) * (sea + seb) /
          |    (sea * sea / (CAST(na AS DOUBLE) - 1.0) + seb * seb / (CAST(nb AS DOUBLE) - 1.0)), 4) AS welch_df
          |FROM m""".stripMargin,
      "chi_square" ->
        """WITH cells AS (
          |  SELECT event_type AS r, user_id % 10 AS c, COUNT(*) AS o
          |  FROM events GROUP BY 1, 2),
          |w AS (
          |  SELECT r, c, o,
          |    CAST(SUM(o) OVER (PARTITION BY r) AS DOUBLE) AS rt,
          |    CAST(SUM(o) OVER (PARTITION BY c) AS DOUBLE) AS ct,
          |    CAST(SUM(o) OVER () AS DOUBLE) AS tot
          |  FROM cells)
          |SELECT
          |  ROUND(CAST(SUM(CAST(
          |    ((CAST(o AS DOUBLE) - rt * ct / tot) * (CAST(o AS DOUBLE) - rt * ct / tot)) / (rt * ct / tot)
          |    AS DECIMAL(28,12))) AS DOUBLE), 4) AS chi2,
          |  (COUNT(DISTINCT r) - 1) * (COUNT(DISTINCT c) - 1) AS dof,
          |  COUNT(*) AS n_cells
          |FROM w""".stripMargin,
      "bm25_topk" ->
        """WITH w AS (
          |  SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\s+')) AS term
          |  FROM documents),
          |q AS (SELECT UNNEST(['spark', 'vector', 'dup']) AS term),
          |h AS (SELECT w.doc_id, w.term FROM w JOIN q USING (term)),
          |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM h GROUP BY 1, 2),
          |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM h GROUP BY 1),
          |dl AS (SELECT doc_id, LEN(string_split_regex(TRIM(text), '\s+')) AS dl FROM documents),
          |st AS (SELECT COUNT(*) AS n, SUM(CAST(dl AS DECIMAL(18,6))) AS sdl FROM dl),
          |c AS (
          |  SELECT tf.doc_id,
          |    CAST(LN(1.0 + (CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
          |      * (CAST(tf AS DOUBLE) * 2.2 / (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE)))))
          |      AS DECIMAL(27,12)) AS c
          |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st)
          |SELECT doc_id, n_terms, score FROM (
          |  SELECT doc_id, COUNT(*) AS n_terms,
          |         ROUND(CAST(SUM(c) AS DOUBLE), 4) AS score
          |  FROM c GROUP BY 1) t
          |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
      "quality_classifier" ->
        """WITH w AS (
          |  SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\s+')) AS term
          |  FROM documents),
          |s AS (
          |  SELECT doc_id, COUNT(*) AS n_tokens,
          |    SUM(CAST(('0x' || SUBSTRING(MD5(term), 1, 6)) AS BIGINT) % 1001 - 500) AS s
          |  FROM w GROUP BY 1)
          |SELECT doc_id, n_tokens,
          |  SIGN(s) * ((ABS(s) * 20000 + 500 * n_tokens) // (1000 * n_tokens)) / 10000.0 AS score,
          |  CASE WHEN CAST(s AS DOUBLE) / (500.0 * n_tokens) > 0.02 THEN 'keep'
          |       WHEN CAST(s AS DOUBLE) / (500.0 * n_tokens) < -0.02 THEN 'drop'
          |       ELSE 'review' END AS verdict
          |FROM s ORDER BY doc_id""".stripMargin,
      "domain_kl" ->
        """WITH w AS (
          |  SELECT source, UNNEST(string_split_regex(TRIM(text), '\s+')) AS term
          |  FROM documents),
          |bs AS (SELECT source, term, COUNT(*) AS cs FROM w GROUP BY 1, 2),
          |st AS (SELECT source, SUM(cs) AS ts FROM bs GROUP BY 1),
          |co AS (SELECT term, SUM(cs) AS c FROM bs GROUP BY 1),
          |t AS (SELECT SUM(c) AS t FROM co)
          |SELECT source, COUNT(*) AS n_distinct_tokens,
          |  ROUND(CAST(SUM(CAST(
          |    (CAST(cs AS DOUBLE) / CAST(ts AS DOUBLE)) * LN((CAST(cs AS DOUBLE) / CAST(ts AS DOUBLE)) / (CAST(c AS DOUBLE) / CAST(t AS DOUBLE)))
          |    AS DECIMAL(27,12))) AS DOUBLE), 6) AS kl
          |FROM bs JOIN st USING (source) JOIN co USING (term) CROSS JOIN t
          |GROUP BY source ORDER BY source""".stripMargin,
      "dq_audit" ->
        """SELECT *, violations = 0 AS pass FROM (
          |  SELECT 'qty_in_range' AS "check", 'lineitem' AS tbl,
          |    (SELECT COUNT(*) FROM lineitem) AS n_rows,
          |    (SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0 OR l_quantity > 50) AS violations
          |  UNION ALL SELECT 'discount_in_unit', 'lineitem',
          |    (SELECT COUNT(*) FROM lineitem),
          |    (SELECT COUNT(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 1)
          |  UNION ALL SELECT 'price_positive', 'lineitem',
          |    (SELECT COUNT(*) FROM lineitem),
          |    (SELECT COUNT(*) FROM lineitem WHERE l_extendedprice <= 0)
          |  UNION ALL SELECT 'total_positive', 'orders',
          |    (SELECT COUNT(*) FROM orders),
          |    (SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0)
          |  UNION ALL SELECT 'status_known', 'orders',
          |    (SELECT COUNT(*) FROM orders),
          |    (SELECT COUNT(*) FROM orders WHERE o_orderstatus NOT IN ('O', 'F', 'P'))
          |  UNION ALL SELECT 'value_not_null', 'events',
          |    (SELECT COUNT(*) FROM events),
          |    (SELECT COUNT(*) FROM events WHERE value IS NULL)
          |  UNION ALL SELECT 'value_not_nan', 'events',
          |    (SELECT COUNT(*) FROM events),
          |    (SELECT COUNT(*) FROM events WHERE ISNAN(value))
          |  UNION ALL SELECT 'props_not_null', 'events',
          |    (SELECT COUNT(*) FROM events),
          |    (SELECT COUNT(*) FROM events WHERE props IS NULL)
          |  UNION ALL SELECT 'pk_unique', 'orders',
          |    (SELECT COUNT(*) FROM orders),
          |    (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)
          |  UNION ALL SELECT 'pk_unique', 'customer',
          |    (SELECT COUNT(*) FROM customer),
          |    (SELECT COUNT(*) - COUNT(DISTINCT c_custkey) FROM customer)
          |  UNION ALL SELECT 'fk_orders', 'lineitem',
          |    (SELECT COUNT(*) FROM lineitem),
          |    (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
          |       (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
          |  UNION ALL SELECT 'fk_customer', 'orders',
          |    (SELECT COUNT(*) FROM orders),
          |    (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
          |       (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
          |) t ORDER BY tbl, "check"""".stripMargin,
      "ewma_smooth" -> {
        // Interpolate the SAME double weights the Spark plan bakes in
        // (Double.toString round-trips exactly through DuckDB's parser).
        val ws = Stats.ewmaWeights(0.3, 8)
        val over = "OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)"
        val num = ws.zipWithIndex.map { case (wt, j) =>
          s"COALESCE(LAG(value, $j) $over, 0.0) * CAST($wt AS DOUBLE)"
        }.mkString(" + ")
        val den = ws.zipWithIndex.map { case (wt, j) =>
          s"CASE WHEN LAG(value, $j) $over IS NOT NULL THEN CAST($wt AS DOUBLE) ELSE 0.0 END"
        }.mkString(" + ")
        s"""SELECT user_id, epoch_ns(ts) AS ts_ns, event_id,
           |  ROUND(value, 4) AS value,
           |  ROUND(($num) / ($den), 4) AS ewma
           |FROM events WHERE event_type = 'purchase'
           |ORDER BY user_id, ts_ns, event_id""".stripMargin
      },
      "bottomk_sample" ->
        """SELECT doc_id, lang, source, MD5(CAST(doc_id AS VARCHAR)) AS digest
          |FROM documents ORDER BY digest LIMIT 100""".stripMargin,
      "state_asof" ->
        """SELECT user_id, event_id AS last_event_id,
          |  event_type AS last_event_type, ROUND(value, 4) AS last_value,
          |  tu AS ts_us
          |FROM (
          |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS tu,
          |    ROW_NUMBER() OVER (PARTITION BY user_id
          |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
          |  FROM events WHERE epoch_us(ts) <= 1705276800000000) t
          |WHERE rn = 1 ORDER BY user_id""".stripMargin,
      "rolling_distinct_users" ->
        """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
          |x AS (SELECT day + CAST(o AS INTEGER) AS day2, user_id
          |      FROM du, UNNEST(generate_series(0, 6)) AS t(o)),
          |hi AS (SELECT MAX(day) AS hi FROM du)
          |SELECT STRFTIME(day2, '%Y-%m-%d') AS day,
          |       COUNT(DISTINCT user_id) AS users_7d
          |FROM x CROSS JOIN hi WHERE day2 <= hi
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      "cdc_merge" ->
        """SELECT user_id, event_type, value, tu FROM (
          |  SELECT user_id, event_type, value, epoch_us(ts) AS tu,
          |    ROW_NUMBER() OVER (PARTITION BY user_id
          |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
          |  FROM events) t
          |WHERE rn = 1
          |  AND NOT (tu > 1705276800000000 AND event_type = 'error')
          |ORDER BY user_id""".stripMargin,
      "negative_samples" ->
        """WITH p AS (SELECT doc_id AS neg_id FROM documents WHERE doc_id % 50 = 0),
          |x AS (
          |  SELECT d.doc_id AS anchor_id, neg_id,
          |    MD5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(neg_id AS VARCHAR)) AS digest
          |  FROM documents d CROSS JOIN p WHERE d.doc_id <> neg_id),
          |r AS (SELECT anchor_id, neg_id,
          |        ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY digest) AS rank
          |      FROM x)
          |SELECT anchor_id, CAST(rank AS INTEGER) AS rank, neg_id
          |FROM r WHERE rank <= 3 ORDER BY anchor_id, rank""".stripMargin,
      "window_funcs_extra" ->
        """SELECT s_suppkey, s_nationkey,
          |  ROUND(s_acctbal, 2) AS acctbal,
          |  ROUND(PERCENT_RANK() OVER wnd, 4) AS pct_rank,
          |  ROUND(CUME_DIST() OVER wnd, 4) AS cume,
          |  FIRST_VALUE(s_suppkey) OVER wnd AS top_supp,
          |  NTH_VALUE(s_suppkey, 2) OVER wnd AS second_supp
          |FROM supplier
          |WINDOW wnd AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
          |ORDER BY s_nationkey, pct_rank, s_suppkey""".stripMargin
    )
    // ------------------------------------------------------------------
    // Dedup / curation / multimodal oracles. The engine's shingle stream
    // hashes word 3-grams with XXH64 (Dedup.hashedShingles); Jaccard over
    // the hashed sets equals Jaccard over the STRING sets modulo hash
    // collisions (none at this corpus size), so DuckDB re-derives the
    // string sets directly. A hash match therefore certifies the whole
    // candidate-generation + verify pipeline, including that LSH banding
    // lost no true pair at the query threshold on this corpus.
    // ------------------------------------------------------------------
    // Word-3-gram shingle CTE bodies (src = a relation with doc_id, text).
    def shingleCte(rel: String, prefix: String = "") =
      s"""${prefix}t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM $rel),
         |${prefix}sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
         |       FROM ${prefix}t, UNNEST(range(1, len(toks)-1)) AS u(i) WHERE len(toks) >= 3)""".stripMargin
    // Exact pairwise Jaccard over the shingle sets of `sh`.
    val jaccardCte =
      """sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ov
        |          FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |jac AS (SELECT da, db, ov/(na.n+nb.n-ov) AS j FROM inter
        |        JOIN sizes na ON na.doc_id = da JOIN sizes nb ON nb.doc_id = db)""".stripMargin
    // Connected components of the J >= `thr` similarity graph via
    // transitive closure (the corpus is small at oracle scale; the
    // engine's iterative min-label propagation reaches the same fixpoint).
    def componentCte(thr: String) =
      s"""edges AS (SELECT da, db FROM jac WHERE j >= $thr),
         |sym AS (SELECT da AS s, db AS d FROM edges UNION SELECT db, da FROM edges),
         |reach(s, d) AS (SELECT s, d FROM sym UNION SELECT r.s, y.d FROM reach r JOIN sym y ON r.d = y.s),
         |comp AS (SELECT s AS doc_id, least(s, min(d)) AS cluster_id FROM reach GROUP BY s)""".stripMargin
    // Multimodal STUB fold (Multimodal.fold): h0 = 1125899906842597,
    // h = wrap64(h*31 + byte) over the payload bytes (ASCII text, so
    // ord(char) == byte). Wrapping 64-bit arithmetic emulated in HUGEINT;
    // arithmetic shifts/floorMod via sign-correct floor division.
    def wrap64(x: String) =
      s"((($x) % 18446744073709551616::HUGEINT + 18446744073709551616::HUGEINT + 9223372036854775808::HUGEINT) % 18446744073709551616::HUGEINT - 9223372036854775808::HUGEINT)"
    def floorMod(x: String, m: String) = s"((($x) % $m + $m) % $m)"
    def floorDiv(x: String, m: String) = s"((($x) - ${floorMod(x, m)}) // $m)"
    val foldCol =
      "CAST(list_reduce(list_prepend(1125899906842597::HUGEINT, " +
        "list_transform(range(1, length(text)+1), i -> ord(substr(text, i, 1))::HUGEINT)), " +
        s"(a, b) -> ${wrap64("a*31 + b")}) AS BIGINT)"
    // LSH hyperplane bucket (Similarity.planes(4, 64, seed=42) —
    // deterministic, so the EXACT plane constants inline as literals;
    // Double.toString round-trips through DuckDB's parser, and the sign
    // of a ~unit dot product is reassociation-robust).
    val lshBucketCol = Similarity.planes(4, 64, 42L).zipWithIndex.map {
      case (p, j) =>
        val lits = p.map(_.toDouble.toString).mkString("[", ",", "]")
        s"(CASE WHEN list_dot_product(emb_d, $lits::DOUBLE[]) >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    // Seeded IVF coarse-quantizer scores (centroids(16, 64, seed=7) —
    // deterministic, inlined like the planes). Cell = FIRST max index
    // (list_position returns the first occurrence, matching
    // IvfCellAssign's lower-index tie rule); probe cells = score desc,
    // index asc (probeCellsExpr's tie order).
    val ivfScoresCol = Similarity.centroids(16, 64, 7L).map { c =>
      val lits = c.map(_.toDouble.toString).mkString("[", ",", "]")
      s"list_dot_product(emb_d, $lits::DOUBLE[])"
    }.mkString("[", ",", "]")
    // Shared CTE bodies for the seeded-ANN oracles.
    val annLshCte =
      s"""b AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb_d FROM embeddings),
         |bk AS (SELECT vec_id, label, emb_d, $lshBucketCol AS bucket,
         |       sqrt(list_dot_product(emb_d, emb_d)) AS nrm FROM b),
         |q AS (SELECT bucket AS qb, emb_d AS qe, nrm AS qn FROM bk WHERE vec_id = 0),
         |lsh_topk AS (
         |  SELECT vec_id, label, ROUND(list_dot_product(emb_d, qe)/(nrm*qn), 4) AS cosine
         |  FROM bk, q WHERE vec_id <> 0 AND bit_count(xor(bucket::BIGINT, qb::BIGINT)) <= 1
         |  ORDER BY cosine DESC, vec_id LIMIT 10)""".stripMargin
    val annIvfCte =
      s"""b AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb_d FROM embeddings),
         |cells AS (SELECT vec_id, label, emb_d, ss,
         |          sqrt(list_dot_product(emb_d, emb_d)) AS nrm,
         |          list_position(ss, list_aggregate(ss, 'max')) AS cell
         |          FROM (SELECT vec_id, label, emb_d, $ivfScoresCol AS ss FROM b)),
         |qp AS (SELECT emb_d AS qe, nrm AS qn, ss AS qss FROM cells WHERE vec_id = 0),
         |probe AS (SELECT i AS pcell FROM qp, UNNEST(range(1, len(qss)+1)) AS u(i)
         |          ORDER BY qss[i] DESC, i LIMIT 2),
         |ivf_topk AS (
         |  SELECT vec_id, label, ROUND(list_dot_product(emb_d, qe)/(nrm*qn), 4) AS cosine
         |  FROM cells, qp WHERE cell IN (SELECT pcell FROM probe)
         |  ORDER BY cosine DESC, vec_id LIMIT 10)""".stripMargin
    // corpus_prep / train_prep share the curation pipeline: corpus =
    // doc_id >= 50, eval slice = doc_id < 50; quality/contamination/
    // digest/cluster verdicts exactly as CorpusPrep.prepare derives them.
    val curationCte =
      s"""corpus AS (SELECT * FROM documents WHERE doc_id >= 50),
         |eval_docs AS (SELECT * FROM documents WHERE doc_id < 50),
         |${shingleCte("corpus")},
         |${shingleCte("eval_docs", "e")},
         |trainrare AS (SELECT doc_id, g FROM
         |  (SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS df FROM sh) WHERE df <= 20),
         |contam AS (SELECT DISTINCT tr.doc_id FROM esh e JOIN trainrare tr ON e.g = tr.g
         |           GROUP BY e.doc_id, tr.doc_id HAVING count(*) >= 5),
         |$jaccardCte,
         |${componentCte("0.5")},
         |flagged AS (
         |  SELECT c.doc_id, md5(c.text) AS content_digest,
         |    COALESCE(cm.doc_id IS NOT NULL, FALSE) AS is_contaminated,
         |    (LEN(string_split_regex(TRIM(c.text), '\\s+')) >= 5
         |     AND LENGTH(REGEXP_REPLACE(c.text, '[^A-Za-z]', '', 'g')) / LENGTH(c.text) > 0.6) AS quality_ok,
         |    COALESCE(cp.cluster_id, c.doc_id) AS cluster_id
         |  FROM corpus c LEFT JOIN contam cm ON cm.doc_id = c.doc_id
         |  LEFT JOIN comp cp ON cp.doc_id = c.doc_id),
         |s3 AS (
         |  SELECT doc_id, quality_ok, is_contaminated,
         |    (quality_ok AND NOT is_contaminated) AS eligible,
         |    doc_id <> min(doc_id) OVER (PARTITION BY content_digest) AS is_exact_dup,
         |    doc_id <> min(doc_id) OVER (PARTITION BY cluster_id) AS is_near_dup,
         |    min(CASE WHEN quality_ok AND NOT is_contaminated THEN doc_id END) OVER (PARTITION BY content_digest) AS dig_surv,
         |    min(CASE WHEN quality_ok AND NOT is_contaminated THEN doc_id END) OVER (PARTITION BY cluster_id) AS clu_surv
         |  FROM flagged)""".stripMargin
    // The v2 composite: blocklist verdict (row-local), containment
    // edges widening the cluster graph (the engine's winnow xxh64 chain
    // via containmentPairsSql — string 3-grams can't reproduce which
    // shingle wins a window minimum), and the semantic outlier screen
    // (the kmeans oracle, embedded as a WITH-subquery); eligibility
    // AND-s all four verdicts, survivors staged exactly as v1.
    // `spans = true` (corpus_prep_v3) additionally re-derives the
    // span-contamination veto: rare eval grams (EVAL-side df ≤ 20, the
    // indexed screen's batch-independent rule), positional corpus
    // 3-grams, gaps-and-islands run lengths, span_ok = max run < 8.
    def curationCteV2(spans: Boolean = false,
                      neardup: Boolean = false,
                      gopher: Boolean = false): String = {
      // Fuzzy (MinHash) contamination veto re-derived as per-doc EXACT
      // Jaccard against the eval slice (the contamination_neardup
      // oracle's rule; the engine's LSH banding is certified lossless
      // on this corpus by OracleAssumptionsSpec's recall-knee pin).
      val ndCtes = if (!neardup) "" else
        """ndcsz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          |ndesz AS (SELECT doc_id, count(*) AS n FROM esh GROUP BY 1),
          |ndx AS (SELECT s.doc_id AS da, e.doc_id AS db, count(*) AS ov
          |        FROM sh s JOIN esh e ON s.g = e.g GROUP BY 1, 2),
          |ndhit AS (SELECT DISTINCT da AS doc_id FROM ndx
          |          JOIN ndcsz ON ndcsz.doc_id = da JOIN ndesz ON ndesz.doc_id = db
          |          WHERE ov/(ndcsz.n+ndesz.n-ov) >= 0.5),
          |""".stripMargin
      val ndCol = if (neardup)
        ",\n    nd.doc_id IS NULL AS neardup_ok" else ""
      val ndJoin = if (neardup)
        "\n  LEFT JOIN ndhit nd ON nd.doc_id = c.doc_id" else ""
      val ndElig = if (neardup) " AND neardup_ok" else ""
      val ndPass = if (neardup) ", neardup_ok" else ""
      val gqCtes = if (!gopher) "" else gopherGateCtes("corpus") + ",\n"
      val gCol = if (gopher) ",\n    gq.gopher_ok" else ""
      val gJoin = if (gopher)
        "\n  JOIN gq ON gq.doc_id = c.doc_id" else ""
      val gElig = if (gopher) " AND gopher_ok" else ""
      val gPass = if (gopher) ", gopher_ok" else ""
      val spanCtes = if (!spans) "" else
        """srare AS (SELECT g FROM (SELECT g, count(*) AS df FROM esh GROUP BY 1) WHERE df <= 20),
          |cposh AS (SELECT doc_id, i AS pos, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
          |          FROM t, UNNEST(range(1, len(toks)-1)) AS u(i) WHERE len(toks) >= 3),
          |sphit AS (SELECT doc_id, pos FROM cposh WHERE g IN (SELECT g FROM srare)),
          |spisl AS (SELECT doc_id, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM sphit),
          |spruns AS (SELECT doc_id, island, count(*) + 2 AS run_tokens FROM spisl GROUP BY 1, 2),
          |spper AS (SELECT doc_id, max(run_tokens)::BIGINT AS span_run FROM spruns GROUP BY 1),
          |""".stripMargin
      val spanCols = if (spans)
        """,
          |    r.dup_3gram_frac,
          |    COALESCE(sp.span_run, 0) AS contam_span_run,
          |    COALESCE(sp.span_run, 0) < 8 AS span_ok""".stripMargin
      else ""
      val spanJoin = if (spans)
        "\n  LEFT JOIN spper sp ON sp.doc_id = c.doc_id" else ""
      val spanElig = if (spans) " AND span_ok" else ""
      val spanPass = if (spans)
        ", dup_3gram_frac, contam_span_run, span_ok" else ""
      s"""corpus AS (SELECT * FROM documents WHERE doc_id >= 50),
         |eval_docs AS (SELECT * FROM documents WHERE doc_id < 50),
         |${shingleCte("corpus")},
         |${shingleCte("eval_docs", "e")},
         |trainrare AS (SELECT doc_id, g FROM
         |  (SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS df FROM sh) WHERE df <= 20),
         |contam AS (SELECT DISTINCT tr.doc_id FROM esh e JOIN trainrare tr ON e.g = tr.g
         |           GROUP BY e.doc_id, tr.doc_id HAVING count(*) >= 5),
         |$jaccardCte,
         |cont AS (SELECT doc_a AS da, doc_b AS db FROM
         |  (${graft.oracle.Xxh64Sql.containmentPairsSql(0.5, "corpus")})),
         |edges AS (SELECT da, db FROM jac WHERE j >= 0.5
         |          UNION SELECT da, db FROM cont),
         |sym AS (SELECT da AS s, db AS d FROM edges UNION SELECT db, da FROM edges),
         |reach(s, d) AS (SELECT s, d FROM sym UNION SELECT r.s, y.d FROM reach r JOIN sym y ON r.d = y.s),
         |comp AS (SELECT s AS doc_id, least(s, min(d)) AS cluster_id FROM reach GROUP BY s),
         |bl AS (SELECT doc_id,
         |  CASE WHEN LEN(btoks) = 0 THEN FALSE ELSE
         |    CAST(LEN(list_filter(btoks, t -> list_contains(['dup','skew','spill'], lower(t)))) AS DOUBLE) / LEN(btoks) > 0.05 END AS is_blocked
         |  FROM (SELECT doc_id, list_filter(string_split_regex(TRIM(text), '\\s+'), t -> LEN(t) > 0) AS btoks FROM corpus)),
         |outl AS (SELECT vec_id AS doc_id FROM
         |  (${graft.oracle.KmeansSql.semanticOutliersSql()})),
         |crep AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
         |         FROM t, UNNEST(range(1, len(toks)-1)) AS u(i) WHERE len(toks) >= 3),
         |crepf AS (SELECT doc_id, ROUND(1.0 - count(DISTINCT g) / count(*), 4) AS dup_3gram_frac
         |          FROM crep GROUP BY 1),
         |$spanCtes$ndCtes${gqCtes}flagged AS (
         |  SELECT c.doc_id, md5(c.text) AS content_digest,
         |    COALESCE(cm.doc_id IS NOT NULL, FALSE) AS is_contaminated,
         |    (LEN(string_split_regex(TRIM(c.text), '\\s+')) >= 5
         |     AND LENGTH(REGEXP_REPLACE(c.text, '[^A-Za-z]', '', 'g')) / LENGTH(c.text) > 0.6) AS quality_ok,
         |    bl.is_blocked,
         |    COALESCE(o.doc_id IS NOT NULL, FALSE) AS is_outlier,
         |    COALESCE(r.dup_3gram_frac <= 0.05, TRUE) AS repetition_ok,
         |    COALESCE(cp.cluster_id, c.doc_id) AS cluster_id$spanCols$ndCol$gCol
         |  FROM corpus c LEFT JOIN contam cm ON cm.doc_id = c.doc_id
         |  LEFT JOIN comp cp ON cp.doc_id = c.doc_id
         |  JOIN bl ON bl.doc_id = c.doc_id
         |  LEFT JOIN outl o ON o.doc_id = c.doc_id
         |  LEFT JOIN crepf r ON r.doc_id = c.doc_id$spanJoin$ndJoin$gJoin),
         |s3 AS (
         |  SELECT doc_id, quality_ok, is_blocked, is_contaminated, is_outlier, repetition_ok$spanPass$ndPass$gPass,
         |    (quality_ok AND NOT is_blocked AND NOT is_contaminated AND NOT is_outlier AND repetition_ok$spanElig$ndElig$gElig) AS eligible,
         |    doc_id <> min(doc_id) OVER (PARTITION BY content_digest) AS is_exact_dup,
         |    doc_id <> min(doc_id) OVER (PARTITION BY cluster_id) AS is_near_dup,
         |    min(CASE WHEN quality_ok AND NOT is_blocked AND NOT is_contaminated AND NOT is_outlier AND repetition_ok$spanElig$ndElig$gElig THEN doc_id END) OVER (PARTITION BY content_digest) AS dig_surv,
         |    min(CASE WHEN quality_ok AND NOT is_blocked AND NOT is_contaminated AND NOT is_outlier AND repetition_ok$spanElig$ndElig$gElig THEN doc_id END) OVER (PARTITION BY cluster_id) AS clu_surv
         |  FROM flagged)""".stripMargin
    }
    // The incremental-composite oracle, shared by curation_screen (base
    // screens; contamination/outlier columns pinned to the engine's
    // screen-off constants) and curation_screen_v2 (full = true: the
    // eval-gram contamination verdict — string 3-grams with the
    // EVAL-side df-cap stop-gram rule — and the frozen-model outlier
    // verdict via the unrolled k-means chain fit on vec_id < 450).
    def incrementalScreenSql(full: Boolean,
                             neardup: Boolean = false,
                             gopher: Boolean = false): String = {
      // Fuzzy contamination verdict: per-doc exact Jaccard vs the eval
      // slice with the engine's (rounded-j, eval_id DESC) tie order —
      // the `best` CTE's convention for the novelty screen. Requires
      // full (vsh is defined in the contamination block) — enforced,
      // so a future full=false+neardup registration fails here with a
      // message instead of as a DuckDB bind error on the oracle side.
      require(full || !neardup,
        "neardup verdict needs the full contamination CTEs (vsh)")
      val ndCtes = if (!neardup) "" else
        """ndbsz AS (SELECT doc_id, count(*) AS n FROM bsh GROUP BY 1),
          |ndvsz AS (SELECT doc_id, count(*) AS n FROM vsh GROUP BY 1),
          |ndx AS (SELECT b.doc_id AS da, v.doc_id AS db, count(*) AS ov
          |        FROM bsh b JOIN vsh v ON b.g = v.g GROUP BY 1, 2),
          |ndsc AS (SELECT da AS doc_id, ROUND(ov/(bn.n+vn.n-ov), 4) AS j, db AS eval_id
          |         FROM ndx JOIN ndbsz bn ON bn.doc_id = da JOIN ndvsz vn ON vn.doc_id = db
          |         WHERE ov/(bn.n+vn.n-ov) >= 0.5),
          |ndbest AS (SELECT doc_id, j AS eval_jaccard, eval_id AS eval_match_id FROM
          |  (SELECT *, row_number() OVER (PARTITION BY doc_id
          |     ORDER BY j DESC, eval_id DESC) AS rn FROM ndsc) WHERE rn = 1),
          |""".stripMargin
      val ndVerdictCols = if (neardup)
        """,
          |  ndbest.doc_id IS NULL AS neardup_ok,
          |  ndbest.eval_jaccard, ndbest.eval_match_id""".stripMargin
      else
        """,
          |  TRUE AS neardup_ok,
          |  CAST(NULL AS DOUBLE) AS eval_jaccard,
          |  CAST(NULL AS BIGINT) AS eval_match_id""".stripMargin
      val ndJoin = if (neardup)
        "\n  LEFT JOIN ndbest ON ndbest.doc_id = b.doc_id" else ""
      // gopher_ok is ALWAYS emitted (TRUE when the screen is off) —
      // the engine's verdict frame carries the column unconditionally.
      val gCtes = if (!gopher) "" else gopherGateCtes("batch") + ",\n"
      val gCol = if (gopher) ",\n  gq.gopher_ok" else ",\n  TRUE AS gopher_ok"
      val gJoin = if (gopher) "\n  JOIN gq ON gq.doc_id = b.doc_id" else ""
      val contamCtes = if (!full) "" else
        s"""evals AS (SELECT * FROM documents WHERE doc_id < 50),
           |${shingleCte("evals", "v")},
           |vrare AS (SELECT doc_id, g FROM
           |  (SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS df FROM vsh) WHERE df <= 20),
           |ccand AS (SELECT b.doc_id, v.doc_id AS eval_id, count(*) AS shared
           |          FROM bsh b JOIN vrare v ON b.g = v.g GROUP BY 1, 2
           |          HAVING count(*) >= 5),
           |cbest AS (SELECT doc_id, shared AS contam_shared, eval_id AS contam_match_id FROM
           |  (SELECT *, row_number() OVER (PARTITION BY doc_id
           |     ORDER BY shared DESC, eval_id DESC) AS rn FROM ccand) WHERE rn = 1),
           |outv AS (SELECT vec_id, zscore, is_outlier FROM
           |  (${graft.oracle.KmeansSql.semanticOutliersIndexedSql()})),
           |brep AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
           |         FROM bt, UNNEST(range(1, len(toks)-1)) AS u(i) WHERE len(toks) >= 3),
           |repf AS (SELECT doc_id, ROUND(1.0 - count(DISTINCT g) / count(*), 4) AS dup_3gram_frac
           |         FROM brep GROUP BY 1),
           |srare AS (SELECT DISTINCT g FROM vrare),
           |bposh AS (SELECT doc_id, i AS pos, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
           |          FROM bt, UNNEST(range(1, len(toks)-1)) AS u(i) WHERE len(toks) >= 3),
           |sphit AS (SELECT doc_id, pos FROM bposh WHERE g IN (SELECT g FROM srare)),
           |spisl AS (SELECT doc_id, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM sphit),
           |spruns AS (SELECT doc_id, island, count(*) + 2 AS run_tokens FROM spisl GROUP BY 1, 2),
           |spper AS (SELECT doc_id, max(run_tokens)::BIGINT AS span_run FROM spruns GROUP BY 1),
           |""".stripMargin
      val verdictCols = if (full)
        """cbest.doc_id IS NOT NULL AS is_contaminated,
          |  cbest.contam_shared, cbest.contam_match_id,
          |  COALESCE(spper.span_run, 0) AS contam_span_run,
          |  COALESCE(spper.span_run, 0) < 8 AS span_ok,
          |  COALESCE(o.is_outlier, FALSE) AS is_outlier,
          |  o.zscore AS outlier_zscore,
          |  repf.dup_3gram_frac,
          |  COALESCE(repf.dup_3gram_frac <= 0.05, TRUE) AS repetition_ok""".stripMargin
      else
        """FALSE AS is_contaminated,
          |  CAST(NULL AS BIGINT) AS contam_shared,
          |  CAST(NULL AS BIGINT) AS contam_match_id,
          |  CAST(NULL AS BIGINT) AS contam_span_run,
          |  TRUE AS span_ok,
          |  FALSE AS is_outlier, CAST(NULL AS DOUBLE) AS outlier_zscore,
          |  CAST(NULL AS DOUBLE) AS dup_3gram_frac,
          |  TRUE AS repetition_ok""".stripMargin
      val verdictJoins = if (full)
        """
          |  LEFT JOIN cbest ON cbest.doc_id = b.doc_id
          |  LEFT JOIN outv o ON o.vec_id = b.doc_id
          |  LEFT JOIN repf ON repf.doc_id = b.doc_id
          |  LEFT JOIN spper ON spper.doc_id = b.doc_id""".stripMargin
      else ""
      s"""WITH RECURSIVE
         |batch AS (SELECT * FROM documents WHERE doc_id >= 450),
         |standing AS (SELECT * FROM documents WHERE doc_id < 450),
         |rl AS (SELECT doc_id,
         |  (LEN(string_split_regex(TRIM(text), '\\s+')) >= 5
         |   AND LENGTH(REGEXP_REPLACE(text, '[^A-Za-z]', '', 'g')) / LENGTH(text) > 0.6) AS quality_ok,
         |  CASE WHEN LEN(btoks) = 0 THEN 0.0
         |       ELSE CAST(LEN(list_filter(btoks, t -> list_contains(['dup','skew','spill'], lower(t)))) AS DOUBLE) / LEN(btoks)
         |  END AS bfrac
         |  FROM (SELECT doc_id, text,
         |          list_filter(string_split_regex(TRIM(text), '\\s+'), t -> LEN(t) > 0) AS btoks
         |        FROM batch)),
         |$gCtes${shingleCte("batch", "b")},
         |${shingleCte("standing", "c")},
         |$contamCtes$ndCtes
         |bsz AS (SELECT doc_id, count(*) AS n FROM bsh GROUP BY 1),
         |csz AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY 1),
         |ninter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ov
         |           FROM bsh a JOIN csh b ON a.g = b.g GROUP BY 1, 2),
         |novscored AS (SELECT da AS doc_id, ROUND(ov/(na.n+nb.n-ov), 4) AS j, db AS corpus_id
         |  FROM ninter JOIN bsz na ON na.doc_id = da JOIN csz nb ON nb.doc_id = db
         |  WHERE ov/(na.n+nb.n-ov) >= 0.5),
         |best AS (SELECT doc_id, j AS best_jaccard, corpus_id AS match_id FROM
         |  (SELECT *, row_number() OVER (PARTITION BY doc_id
         |     ORDER BY j DESC, corpus_id DESC) AS rn FROM novscored) WHERE rn = 1),
         |dsir_target AS (SELECT * FROM documents WHERE doc_id < 250),
         |tfe AS (${graft.oracle.Xxh64Sql.dsirFeatsSql("dsir_target")}),
         |sfe AS (${graft.oracle.Xxh64Sql.dsirFeatsSql("batch")}),
         |${graft.oracle.Xxh64Sql.dsirScoreCtes()},
         |dw AS (${graft.oracle.Xxh64Sql.dsirScoreSelect}),
         |cnv AS (${graft.oracle.Xxh64Sql.containmentNovelSql()}),
         |snv AS (${graft.oracle.Xxh64Sql.simhashNovelSql()}),
         |v AS (SELECT b.doc_id, rl.quality_ok,
         |  ROUND(rl.bfrac, 4) AS blocked_frac,
         |  rl.bfrac <= 0.05 AS blocklist_ok,
         |  dw.mean_log_ratio,
         |  COALESCE(dw.mean_log_ratio >= 0.0, FALSE) AS dsir_ok,
         |  best.best_jaccard IS NULL AS is_novel,
         |  best.best_jaccard, best.match_id,
         |  NOT cnv.is_novel AS is_contained,
         |  cnv.best_containment, cnv.match_id AS container_id,
         |  NOT snv.is_novel AS is_hamming_dup,
         |  snv.best_hamming, snv.match_id AS hamming_match_id,
         |  $verdictCols$ndVerdictCols$gCol
         |  FROM batch b JOIN rl ON rl.doc_id = b.doc_id
         |  LEFT JOIN best ON best.doc_id = b.doc_id
         |  LEFT JOIN dw ON dw.doc_id = b.doc_id
         |  JOIN cnv ON cnv.doc_id = b.doc_id
         |  JOIN snv ON snv.doc_id = b.doc_id$verdictJoins$ndJoin$gJoin),
         |flagged AS MATERIALIZED (SELECT *,
         |  (quality_ok AND blocklist_ok AND gopher_ok AND is_novel AND dsir_ok
         |   AND NOT is_contained AND NOT is_hamming_dup
         |   AND NOT is_contaminated AND span_ok AND neardup_ok
         |   AND NOT is_outlier AND repetition_ok) AS eligible
         |  FROM v),
         |edocs AS (SELECT b.doc_id, b.text FROM batch b
         |  JOIN flagged f ON f.doc_id = b.doc_id AND f.eligible),
         |${shingleCte("edocs")},
         |$jaccardCte,
         |${componentCte("0.5")},
         |surv AS (SELECT e.doc_id, COALESCE(cp.cluster_id, e.doc_id) AS cluster_id
         |  FROM edocs e LEFT JOIN comp cp ON cp.doc_id = e.doc_id)
         |SELECT f.doc_id, f.quality_ok, f.blocked_frac, f.blocklist_ok,
         |  f.mean_log_ratio, f.dsir_ok, f.is_novel, f.best_jaccard, f.match_id,
         |  f.is_contained, f.best_containment, f.container_id,
         |  f.is_hamming_dup, f.best_hamming, f.hamming_match_id,
         |  f.is_contaminated, f.contam_shared, f.contam_match_id,
         |  f.contam_span_run, f.span_ok,
         |  f.neardup_ok, f.eval_jaccard, f.eval_match_id,
         |  f.is_outlier, f.outlier_zscore,
         |  f.dup_3gram_frac, f.repetition_ok, f.gopher_ok,
         |  COALESCE(f.doc_id = s.cluster_id, FALSE) AS batch_survivor,
         |  (f.eligible AND COALESCE(f.doc_id = s.cluster_id, FALSE)) AS kept
         |FROM flagged f LEFT JOIN surv s ON s.doc_id = f.doc_id
         |ORDER BY f.doc_id""".stripMargin
    }
    val extOracles = unique(
      // Hybrid RRF fusion: the oracle re-derives BOTH candidate lists
      // (the bm25_topk scoring tree at LIMIT 50; the cosine_topk
      // LATERAL at LIMIT 50), re-ranks each with the generator's own
      // total order, and fuses with the identical 1/(60+rank) IEEE
      // tree — full outer join, doc_id tiebreak.
      "hybrid_topk" ->
        """WITH w AS (
          |  SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\s+')) AS term
          |  FROM documents),
          |q AS (SELECT UNNEST(['spark', 'vector', 'dup']) AS term),
          |h AS (SELECT w.doc_id, w.term FROM w JOIN q USING (term)),
          |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM h GROUP BY 1, 2),
          |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM h GROUP BY 1),
          |dl AS (SELECT doc_id, LEN(string_split_regex(TRIM(text), '\s+')) AS dl FROM documents),
          |st AS (SELECT COUNT(*) AS n, SUM(CAST(dl AS DECIMAL(18,6))) AS sdl FROM dl),
          |c AS (
          |  SELECT tf.doc_id,
          |    CAST(LN(1.0 + (CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
          |      * (CAST(tf AS DOUBLE) * 2.2 / (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE)))))
          |      AS DECIMAL(27,12)) AS c
          |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
          |sparse AS (
          |  SELECT doc_id, ROUND(CAST(SUM(c) AS DOUBLE), 4) AS score
          |  FROM c GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 50),
          |sr AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS sparse_rank FROM sparse),
          |qe AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
          |dense AS (
          |  SELECT e.vec_id AS doc_id, ROUND(d.dp / (SQRT(d.na) * SQRT(d.nb)), 4) AS cosine
          |  FROM embeddings e, qe,
          |  LATERAL (SELECT SUM(CAST(a AS DOUBLE) * CAST(b AS DOUBLE)) AS dp,
          |                  SUM(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)) AS na,
          |                  SUM(CAST(b AS DOUBLE) * CAST(b AS DOUBLE)) AS nb
          |           FROM (SELECT UNNEST(e.embedding) AS a, UNNEST(qe.qe) AS b) t) d
          |  WHERE e.vec_id <> 0
          |  ORDER BY cosine DESC, e.vec_id LIMIT 50),
          |dr AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS dense_rank FROM dense)
          |SELECT COALESCE(sr.doc_id, dr.doc_id) AS doc_id, sparse_rank, dense_rank,
          |  ROUND(COALESCE(1.0 / (60 + sparse_rank), 0) + COALESCE(1.0 / (60 + dense_rank), 0), 6) AS rrf_score
          |FROM sr FULL OUTER JOIN dr ON sr.doc_id = dr.doc_id
          |ORDER BY rrf_score DESC, doc_id LIMIT 10""".stripMargin,
      // MMR diversification: a recursive CTE replays the greedy
      // trajectory exactly — candidates and the pairwise 4dp cosine
      // matrix as CTEs, the picked set carried as a growing list, each
      // step's argmax re-derived with the identical
      // 0.7·rel − 0.3·maxSim IEEE tree and vec_id tiebreak.
      "mmr_topk" ->
        """WITH RECURSIVE
          |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
          |cand AS (
          |  SELECT e.vec_id, e.embedding,
          |         ROUND(d.dp / (SQRT(d.na) * SQRT(d.nb)), 4) AS rel
          |  FROM embeddings e, q,
          |  LATERAL (SELECT SUM(CAST(a AS DOUBLE) * CAST(b AS DOUBLE)) AS dp,
          |                  SUM(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)) AS na,
          |                  SUM(CAST(b AS DOUBLE) * CAST(b AS DOUBLE)) AS nb
          |           FROM (SELECT UNNEST(e.embedding) AS a, UNNEST(q.qe) AS b) t) d
          |  WHERE e.vec_id <> 0
          |  ORDER BY rel DESC, e.vec_id LIMIT 30),
          |pairs AS (
          |  SELECT a.vec_id AS ai, b.vec_id AS bi,
          |         ROUND(d.dp / (SQRT(d.na) * SQRT(d.nb)), 4) AS sim
          |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id,
          |  LATERAL (SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dp,
          |                  SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS na,
          |                  SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS nb
          |           FROM (SELECT UNNEST(a.embedding) AS x, UNNEST(b.embedding) AS y) t) d),
          |sel(step, picked, vec_id, rel, mmr) AS (
          |  SELECT 1, [c.vec_id], c.vec_id, c.rel, 0.7 * c.rel
          |  FROM (SELECT * FROM cand ORDER BY rel DESC, vec_id LIMIT 1) c
          |  UNION ALL
          |  SELECT sel.step + 1, list_append(sel.picked, n.vec_id), n.vec_id, n.rel, n.mmr
          |  FROM sel,
          |  LATERAL (
          |    SELECT c.vec_id, c.rel,
          |      0.7 * c.rel - 0.3 * (SELECT MAX(p.sim) FROM pairs p
          |         WHERE p.ai = c.vec_id AND list_contains(sel.picked, p.bi)) AS mmr
          |    FROM cand c WHERE NOT list_contains(sel.picked, c.vec_id)
          |    ORDER BY mmr DESC, c.vec_id LIMIT 1) n
          |  WHERE sel.step < 10)
          |SELECT step AS rank, vec_id, rel AS relevance, ROUND(mmr, 4) AS mmr_score
          |FROM sel ORDER BY step""".stripMargin,
      // xxhash64-derived outputs, oracled by reproducing Spark's XXH64 in
      // DuckDB SQL (wrapping-64-bit HUGEINT arithmetic, staged subquery
      // pipeline) — see [[graft.oracle.Xxh64Sql]].
      // Seeded-structure ANN oracles: the hyperplanes and coarse
      // centroids are deterministic constants, so DuckDB re-runs the
      // same bucket / cell-probe / exact-rerank pipeline end to end.
      "ann_topk_lsh" ->
        s"""WITH $annLshCte
           |SELECT vec_id, label, cosine FROM lsh_topk""".stripMargin,
      "ann_topk_ivf" ->
        s"""WITH $annIvfCte
           |SELECT vec_id, label, cosine FROM ivf_topk""".stripMargin,
      "ann_recall" ->
        s"""WITH $annLshCte,
           |cells AS (SELECT vec_id, emb_d, ss,
           |          sqrt(list_dot_product(emb_d, emb_d)) AS nrm,
           |          list_position(ss, list_aggregate(ss, 'max')) AS cell
           |          FROM (SELECT vec_id, emb_d, $ivfScoresCol AS ss FROM b)),
           |qp AS (SELECT emb_d AS qe, nrm AS qn, ss AS qss FROM cells WHERE vec_id = 0),
           |probe AS (SELECT i AS pcell FROM qp, UNNEST(range(1, len(qss)+1)) AS u(i)
           |          ORDER BY qss[i] DESC, i LIMIT 2),
           |ivf_topk AS (
           |  SELECT vec_id FROM cells, qp WHERE cell IN (SELECT pcell FROM probe)
           |  ORDER BY ROUND(list_dot_product(emb_d, qe)/(nrm*qn), 4) DESC, vec_id LIMIT 10),
           |exact_topk AS (
           |  SELECT e.vec_id FROM bk e, q WHERE e.vec_id <> 0
           |  ORDER BY ROUND(list_dot_product(e.emb_d, qe)/(e.nrm*qn), 4) DESC, e.vec_id LIMIT 10)
           |SELECT
           |  (SELECT COUNT(*) FROM exact_topk WHERE vec_id IN (SELECT vec_id FROM lsh_topk)) / 10.0 AS recall_lsh,
           |  (SELECT COUNT(*) FROM exact_topk WHERE vec_id IN (SELECT vec_id FROM ivf_topk)) / 10.0 AS recall_ivf""".stripMargin,
      // k-means-backed outputs, oracled by reproducing kmeansFit in
      // DuckDB SQL (fixed-point sums, float rounding, unrolled Lloyd
      // iterations) — see [[graft.oracle.KmeansSql]].
      "kmeans_clusters" -> graft.oracle.KmeansSql.kmeansClustersSql,
      "semantic_outliers" -> graft.oracle.KmeansSql.semanticOutliersSql(),
      "semantic_outliers_indexed" ->
        graft.oracle.KmeansSql.semanticOutliersIndexedSql(),
      "ann_topk_indexed" -> graft.oracle.KmeansSql.annTopKIndexedSql,
      // PQ codebook training + encoding + ADC reproduced in SQL — see
      // [[graft.oracle.PqSql]].
      "pq_topk" -> graft.oracle.PqSql.pqTopKSql,
      "pq_rerank" -> graft.oracle.PqSql.pqRerankAutoSql(),
      "pq_rerank_indexed" -> graft.oracle.PqSql.pqRerankIvfAutoSql(),
      "pq_topk_ivf" -> graft.oracle.PqSql.pqTopKIvfSql,
      "pq_topk_indexed" -> graft.oracle.PqSql.pqTopKIvfSql,
      "pq_recall" -> graft.oracle.PqSql.pqRecallSql,
      "semantic_dedup" -> graft.oracle.KmeansSql.semanticDedupSql(multi = false),
      "semantic_dedup_multi" -> graft.oracle.KmeansSql.semanticDedupSql(multi = true),
      "semantic_novel" -> graft.oracle.KmeansSql.semanticNovelSql,
      "simhash_docs" -> graft.oracle.Xxh64Sql.simhashSql,
      "simhash_pairs" -> graft.oracle.Xxh64Sql.simhashPairsSql(),
      "simhash_pairs_r7" -> graft.oracle.Xxh64Sql.simhashPairsSql(7),
      "containment_pairs" -> graft.oracle.Xxh64Sql.containmentPairsSql(),
      "containment_novel" -> graft.oracle.Xxh64Sql.containmentNovelSql(),
      "simhash_novel" -> graft.oracle.Xxh64Sql.simhashNovelSql(),
      "simhash_novel_r5" -> graft.oracle.Xxh64Sql.simhashNovelSql(5),
      "doc_fingerprints" -> graft.oracle.Xxh64Sql.fingerprintSql,
      "doc_winnow" -> graft.oracle.Xxh64Sql.winnowSql,
      "span_dedup" -> graft.oracle.Xxh64Sql.spanDedupSql,
      // BPE merge learning + token accounting unrolled in SQL — see
      // [[graft.oracle.BpeSql]].
      "bpe_merges" -> graft.oracle.BpeSql.mergesSql,
      "bpe_encode" -> graft.oracle.BpeSql.encodeSql,
      "approx_percentiles" ->
        """SELECT event_type,
          |  ROUND(quantile_cont(value, 0.5), 4) AS p50_exact,
          |  ROUND(quantile_cont(value, 0.99), 4) AS p99_exact,
          |  TRUE AS p50_in_band, TRUE AS p99_in_band
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
      "approx_distinct" ->
        """SELECT COUNT(DISTINCT user_id) AS exact_users,
          |  COUNT(DISTINCT event_id) AS exact_events,
          |  TRUE AS users_err_le_15pct, TRUE AS events_err_le_3pct
          |FROM events""".stripMargin,
      "rolling_distinct_hll" ->
        """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
          |days AS (SELECT DISTINCT day FROM du),
          |x AS (SELECT d.day, u.user_id FROM days d
          |      JOIN du u ON u.day BETWEEN d.day - 6 AND d.day)
          |SELECT STRFTIME(day, '%Y-%m-%d') AS day,
          |  COUNT(DISTINCT user_id) AS exact_users_7d,
          |  TRUE AS est_err_le_5pct
          |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
      "ngram_jaccard_pairs" ->
        s"""WITH ${shingleCte("documents")},
           |$jaccardCte
           |SELECT da AS doc_a, db AS doc_b, ROUND(j, 4) AS jaccard
           |FROM jac WHERE j >= 0.3 ORDER BY 1, 2""".stripMargin,
      "minhash_pairs" ->
        s"""WITH ${shingleCte("documents")},
           |$jaccardCte
           |SELECT da AS doc_a, db AS doc_b, ROUND(j, 4) AS jaccard,
           |  TRUE AS est_within_02
           |FROM jac WHERE j >= 0.5 ORDER BY 1, 2""".stripMargin,
      "minhash_novel" ->
        s"""WITH ${shingleCte("(SELECT doc_id, text FROM documents WHERE doc_id >= 450)", "n")},
           |${shingleCte("(SELECT doc_id, text FROM documents WHERE doc_id < 450)", "c")},
           |nsz AS (SELECT doc_id, count(*) AS n FROM nsh GROUP BY 1),
           |csz AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY 1),
           |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ov
           |          FROM nsh a JOIN csh b ON a.g = b.g GROUP BY 1, 2),
           |dup AS (SELECT DISTINCT da AS doc_id FROM inter
           |        JOIN nsz ON nsz.doc_id = da JOIN csz ON csz.doc_id = db
           |        WHERE ov/(nsz.n+csz.n-ov) >= 0.5)
           |SELECT d.doc_id FROM documents d
           |WHERE d.doc_id >= 450 AND d.doc_id NOT IN (SELECT doc_id FROM dup)
           |ORDER BY 1""".stripMargin,
      // The fuzzy contamination rule: exhaustive exact Jaccard against
      // the eval slice, flagged = any eval pair at J >= 0.5 (the
      // engine's LSH banding is certified lossless on this corpus by
      // the same construction as minhash_novel).
      "contamination_neardup" ->
        s"""WITH ${shingleCte("(SELECT doc_id, text FROM documents WHERE doc_id >= 50)", "n")},
           |${shingleCte("(SELECT doc_id, text FROM documents WHERE doc_id < 50)", "c")},
           |nsz AS (SELECT doc_id, count(*) AS n FROM nsh GROUP BY 1),
           |csz AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY 1),
           |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ov
           |          FROM nsh a JOIN csh b ON a.g = b.g GROUP BY 1, 2)
           |SELECT DISTINCT da AS doc_id FROM inter
           |JOIN nsz ON nsz.doc_id = da JOIN csz ON csz.doc_id = db
           |WHERE ov/(nsz.n+csz.n-ov) >= 0.5
           |ORDER BY 1""".stripMargin,
      // contamination_neardup's oracle verbatim (the shared-oracle pin,
      // minhash_novel_indexed-style): the indexed screen must flag the
      // exact same docs as the scan form / exhaustive exact Jaccard.
      "contamination_neardup_indexed" ->
        s"""WITH ${shingleCte("(SELECT doc_id, text FROM documents WHERE doc_id >= 50)", "n")},
           |${shingleCte("(SELECT doc_id, text FROM documents WHERE doc_id < 50)", "c")},
           |nsz AS (SELECT doc_id, count(*) AS n FROM nsh GROUP BY 1),
           |csz AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY 1),
           |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ov
           |          FROM nsh a JOIN csh b ON a.g = b.g GROUP BY 1, 2)
           |SELECT DISTINCT da AS doc_id FROM inter
           |JOIN nsz ON nsz.doc_id = da JOIN csz ON csz.doc_id = db
           |WHERE ov/(nsz.n+csz.n-ov) >= 0.5
           |ORDER BY 1""".stripMargin,
      // The removal decision: the exhaustive exact-Jaccard dup set
      // (contamination_neardup's oracle) anti-joined — what survives
      // the fuzzy screen.
      "decontaminate_neardup" ->
        s"""WITH ${shingleCte("(SELECT doc_id, text FROM documents WHERE doc_id >= 50)", "n")},
           |${shingleCte("(SELECT doc_id, text FROM documents WHERE doc_id < 50)", "c")},
           |nsz AS (SELECT doc_id, count(*) AS n FROM nsh GROUP BY 1),
           |csz AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY 1),
           |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ov
           |          FROM nsh a JOIN csh b ON a.g = b.g GROUP BY 1, 2),
           |dup AS (SELECT DISTINCT da AS doc_id FROM inter
           |        JOIN nsz ON nsz.doc_id = da JOIN csz ON csz.doc_id = db
           |        WHERE ov/(nsz.n+csz.n-ov) >= 0.5)
           |SELECT doc_id, lang FROM documents
           |WHERE doc_id >= 50 AND doc_id NOT IN (SELECT doc_id FROM dup)
           |ORDER BY doc_id""".stripMargin,
      "minhash_novel_indexed" ->
        s"""WITH ${shingleCte("(SELECT doc_id, text FROM documents WHERE doc_id >= 450)", "n")},
           |${shingleCte("(SELECT doc_id, text FROM documents WHERE doc_id < 450)", "c")},
           |nsz AS (SELECT doc_id, count(*) AS n FROM nsh GROUP BY 1),
           |csz AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY 1),
           |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ov
           |          FROM nsh a JOIN csh b ON a.g = b.g GROUP BY 1, 2),
           |dup AS (SELECT DISTINCT da AS doc_id FROM inter
           |        JOIN nsz ON nsz.doc_id = da JOIN csz ON csz.doc_id = db
           |        WHERE ov/(nsz.n+csz.n-ov) >= 0.5)
           |SELECT d.doc_id FROM documents d
           |WHERE d.doc_id >= 450 AND d.doc_id NOT IN (SELECT doc_id FROM dup)
           |ORDER BY 1""".stripMargin,
      "dedup_clusters" ->
        s"""WITH RECURSIVE ${shingleCte("documents")},
           |$jaccardCte,
           |${componentCte("0.5")}
           |SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
           |  d.doc_id = COALESCE(c.cluster_id, d.doc_id) AS keep
           |FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
           |ORDER BY d.doc_id""".stripMargin,
      // Same cluster assignment, survivor = longest (token count) with
      // doc_id tiebreak — the per-cluster rank re-derived in SQL.
      "dedup_keep_longest" ->
        s"""WITH RECURSIVE ${shingleCte("documents")},
           |$jaccardCte,
           |${componentCte("0.5")},
           |asg AS (SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
           |        FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
           |dl AS (SELECT doc_id, LEN(string_split_regex(TRIM(text), '\\s+')) AS quality FROM documents)
           |SELECT a.doc_id, a.cluster_id, dl.quality,
           |  ROW_NUMBER() OVER (PARTITION BY a.cluster_id
           |    ORDER BY dl.quality DESC, a.doc_id) = 1 AS keep
           |FROM asg a JOIN dl USING (doc_id)
           |ORDER BY a.doc_id""".stripMargin,
      // Budget·weight targets floored explicitly (Spark decimal→long
      // truncates, DuckDB CAST rounds); epoch/rate divisions are single
      // IEEE ops over exact decimal-derived inputs.
      "token_budget_plan" ->
        """WITH w(source, w) AS (VALUES
          |  ('src0', CAST(0.4 AS DECIMAL(10,6))), ('src1', CAST(0.3 AS DECIMAL(10,6))),
          |  ('src2', CAST(0.2 AS DECIMAL(10,6))), ('src3', CAST(0.1 AS DECIMAL(10,6)))),
          |per AS (
          |  SELECT source, COUNT(*) AS n_docs,
          |         CAST(SUM(LEN(string_split_regex(TRIM(text), '\s+'))) AS BIGINT) AS n_tokens
          |  FROM documents GROUP BY 1)
          |SELECT per.source, n_docs, n_tokens, CAST(w AS DOUBLE) AS weight,
          |  CAST(FLOOR(CAST(10000 AS DECIMAL(27,6)) * w) AS BIGINT) AS target_tokens,
          |  ROUND(CAST(CAST(FLOOR(CAST(10000 AS DECIMAL(27,6)) * w) AS BIGINT) AS DOUBLE)
          |    / CAST(n_tokens AS DOUBLE), 4) AS epochs,
          |  CAST(FLOOR(ROUND(CAST(CAST(FLOOR(CAST(10000 AS DECIMAL(27,6)) * w) AS BIGINT) AS DOUBLE)
          |    / CAST(n_tokens AS DOUBLE), 4)) AS BIGINT) AS full_epochs,
          |  ROUND(ROUND(CAST(CAST(FLOOR(CAST(10000 AS DECIMAL(27,6)) * w) AS BIGINT) AS DOUBLE)
          |      / CAST(n_tokens AS DOUBLE), 4)
          |    - FLOOR(ROUND(CAST(CAST(FLOOR(CAST(10000 AS DECIMAL(27,6)) * w) AS BIGINT) AS DOUBLE)
          |      / CAST(n_tokens AS DOUBLE), 4)), 4) AS residual_rate
          |FROM per JOIN w USING (source)
          |ORDER BY source""".stripMargin,
      // The executed budget: the same plan arithmetic as
      // token_budget_plan at budget 1e6, then the md5 digit coin per
      // doc (mixture_sample's rule with data-derived rates — hex prefix
      // as integer vs round(rate·2^32), the engine's hexThreshold
      // clamped to 2^32−1).
      "train_prep_budget" ->
        """WITH w(source, w) AS (VALUES
          |  ('src0', CAST(0.4 AS DECIMAL(10,6))), ('src1', CAST(0.3 AS DECIMAL(10,6))),
          |  ('src2', CAST(0.2 AS DECIMAL(10,6))), ('src3', CAST(0.1 AS DECIMAL(10,6)))),
          |per AS (
          |  SELECT source,
          |         CAST(SUM(LEN(string_split_regex(TRIM(text), '\s+'))) AS BIGINT) AS n_tokens
          |  FROM documents GROUP BY 1),
          |plan AS (
          |  SELECT per.source,
          |    ROUND(CAST(CAST(FLOOR(CAST(1000000 AS DECIMAL(27,6)) * w) AS BIGINT) AS DOUBLE)
          |      / CAST(n_tokens AS DOUBLE), 4) AS epochs
          |  FROM per JOIN w USING (source)),
          |rr AS (
          |  SELECT source, CAST(FLOOR(epochs) AS BIGINT) AS fe,
          |    LEAST(CAST(ROUND(ROUND(epochs - FLOOR(epochs), 4) * 4294967296.0) AS BIGINT),
          |      4294967295) AS thr
          |  FROM plan),
          |cop AS (
          |  SELECT d.doc_id, d.source,
          |    rr.fe + CASE WHEN CAST(('0x' || SUBSTRING(MD5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          |                   < rr.thr THEN 1 ELSE 0 END AS copies
          |  FROM documents d JOIN rr USING (source))
          |SELECT doc_id, source,
          |  CAST(UNNEST(generate_series(1, copies)) AS INTEGER) AS epoch
          |FROM cop WHERE copies > 0
          |ORDER BY doc_id, epoch""".stripMargin,
      "hll_vocab_rollup" ->
        """WITH toks AS (SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents),
          |per AS (SELECT lang, count(*) AS n_tokens, count(DISTINCT token) AS exact_distinct_tokens FROM toks GROUP BY 1),
          |allr AS (SELECT 'ALL' AS lang, count(*) AS n_tokens, count(DISTINCT token) AS exact_distinct_tokens FROM toks)
          |SELECT lang, n_tokens, exact_distinct_tokens, TRUE AS est_err_le_2pct
          |FROM (SELECT * FROM per UNION ALL SELECT * FROM allr) ORDER BY lang""".stripMargin,
      "decode_meta" ->
        s"""WITH f AS (SELECT doc_id AS id, length(text) AS byte_len, $foldCol AS h FROM documents)
           |SELECT id, CAST(byte_len AS INTEGER) AS byte_len,
           |  CAST(64 + ${floorMod("h", "1024")} AS INTEGER) AS width,
           |  CAST(64 + ${floorMod(floorDiv("h", "1024"), "1024")} AS INTEGER) AS height,
           |  CASE WHEN ${floorMod("h", "2")} = 0 THEN 'jpeg' ELSE 'png' END AS format
           |FROM f ORDER BY id""".stripMargin,
      "media_features" -> {
        // f_i = toFloat(floorMod(h >> 7i, 1000)/1000f) − 0.5f, norm over
        // the 8 components in double (same float→double promotion order
        // as the engine's FloatVecDot).
        val comps = (0 until 8).map { i =>
          val sh = floorDiv("h", (1L << (7 * i)).toString)
          s"CAST(CAST(CAST(${floorMod(sh, "1000")} AS FLOAT)/CAST(1000 AS FLOAT) - CAST(0.5 AS FLOAT) AS FLOAT) AS DOUBLE)"
        }.mkString(", ")
        s"""WITH f AS (SELECT doc_id AS id, $foldCol AS h FROM documents),
           |c AS (SELECT id, [$comps] AS v FROM f)
           |SELECT id, ROUND(SQRT(list_dot_product(v, v)), 4) AS feature_norm
           |FROM c ORDER BY id""".stripMargin
      },
      "embed_neardup_pairs" ->
        s"""WITH b AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb_d FROM embeddings),
           |bk AS (SELECT vec_id, emb_d, $lshBucketCol AS bucket,
           |         sqrt(list_dot_product(emb_d, emb_d)) AS nrm FROM b)
           |SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
           |  ROUND(list_dot_product(a.emb_d, c.emb_d)/(a.nrm*c.nrm), 4) AS cosine
           |FROM bk a JOIN bk c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
           |WHERE ROUND(list_dot_product(a.emb_d, c.emb_d)/(a.nrm*c.nrm), 4) >= 0.25
           |ORDER BY vec_a, vec_b""".stripMargin,
      "doc_centrality" -> {
        // PageRank is 3 FIXED power iterations (Graph.pageRank), so the
        // oracle unrolls them: per-iteration contributions enter the
        // per-dst sum as DECIMAL(27,12) — the engine's fold-order-free
        // determinism recipe — which DuckDB reproduces exactly (HALF_UP
        // on positive values agrees between engines). The edge set is
        // the LSH-bucket near-dup graph, reproduced via the inlined
        // plane constants like embed_neardup_pairs.
        def iterCte(i: Int, prev: String) =
          s"""contrib$i AS (SELECT o.dst, CAST(r.rank / o.degree AS DECIMAL(27,12)) AS c
             |  FROM out_e o JOIN $prev r ON o.src = r.id),
             |mass$i AS (SELECT dst AS id, CAST(SUM(c) AS DOUBLE) AS mass FROM contrib$i GROUP BY 1),
             |ranks$i AS (SELECT id, (CAST(0.15 AS DOUBLE) / n.n) + CAST(0.85 AS DOUBLE) * mass AS rank
             |            FROM mass$i CROSS JOIN nn n)""".stripMargin
        s"""WITH b AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb_d FROM embeddings),
           |bk AS (SELECT vec_id, emb_d, $lshBucketCol AS bucket,
           |       sqrt(list_dot_product(emb_d, emb_d)) AS nrm FROM b),
           |pairs AS (
           |  SELECT a.vec_id AS va, c.vec_id AS vb
           |  FROM bk a JOIN bk c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
           |  WHERE ROUND(list_dot_product(a.emb_d, c.emb_d)/(a.nrm*c.nrm), 4) >= 0.25),
           |sym AS (SELECT va AS src, vb AS dst FROM pairs UNION ALL SELECT vb, va FROM pairs),
           |deg AS (SELECT src AS id, count(*) AS degree FROM sym GROUP BY 1),
           |nn AS (SELECT count(*) AS n FROM deg),
           |out_e AS (SELECT s.src, s.dst, d.degree FROM sym s JOIN deg d ON s.src = d.id),
           |ranks0 AS (SELECT id, CAST(1.0 AS DOUBLE) / n.n AS rank FROM deg CROSS JOIN nn n),
           |${iterCte(1, "ranks0")},
           |${iterCte(2, "ranks1")},
           |${iterCte(3, "ranks2")}
           |SELECT id AS vec_id, ROUND(rank, 8) AS rank FROM ranks3
           |ORDER BY ROUND(rank, 8) DESC, id LIMIT 20""".stripMargin
      },
      "corpus_prep" ->
        s"""WITH RECURSIVE $curationCte
           |SELECT count(*) AS total_docs,
           |  CAST(sum(CASE WHEN NOT quality_ok THEN 1 ELSE 0 END) AS BIGINT) AS low_quality,
           |  CAST(0 AS BIGINT) AS blocked,
           |  CAST(sum(CASE WHEN is_exact_dup THEN 1 ELSE 0 END) AS BIGINT) AS exact_dups,
           |  CAST(sum(CASE WHEN is_near_dup THEN 1 ELSE 0 END) AS BIGINT) AS near_dups,
           |  CAST(sum(CASE WHEN is_contaminated THEN 1 ELSE 0 END) AS BIGINT) AS contaminated,
           |  CAST(0 AS BIGINT) AS outliers,
           |  CAST(0 AS BIGINT) AS repetition_vetoed,
           |  CAST(0 AS BIGINT) AS span_vetoed,
           |  CAST(0 AS BIGINT) AS neardup_vetoed,
           |  CAST(0 AS BIGINT) AS gopher_vetoed,
           |  CAST(sum(CASE WHEN eligible AND doc_id = dig_surv AND doc_id = clu_surv THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs
           |FROM s3""".stripMargin,
      // The incremental composite: every screen re-derived — row-local
      // quality/blocklist SQL, exact-Jaccard novelty vs the standing
      // half with the engine's max(struct(j, corpus_id)) tie order,
      // the xxh64 DSIR chain vs the 250-doc target, and the recursive
      // component CTE over the eligible batch docs' similarity graph.
      // `full = true` (curation_screen_v2) additionally re-derives the
      // contamination verdict (string 3-grams of the eval suite with
      // the EVAL-side df-cap stop-gram rule) and the frozen-model
      // outlier verdict (the unrolled k-means chain fit on the
      // training half); the base form pins those columns to the
      // engine's screen-off constants.
      "curation_screen" -> incrementalScreenSql(full = false),
      "curation_screen_v2" -> incrementalScreenSql(full = true),
      "curation_screen_v3" ->
        incrementalScreenSql(full = true, neardup = true),
      // v3 plus the Gopher battery fused into the row-local stage.
      "curation_screen_v4" ->
        incrementalScreenSql(full = true, neardup = true, gopher = true),
      // The indexed contamination screen standalone: same split as the
      // composite (eval = doc_id < 50, batch = doc_id >= 450), full
      // verdict shape with the max(shared, eval_id) tie rule.
      "contamination_indexed" ->
        s"""WITH ${shingleCte("(SELECT doc_id, text FROM documents WHERE doc_id >= 450)", "b")},
           |${shingleCte("(SELECT doc_id, text FROM documents WHERE doc_id < 50)", "v")},
           |vrare AS (SELECT doc_id, g FROM
           |  (SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS df FROM vsh) WHERE df <= 20),
           |ccand AS (SELECT b.doc_id, v.doc_id AS eval_id, count(*) AS shared
           |          FROM bsh b JOIN vrare v ON b.g = v.g GROUP BY 1, 2
           |          HAVING count(*) >= 5),
           |cbest AS (SELECT doc_id, shared AS shared_ngrams, eval_id AS match_id FROM
           |  (SELECT *, row_number() OVER (PARTITION BY doc_id
           |     ORDER BY shared DESC, eval_id DESC) AS rn FROM ccand) WHERE rn = 1)
           |SELECT n.doc_id, cbest.doc_id IS NOT NULL AS is_contaminated,
           |  shared_ngrams, match_id
           |FROM (SELECT doc_id FROM documents WHERE doc_id >= 450) n
           |LEFT JOIN cbest ON cbest.doc_id = n.doc_id
           |ORDER BY n.doc_id""".stripMargin,
      // Span screen: positional string 3-grams, hit = gram in the rare
      // eval set (df ≤ 20), islands by pos − row_number, run tokens =
      // grams + 2.
      "contamination_spans" ->
        s"""WITH ${shingleCte("(SELECT doc_id, text FROM documents WHERE doc_id < 50)", "v")},
           |rare AS (SELECT g FROM (SELECT g, count(*) AS df FROM vsh GROUP BY 1) WHERE df <= 20),
           |bt AS (SELECT doc_id, string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') AS toks
           |       FROM documents WHERE doc_id >= 450),
           |bsh AS (SELECT doc_id, i AS pos, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
           |        FROM bt, UNNEST(range(1, len(toks)-1)) AS u(i) WHERE len(toks) >= 3),
           |hits AS (SELECT doc_id, pos FROM bsh WHERE g IN (SELECT g FROM rare)),
           |isl AS (SELECT doc_id, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM hits),
           |runs AS (SELECT doc_id, island, count(*) + 2 AS run_tokens FROM isl GROUP BY 1, 2),
           |per AS (SELECT doc_id, max(run_tokens)::BIGINT AS max_run_tokens,
           |          sum(CASE WHEN run_tokens >= 8 THEN 1 ELSE 0 END)::BIGINT AS n_spans
           |        FROM runs GROUP BY 1)
           |SELECT d.doc_id, COALESCE(per.max_run_tokens, 0) AS max_run_tokens,
           |  COALESCE(per.n_spans, 0) AS n_spans,
           |  COALESCE(per.max_run_tokens, 0) >= 8 AS is_contaminated
           |FROM (SELECT doc_id FROM documents WHERE doc_id >= 450) d
           |LEFT JOIN per ON per.doc_id = d.doc_id
           |ORDER BY d.doc_id""".stripMargin,
      // Span removal: covered token positions re-derived from the
      // qualifying runs (token j removed iff inside start..start+glen+1
      // — glen grams of 3 tokens), text rebuilt from the survivors.
      "decontaminate_spans" ->
        s"""WITH ${shingleCte("(SELECT doc_id, text FROM documents WHERE doc_id < 50)", "v")},
           |rare AS (SELECT g FROM (SELECT g, count(*) AS df FROM vsh GROUP BY 1) WHERE df <= 20),
           |bt AS (SELECT doc_id, string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') AS toks
           |       FROM documents WHERE doc_id >= 450),
           |bsh AS (SELECT doc_id, i AS pos, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
           |        FROM bt, UNNEST(range(1, len(toks)-1)) AS u(i) WHERE len(toks) >= 3),
           |hits AS (SELECT doc_id, pos FROM bsh WHERE g IN (SELECT g FROM rare)),
           |isl AS (SELECT doc_id, pos,
           |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM hits),
           |runs AS (SELECT doc_id, min(pos) AS start, count(*) AS glen
           |         FROM isl GROUP BY doc_id, island HAVING count(*) + 2 >= 8),
           |covered AS (SELECT DISTINCT r.doc_id, r.start + k AS j
           |            FROM runs r, UNNEST(range(0, r.glen + 2)) AS u(k)),
           |tok AS (SELECT doc_id, j, toks[j] AS t FROM bt, UNNEST(range(1, len(toks)+1)) AS u(j)),
           |kept AS (SELECT tk.doc_id, tk.j, tk.t FROM tok tk
           |         LEFT JOIN covered c ON c.doc_id = tk.doc_id AND c.j = tk.j
           |         WHERE c.j IS NULL),
           |agg AS (SELECT doc_id, string_agg(t, ' ' ORDER BY j) AS clean_text,
           |               count(*) AS nk FROM kept GROUP BY 1)
           |SELECT b.doc_id, COALESCE(a.clean_text, '') AS clean_text,
           |  (len(b.toks) - COALESCE(a.nk, 0))::BIGINT AS tokens_removed
           |FROM bt b LEFT JOIN agg a ON a.doc_id = b.doc_id
           |ORDER BY b.doc_id""".stripMargin,
      // The append→screen→delta lifecycle: both screen states re-derived
      // over string 3-grams — base df over the base suite alone, full df
      // over base + appended — and the delta keeps docs flagged under
      // the FULL state only (its best match reported under full df).
      "redecontaminate_delta" ->
        s"""WITH ${shingleCte("(SELECT doc_id, text FROM documents WHERE doc_id >= 450)", "b")},
           |${shingleCte("(SELECT doc_id, text FROM documents WHERE doc_id >= 30 AND doc_id < 50)", "vb")},
           |${shingleCte("(SELECT doc_id, text FROM documents WHERE doc_id < 30)", "vn")},
           |vall AS (SELECT doc_id, g, TRUE AS is_base FROM vbsh
           |         UNION ALL SELECT doc_id, g, FALSE FROM vnsh),
           |marked AS (SELECT doc_id, g,
           |    count(*) OVER (PARTITION BY g) <= 20 AS full_ok,
           |    is_base AND sum(CASE WHEN is_base THEN 1 ELSE 0 END)
           |      OVER (PARTITION BY g) <= 20 AS base_ok
           |  FROM vall),
           |cand AS (SELECT b.doc_id, m.doc_id AS eval_id,
           |    sum(CASE WHEN m.full_ok THEN 1 ELSE 0 END) AS shared_full,
           |    sum(CASE WHEN m.base_ok THEN 1 ELSE 0 END) AS shared_base
           |  FROM bsh b JOIN marked m ON b.g = m.g
           |  WHERE m.full_ok OR m.base_ok GROUP BY 1, 2),
           |flagged_base AS (SELECT DISTINCT doc_id FROM cand WHERE shared_base >= 5),
           |best AS (SELECT doc_id, shared_full::BIGINT AS shared_ngrams, eval_id AS match_id FROM
           |  (SELECT *, row_number() OVER (PARTITION BY doc_id
           |     ORDER BY shared_full DESC, eval_id DESC) AS rn
           |   FROM cand WHERE shared_full >= 5) WHERE rn = 1)
           |SELECT doc_id, shared_ngrams, match_id FROM best
           |WHERE doc_id NOT IN (SELECT doc_id FROM flagged_base)
           |ORDER BY doc_id""".stripMargin,
      // The span-rule delta: both rare-gram states re-derived (full =
      // base + appended df ≤ 20; base = base rows alone, present and
      // ≤ 20), islands per state over positional string 3-grams, and
      // the delta keeps docs whose full-state run reaches 8 while the
      // base-state run stays under it.
      "redecontaminate_spans_delta" ->
        s"""WITH ${shingleCte("(SELECT doc_id, text FROM documents WHERE doc_id >= 30 AND doc_id < 50)", "vb")},
           |${shingleCte("(SELECT doc_id, text FROM documents WHERE doc_id < 30)", "vn")},
           |vall AS (SELECT g, TRUE AS is_base FROM vbsh
           |         UNION ALL SELECT g, FALSE FROM vnsh),
           |gst AS (SELECT g, count(*) <= 20 AS full_ok,
           |          sum(CASE WHEN is_base THEN 1 ELSE 0 END) BETWEEN 1 AND 20 AS base_ok
           |        FROM vall GROUP BY g),
           |bt AS (SELECT doc_id, string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') AS toks
           |       FROM documents WHERE doc_id >= 450),
           |bposh AS (SELECT doc_id, i AS pos, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
           |          FROM bt, UNNEST(range(1, len(toks)-1)) AS u(i) WHERE len(toks) >= 3),
           |fh AS (SELECT doc_id, pos FROM bposh WHERE g IN (SELECT g FROM gst WHERE full_ok)),
           |bh AS (SELECT doc_id, pos FROM bposh WHERE g IN (SELECT g FROM gst WHERE base_ok)),
           |fisl AS (SELECT doc_id, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM fh),
           |fper AS (SELECT doc_id, max(run_tokens)::BIGINT AS max_run_tokens FROM
           |  (SELECT doc_id, island, count(*) + 2 AS run_tokens FROM fisl GROUP BY 1, 2) GROUP BY 1),
           |bisl AS (SELECT doc_id, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM bh),
           |bper AS (SELECT doc_id, max(run_tokens)::BIGINT AS base_run_tokens FROM
           |  (SELECT doc_id, island, count(*) + 2 AS run_tokens FROM bisl GROUP BY 1, 2) GROUP BY 1)
           |SELECT f.doc_id, f.max_run_tokens,
           |  COALESCE(b.base_run_tokens, 0) AS base_run_tokens
           |FROM fper f LEFT JOIN bper b ON b.doc_id = f.doc_id
           |WHERE f.max_run_tokens >= 8 AND COALESCE(b.base_run_tokens, 0) < 8
           |ORDER BY f.doc_id""".stripMargin,
      // Fuzzy delta: exhaustive exact Jaccard of the batch vs ALL evals
      // < 50; delta docs have a J >= 0.5 match but none among the BASE
      // suite (30 <= id < 50); best match by the engine's
      // (rounded-j, eval_id) tie order over the FULL state.
      "redecontaminate_neardup_delta" ->
        s"""WITH ${shingleCte("(SELECT doc_id, text FROM documents WHERE doc_id >= 450)", "n")},
           |${shingleCte("(SELECT doc_id, text FROM documents WHERE doc_id < 50)", "c")},
           |nsz AS (SELECT doc_id, count(*) AS n FROM nsh GROUP BY 1),
           |csz AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY 1),
           |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ov
           |          FROM nsh a JOIN csh b ON a.g = b.g GROUP BY 1, 2),
           |m AS (SELECT da AS doc_id, ROUND(ov/(nsz.n+csz.n-ov), 4) AS j, db
           |      FROM inter JOIN nsz ON nsz.doc_id = da JOIN csz ON csz.doc_id = db
           |      WHERE ov/(nsz.n+csz.n-ov) >= 0.5),
           |agg AS (SELECT doc_id,
           |          max(CASE WHEN db >= 30 THEN 1 ELSE 0 END) AS base_hit
           |        FROM m GROUP BY 1),
           |best AS (SELECT doc_id, j AS jaccard, db AS match_id FROM
           |  (SELECT *, row_number() OVER (PARTITION BY doc_id
           |     ORDER BY j DESC, db DESC) AS rn FROM m) WHERE rn = 1)
           |SELECT b.doc_id, b.jaccard, b.match_id
           |FROM best b JOIN agg a USING (doc_id)
           |WHERE a.base_hit = 0
           |ORDER BY b.doc_id""".stripMargin,
      "decontaminate_indexed" ->
        s"""WITH ${shingleCte("(SELECT doc_id, text FROM documents WHERE doc_id >= 450)", "b")},
           |${shingleCte("(SELECT doc_id, text FROM documents WHERE doc_id < 50)", "v")},
           |vrare AS (SELECT doc_id, g FROM
           |  (SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS df FROM vsh) WHERE df <= 20),
           |ccand AS (SELECT b.doc_id, v.doc_id AS eval_id, count(*) AS shared
           |          FROM bsh b JOIN vrare v ON b.g = v.g GROUP BY 1, 2
           |          HAVING count(*) >= 5)
           |SELECT doc_id, lang FROM documents
           |WHERE doc_id >= 450
           |  AND doc_id NOT IN (SELECT DISTINCT doc_id FROM ccand)
           |ORDER BY doc_id""".stripMargin,
      "corpus_prep_v2" ->
        s"""WITH RECURSIVE ${curationCteV2()}
           |SELECT count(*) AS total_docs,
           |  CAST(sum(CASE WHEN NOT quality_ok THEN 1 ELSE 0 END) AS BIGINT) AS low_quality,
           |  CAST(sum(CASE WHEN is_blocked THEN 1 ELSE 0 END) AS BIGINT) AS blocked,
           |  CAST(sum(CASE WHEN is_exact_dup THEN 1 ELSE 0 END) AS BIGINT) AS exact_dups,
           |  CAST(sum(CASE WHEN is_near_dup THEN 1 ELSE 0 END) AS BIGINT) AS near_dups,
           |  CAST(sum(CASE WHEN is_contaminated THEN 1 ELSE 0 END) AS BIGINT) AS contaminated,
           |  CAST(sum(CASE WHEN is_outlier THEN 1 ELSE 0 END) AS BIGINT) AS outliers,
           |  CAST(sum(CASE WHEN NOT repetition_ok THEN 1 ELSE 0 END) AS BIGINT) AS repetition_vetoed,
           |  CAST(0 AS BIGINT) AS span_vetoed,
           |  CAST(0 AS BIGINT) AS neardup_vetoed,
           |  CAST(0 AS BIGINT) AS gopher_vetoed,
           |  CAST(sum(CASE WHEN eligible AND doc_id = dig_surv AND doc_id = clu_surv THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs
           |FROM s3""".stripMargin,
      // The batch composite's per-doc verdicts with the span veto on:
      // all nine screens re-derived, span runs included.
      "corpus_prep_v3" ->
        s"""WITH RECURSIVE ${curationCteV2(spans = true)}
           |SELECT doc_id, quality_ok, is_blocked, is_exact_dup, is_near_dup,
           |  is_contaminated, is_outlier, dup_3gram_frac, repetition_ok,
           |  contam_span_run, span_ok, TRUE AS neardup_ok,
           |  TRUE AS gopher_ok,
           |  (eligible AND doc_id = dig_surv AND doc_id = clu_surv) AS kept
           |FROM s3 ORDER BY doc_id""".stripMargin,
      // All three contamination rules on: the fuzzy veto re-derived as
      // per-doc exact Jaccard vs the eval slice.
      "corpus_prep_v4" ->
        s"""WITH RECURSIVE ${curationCteV2(spans = true, neardup = true)}
           |SELECT doc_id, quality_ok, is_blocked, is_exact_dup, is_near_dup,
           |  is_contaminated, is_outlier, dup_3gram_frac, repetition_ok,
           |  contam_span_run, span_ok, neardup_ok,
           |  TRUE AS gopher_ok,
           |  (eligible AND doc_id = dig_surv AND doc_id = clu_surv) AS kept
           |FROM s3 ORDER BY doc_id""".stripMargin,
      // The full batch composite (v4) plus the Gopher doc-quality
      // battery as a stage-1 veto — all ELEVEN screens re-derived,
      // the gate at the registered thresholds (word floor 25,
      // stopword floor 1).
      "corpus_prep_v5" ->
        s"""WITH RECURSIVE ${curationCteV2(spans = true, neardup = true,
                                           gopher = true)}
           |SELECT doc_id, quality_ok, is_blocked, is_exact_dup, is_near_dup,
           |  is_contaminated, is_outlier, dup_3gram_frac, repetition_ok,
           |  contam_span_run, span_ok, neardup_ok, gopher_ok,
           |  (eligible AND doc_id = dig_surv AND doc_id = clu_surv) AS kept
           |FROM s3 ORDER BY doc_id""".stripMargin,
      "train_prep" ->
        s"""WITH RECURSIVE $curationCte,
           |kept AS (SELECT doc_id FROM s3 WHERE eligible AND doc_id = dig_surv AND doc_id = clu_surv),
           |kc AS (SELECT c.doc_id, c.lang, string_split_regex(trim(c.text), '\\s+') AS toks
           |       FROM corpus c JOIN kept k ON k.doc_id = c.doc_id),
           |chunks AS (
           |  SELECT doc_id, i AS chunk_id, least(i*24 + 32, len(toks)) - i*24 AS n_tokens
           |  FROM kc, UNNEST(range(0, greatest(0, CAST(ceil((len(toks) - 32) / 24.0) AS BIGINT)) + 1)) AS u(i)),
           |mixed AS (
           |  SELECT doc_id, lang, epoch FROM kc,
           |    UNNEST(range(1, CASE WHEN lang = 'en' THEN 3 ELSE 2 END)) AS e(epoch)),
           |expanded AS (
           |  SELECT c.doc_id, c.chunk_id, c.n_tokens, m.lang, m.epoch
           |  FROM chunks c JOIN mixed m ON c.doc_id = m.doc_id),
           |packed AS (
           |  SELECT lang, CAST(floor((sum(n_tokens) OVER (PARTITION BY lang
           |    ORDER BY doc_id, epoch, chunk_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 256) AS BIGINT) AS seq_id,
           |    n_tokens
           |  FROM expanded)
           |SELECT lang, seq_id, count(*) AS n_chunks, CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
           |FROM packed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      // train_prep with the DSIR selection stage: curation survivors
      // score against the corpus' en slice (the engine's exact xxh64
      // feature chain — dsirFeatsSql — over DYNAMIC relations), only
      // mean_log_ratio >= 0 rides into chunking/packing.
      "train_prep_dsir" ->
        s"""WITH RECURSIVE $curationCte,
           |kept0 AS (SELECT doc_id FROM s3 WHERE eligible AND doc_id = dig_surv AND doc_id = clu_surv),
           |survivors AS (SELECT c.* FROM corpus c JOIN kept0 k ON k.doc_id = c.doc_id),
           |dsir_target AS (SELECT * FROM corpus WHERE lang = 'en'),
           |tfe AS (${graft.oracle.Xxh64Sql.dsirFeatsSql("dsir_target")}),
           |sfe AS (${graft.oracle.Xxh64Sql.dsirFeatsSql("survivors")}),
           |${graft.oracle.Xxh64Sql.dsirScoreCtes()},
           |dw AS (${graft.oracle.Xxh64Sql.dsirScoreSelect}),
           |kept AS (SELECT doc_id FROM dw WHERE mean_log_ratio >= 0.0),
           |kc AS (SELECT c.doc_id, c.lang, string_split_regex(trim(c.text), '\\s+') AS toks
           |       FROM corpus c JOIN kept k ON k.doc_id = c.doc_id),
           |chunks AS (
           |  SELECT doc_id, i AS chunk_id, least(i*24 + 32, len(toks)) - i*24 AS n_tokens
           |  FROM kc, UNNEST(range(0, greatest(0, CAST(ceil((len(toks) - 32) / 24.0) AS BIGINT)) + 1)) AS u(i)),
           |mixed AS (
           |  SELECT doc_id, lang, epoch FROM kc,
           |    UNNEST(range(1, CASE WHEN lang = 'en' THEN 3 ELSE 2 END)) AS e(epoch)),
           |expanded AS (
           |  SELECT c.doc_id, c.chunk_id, c.n_tokens, m.lang, m.epoch
           |  FROM chunks c JOIN mixed m ON c.doc_id = m.doc_id),
           |packed AS (
           |  SELECT lang, CAST(floor((sum(n_tokens) OVER (PARTITION BY lang
           |    ORDER BY doc_id, epoch, chunk_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 256) AS BIGINT) AS seq_id,
           |    n_tokens
           |  FROM expanded)
           |SELECT lang, seq_id, count(*) AS n_chunks, CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
           |FROM packed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    // The indexed BM25 form returns exactly bm25_topk's rows (identical
    // scoring tree over the persisted postings) — one oracle, two plans.
    unique(base.toSeq ++ extOracles.toSeq ++ Seq(
      "bm25_indexed" -> base("bm25_topk"),
      // Same convention: the indexed hybrid is row-identical to the
      // scan-form hybrid (the indexed BM25 generator is row-identical
      // and fusion is a pure function of the lists).
      "hybrid_topk_indexed" -> extOracles("hybrid_topk")): _*)
  }
}
