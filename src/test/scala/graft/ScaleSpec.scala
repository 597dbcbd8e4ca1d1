package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Skew
import graft.stream.Pipeline
import graft.warehouse.Warehouse

/** Scale techniques: salted joins, bucketed co-located joins, watermarked
  * and stateful streaming aggregation.
  */
class ScaleSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** JSON trip message for the MemoryStream tests (dropoff = pickup +
    * durMin so the validity filter keeps — or for durMin=0 drops — it).
    */
  private def tripJson(vendor: Int, pick: String, fare: Double,
                       durMin: Int = 5, dist: Double = 2.0): String = {
    val drop = java.time.LocalDateTime.parse(pick.replace(' ', 'T'))
      .plusMinutes(durMin.toLong).toString.replace('T', ' ')
    s"""{"VendorID":$vendor,"tpep_pickup_datetime":"$pick","tpep_dropoff_datetime":"$drop","passenger_count":1,"trip_distance":$dist,"fare_amount":$fare,"tip_amount":0.0,"total_amount":$fare}"""
  }

  test("salted join returns exactly the plain join's rows") {
    // 90% of fact rows share one hot key — the salted plan must not
    // change results, only shuffle layout.
    val fact = (1 to 1000).map(i => (if (i <= 900) 1 else i % 10, i.toLong))
      .toDF("key", "fact_id")
    val dim = (0 to 9).map(k => (k, s"dim$k")).toDF("key", "dim_val")
    val plain = fact.join(dim, "key")
    val salted = Skew.saltedJoin(fact, dim, "key", col("fact_id"), salts = 8)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("salted distinct count equals plain countDistinct on a hot key") {
    // One key owns 90% of rows AND repeats values (dupes must not
    // double-count across salt cells — they can't: the salt is a
    // function of the value, so a value's duplicates share a cell).
    val df = (1 to 2000).map { i =>
      (if (i <= 1800) "hot" else s"k${i % 7}", (i % 97).toLong)
    }.toDF("key", "v")
    val plain = df.groupBy("key")
      .agg(countDistinct(col("v")).as("n_distinct"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val salted = Skew.saltedDistinctCount(df, "key", "v", salts = 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(salted == plain)
  }

  test("bucketed tables join without an exchange on the bucket key") {
    spark.sql("DROP TABLE IF EXISTS bt_orders")
    spark.sql("DROP TABLE IF EXISTS bt_lines")
    Warehouse.writeBucketed((1 to 100).map(i => (i.toLong, s"o$i"))
      .toDF("k", "o"), "bt_orders", "k", 4)
    Warehouse.writeBucketed((1 to 300).map(i => ((i % 100 + 1).toLong, i))
      .toDF("k", "li"), "bt_lines", "k", 4)
    // Force the shuffle-based path (tiny tables would broadcast) so the
    // assertion targets what bucketing eliminates: the shuffle exchange.
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bt_orders").join(spark.table("bt_lines"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange"),
        s"expected shuffle-free join:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected SMJ over buckets:\n$plan")
      assert(joined.count() == 300)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("ANALYZE TABLE statistics feed the cost-based optimizer") {
    // At 100 TB the CBO's join reordering and broadcast decisions hinge
    // on catalog stats — the warehouse write path must leave tables
    // ANALYZE-able and the stats must actually reach the plan.
    spark.sql("DROP TABLE IF EXISTS cbo_t")
    (1 to 1000).map(i => (i.toLong, i % 10)).toDF("id", "g")
      .write.saveAsTable("cbo_t")
    spark.sql("ANALYZE TABLE cbo_t COMPUTE STATISTICS FOR ALL COLUMNS")
    // Row counts surface in plan stats only when the CBO is on (the
    // setting a stats-maintained warehouse would run with).
    val oldCbo = spark.conf.get("spark.sql.cbo.enabled")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val stats = spark.table("cbo_t").queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(1000)), stats)
    } finally spark.conf.set("spark.sql.cbo.enabled", oldCbo)
    val desc = spark.sql("DESC EXTENDED cbo_t id").collect()
      .map(_.mkString(" ")).mkString("\n")
    assert(desc.contains("distinct_count"), desc)
  }

  test("watermarked hourly window aggregates the stream by event time") {
    val source = MemoryStream[String](
      implicitly[org.apache.spark.sql.Encoder[String]], spark.sqlContext)
    def trip(pick: String, fare: Double) = tripJson(1, pick, fare, durMin = 10)
    source.addData(
      trip("2015-01-15 10:05:00", 10.0), trip("2015-01-15 10:55:00", 20.0),
      trip("2015-01-15 11:05:00", 40.0))
    val agg = Pipeline.hourlyStream(Pipeline.transform(source.toDF()))
    val query = agg.writeStream.format("memory").queryName("hourly")
      .outputMode("complete").trigger(Trigger.ProcessingTime("1 second")).start()
    try query.processAllAvailable() finally query.stop()
    val out = spark.table("hourly")
      .select(date_format(col("window.start"), "HH:mm").as("h"),
        col("trip_count"), col("revenue"))
      .orderBy("h").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq(("10:00", 2L, 30.0), ("11:00", 1L, 40.0)))
  }

  test("money aggregation is partition-count invariant (bit-exact)") {
    val values = (1 to 5000).map(i => (i % 7, i * 0.01 + 0.001 * (i % 13)))
    def total(parts: Int) = graft.agg.Analytics
      .tripStatistics(values.toDF("k", "v").repartition(parts), col("v"))
      .head()
    val (a, b, c) = (total(1), total(13), total(32))
    assert(a.getAs[Double]("total_revenue") == b.getAs[Double]("total_revenue"))
    assert(b.getAs[Double]("total_revenue") == c.getAs[Double]("total_revenue"))
    assert(a.getAs[Double]("avg_fare") == c.getAs[Double]("avg_fare"))
  }

  test("streaming dedup drops duplicates within the watermark across batches") {
    val source = MemoryStream[String](
      implicitly[org.apache.spark.sql.Encoder[String]], spark.sqlContext)
    def trip(vendor: Int, pick: String) = tripJson(vendor, pick, 10.0)
    val deduped = Pipeline.dedupStream(
      Pipeline.transform(source.toDF()),
      Seq("vendor_id", "pickup_datetime"))
    val query = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").trigger(Trigger.ProcessingTime("1 second")).start()
    try {
      source.addData(trip(1, "2015-01-15 10:05:00"), trip(1, "2015-01-15 10:05:00"))
      query.processAllAvailable()
      // same key again in a later micro-batch, still within the watermark
      source.addData(trip(1, "2015-01-15 10:05:00"), trip(2, "2015-01-15 10:06:00"))
      query.processAllAvailable()
    } finally query.stop()
    assert(spark.table("dedup_out").count() == 2) // one per distinct key
  }

  test("sessionization emits a closed session after the gap timeout") {
    val source = MemoryStream[String](
      implicitly[org.apache.spark.sql.Encoder[String]], spark.sqlContext)
    def trip(vendor: Int, pick: String, fare: Double) = tripJson(vendor, pick, fare)
    val sessions = Pipeline.sessionize(Pipeline.transform(source.toDF()),
      gapMs = 1500L)
    // NOTE: processing-time timeouts keep the query permanently busy, so
    // processAllAvailable() can block forever here — use bounded
    // awaitTermination waits instead.
    val query = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").trigger(Trigger.ProcessingTime("300 milliseconds"))
      .start()
    try {
      source.addData(trip(1, "2015-01-15 10:00:00", 10.0),
        trip(1, "2015-01-15 10:03:00", 20.0))
      query.awaitTermination(1200)
      assert(spark.table("sessions").isEmpty) // still open, nothing emitted
      Thread.sleep(2000) // exceed the gap
      source.addData(trip(2, "2015-01-15 11:00:00", 5.0)) // drives batches
      // vendor 1's session must close by timeout within the wait budget
      var waited = 0
      while (spark.table("sessions").filter(col("vendor_id") === 1).isEmpty
          && waited < 30) {
        query.awaitTermination(1000); waited += 1
      }
      val closed = spark.table("sessions")
        .filter(col("vendor_id") === 1).collect()
      assert(closed.length == 1)
      assert(closed.head.getAs[Long]("trips") == 2)
      assert(closed.head.getAs[Double]("revenue") == 30.0)
    } finally query.stop()
  }

  test("event-time sessionization: gap splits and watermark-driven close") {
    val source = MemoryStream[String](
      implicitly[org.apache.spark.sql.Encoder[String]], spark.sqlContext)
    def trip(vendor: Int, pick: String, fare: Double) = tripJson(vendor, pick, fare)
    // 2-minute gap, 1-minute watermark delay: splits depend only on
    // event time, so no sleeps are needed to drive them.
    val sessions = Pipeline.sessionizeEventTime(
      Pipeline.transform(source.toDF()), gapMs = 120000L, watermark = "1 minute")
    val query = sessions.writeStream.format("memory").queryName("et_sessions")
      .outputMode("append").start()
    try {
      // Intra-batch gap: 10:00:00 → 10:03:30 exceeds 2 min, so the first
      // session closes inside this very batch.
      source.addData(trip(1, "2015-01-15 10:00:00", 10.0),
        trip(1, "2015-01-15 10:03:30", 20.0))
      query.processAllAvailable()
      val first = spark.table("et_sessions").collect()
      assert(first.length == 1 && first.head.getAs[Long]("trips") == 1
        && first.head.getAs[Double]("revenue") == 10.0)
      // Cross-batch gap: 11:00 closes the 10:03:30 session by fold.
      source.addData(trip(1, "2015-01-15 11:00:00", 5.0))
      query.processAllAvailable()
      assert(spark.table("et_sessions").count() == 2)
      // Watermark pass: another vendor's 13:00 event pushes the watermark
      // to 12:59 > 11:02, so vendor 1's open session times out — possibly
      // needing the extra no-data batch Spark schedules on watermark
      // advance.
      source.addData(trip(2, "2015-01-15 13:00:00", 7.0))
      query.processAllAvailable()
      var waited = 0
      while (spark.table("et_sessions").count() < 3 && waited < 30) {
        query.processAllAvailable(); Thread.sleep(500); waited += 1
      }
      val v1 = spark.table("et_sessions").filter(col("vendor_id") === 1)
        .orderBy("first_ts").collect()
      assert(v1.length == 3)
      assert(v1.map(_.getAs[Long]("trips")).toSeq == Seq(1L, 1L, 1L))
      assert(v1.map(_.getAs[Double]("revenue")).toSeq == Seq(10.0, 20.0, 5.0))
    } finally query.stop()
  }

  test("AQE splits a skewed join partition at runtime") {
    // The automatic complement of Skew.saltedJoin: AQE detects the hot
    // key's oversized shuffle partition and splits it into parallel
    // tasks. Thresholds lowered to demonstrate on test data.
    val aDir = java.nio.file.Files.createTempDirectory("skew-a").toString
    val bDir = java.nio.file.Files.createTempDirectory("skew-b").toString
    // 95% of left rows share key 0; right is uniform.
    (0 until 200000).map(i => (if (i % 20 != 0) 0L else i.toLong % 100L,
      s"payload-$i-${"x" * 40}")).toDF("k", "pay")
      .write.mode("overwrite").parquet(aDir)
    (0 until 100).map(i => (i.toLong, i * 2.0)).toDF("k", "w")
      .write.mode("overwrite").parquet(bDir)
    val old = (
      spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold"),
      spark.conf.getOption("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      spark.conf.getOption("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      spark.conf.getOption("spark.sql.adaptive.forceOptimizeSkewedJoin"))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      // The downstream aggregate needs the join's partitioning, which by
      // default vetoes the skew split (it would add a shuffle); force it,
      // as a production job with a known hot key would.
      spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      val joined = spark.read.parquet(aDir)
        .join(spark.read.parquet(bDir), "k")
        .agg(count(lit(1)).as("n"))
      val n = joined.collect().head.getLong(0)
      assert(n == 200000L)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"), finalPlan)
    } finally {
      def restore(k: String, v: Option[String]): Unit =
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      restore("spark.sql.autoBroadcastJoinThreshold", old._1)
      restore("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", old._2)
      restore("spark.sql.adaptive.advisoryPartitionSizeInBytes", old._3)
      restore("spark.sql.adaptive.forceOptimizeSkewedJoin", old._4)
    }
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // Row-level runtime filtering: when a shuffle join's build side is
    // selective, Spark injects a bloom filter into the probe-side scan —
    // at 100 TB this skips most fact rows before the shuffle. Thresholds
    // are production-sized, so lower them to demonstrate on test data.
    val factDir = java.nio.file.Files.createTempDirectory("bf-fact").toString
    val dimDir = java.nio.file.Files.createTempDirectory("bf-dim").toString
    (0 until 100000).map(i => (i.toLong % 1000L, i * 1.0)).toDF("k", "v")
      .write.mode("overwrite").parquet(factDir)
    (0 until 1000).map(i => (i.toLong, if (i == 7) "keep" else "drop"))
      .toDF("k", "tag").write.mode("overwrite").parquet(dimDir)
    val old = (
      spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold"),
      spark.conf.getOption("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"),
      spark.conf.getOption("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB")
      val joined = spark.read.parquet(factDir)
        .join(spark.read.parquet(dimDir).filter(col("tag") === "keep"), "k")
        .agg(sum(col("v")).as("s"))
      val plan = joined.queryExecution.optimizedPlan.toString.toLowerCase
      assert(plan.contains("bloom"), plan)
      assert(joined.collect().head.getDouble(0) ==
        (0 until 100000).filter(_ % 1000 == 7).map(_ * 1.0).sum)
    } finally {
      def restore(k: String, v: Option[String]): Unit =
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      restore("spark.sql.autoBroadcastJoinThreshold", old._1)
      restore("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", old._2)
      restore("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", old._3)
    }
  }

  test("observed metrics report parsed vs valid rows per micro-batch") {
    // Exact on a plain sink and on the foreachBatch warehouse sink: the
    // metrics ride the batch's one job, so no second job inflates them.
    def trip(fare: Double, durMin: Int) =
      tripJson(1, "2015-01-15 10:00:00", fare, durMin)
    val rows = "not json" +: (0 until 30).map(i => trip(i - 2.0, i % 4))
    val valid = Pipeline.transform(rows.toDF("value")).count()
    assert(valid > 0L && valid < rows.size)
    val tmp = java.nio.file.Files.createTempDirectory("observed").toString
    val sinks = Seq[(String, DataFrame => StreamingQuery)](
      "memory" -> (Pipeline.transform(_).writeStream.format("memory")
        .queryName("observed").outputMode("append").start()),
      "startIdempotent" -> (Pipeline.startIdempotent(_, s"$tmp/wh",
        s"$tmp/ckpt", Trigger.ProcessingTime("0 seconds"))))
    for ((name, sink) <- sinks) {
      val source = MemoryStream[String](
        implicitly[org.apache.spark.sql.Encoder[String]], spark.sqlContext)
      val query = sink(source.toDF())
      try {
        source.addData(rows: _*)
        query.processAllAvailable()
        val ran = query.recentProgress.filter(_.numInputRows > 0)
        def total(metric: String, field: String) = ran.map(p =>
          p.observedMetrics.get(metric).getAs[Long](field)).sum
        assert(total("graft_parsed", "rows_parsed") == rows.size.toLong, name)
        assert(total("graft_valid", "rows_valid") == valid, name)
      } finally query.stop()
    }
  }

  test("dynamic partition pruning fires on the date-partitioned warehouse") {
    // The warehouse layout (partitionBy date) exists precisely so that
    // joins against a filtered dimension scan only matching partitions at
    // runtime — the 100 TB payoff of S8's "index analog". Assert Spark
    // actually plans the DPP subquery filter against our layout.
    // Large enough that the pruning-benefit estimate (pruned fact bytes
    // vs. subquery cost) is positive — DPP deliberately skips toy scans.
    val dir = java.nio.file.Files.createTempDirectory("dpp").toString
    val n = 100000
    val fact = (0 until n).map(i => (i.toLong, f"2024-01-${i % 10 + 1}%02d", i * 1.0))
      .toDF("id", "dd", "v")
    fact.write.partitionBy("dd").mode("overwrite").parquet(dir)
    // The dim must be a real source: an in-memory Seq constant-folds to a
    // LocalRelation (filter evaluated at plan time), and DPP requires a
    // live selective predicate on the pruning side.
    val dimDir = java.nio.file.Files.createTempDirectory("dpp-dim").toString
    Seq(("2024-01-03", "keep"), ("2024-01-04", "drop")).toDF("dd", "tag")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val joined = spark.read.parquet(dir)
      .join(dim.filter(col("tag") === "keep"), "dd")
      .agg(sum(col("v")))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan)
    assert(joined.collect().head.getDouble(0) ==
      (0 until n).filter(_ % 10 == 2).map(_ * 1.0).sum)
  }

  test("stream-stream join matches within the time bound only") {
    val clicks = MemoryStream[(Int, java.sql.Timestamp, String)](
      implicitly[org.apache.spark.sql.Encoder[(Int, java.sql.Timestamp, String)]],
      spark.sqlContext)
    val buys = MemoryStream[(Int, java.sql.Timestamp, Double)](
      implicitly[org.apache.spark.sql.Encoder[(Int, java.sql.Timestamp, Double)]],
      spark.sqlContext)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val joined = Pipeline.streamStreamJoin(
      clicks.toDF().toDF("key", "click_ts", "page"),
      buys.toDF().toDF("key", "buy_ts", "amount"),
      "key", "click_ts", "buy_ts", withinSec = 600L)
    val query = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    try {
      clicks.addData((1, ts("2015-01-15 10:00:00"), "home"),
        (2, ts("2015-01-15 10:00:00"), "search"))
      buys.addData(
        (1, ts("2015-01-15 10:05:00"), 42.0),  // within 10 min → match
        (2, ts("2015-01-15 10:20:00"), 9.0),   // 20 min later → no match
        (3, ts("2015-01-15 10:05:00"), 7.0))   // no click side → no match
      query.processAllAvailable()
      val rows = spark.table("ssj").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[Int]("key") == 1
        && rows.head.getAs[Double]("amount") == 42.0
        && rows.head.getAs[String]("page") == "home")
    } finally query.stop()
  }

  test("idempotent sink: replaying a batch id does not duplicate rows") {
    val dir = java.nio.file.Files.createTempDirectory("idem").toString
    val batch = Seq((1, "2015-01-15 10:00:00", 10.0), (2, "2015-01-15 11:00:00", 5.0))
      .toDF("vendor_id", "p", "fare_amount")
      .withColumn("pickup_datetime", to_timestamp(col("p"))).drop("p")
    Warehouse.appendTripsIdempotent(batch, dir, batchId = 7L)
    Warehouse.appendTripsIdempotent(batch, dir, batchId = 7L) // replay
    assert(spark.read.parquet(dir).count() == 2)
    Warehouse.appendTripsIdempotent(batch, dir, batchId = 8L) // new batch
    assert(spark.read.parquet(dir).count() == 4)
  }

  test("JDBC sink round-trips enriched trips through a live embedded database") {
    // S5 as the reference wired it (database_handler.py JDBC appends),
    // exercised against a REAL database — embedded Derby ships with the
    // Spark distribution, so the write path (batched INSERTs per
    // partition) and read path run end-to-end, not config-only.
    System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    val url = "jdbc:derby:memory:graftwh;create=true"
    val table = "\"taxi_trips\"" // quoted: Spark quotes column identifiers
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        """CREATE TABLE "taxi_trips" (
          |  "vendor_id" INTEGER, "pickup_datetime" TIMESTAMP,
          |  "dropoff_datetime" TIMESTAMP, "passenger_count" INTEGER,
          |  "trip_distance" DOUBLE, "fare_amount" DOUBLE,
          |  "tip_amount" DOUBLE, "total_amount" DOUBLE,
          |  "trip_duration_minutes" DOUBLE, "pickup_hour" INTEGER,
          |  "trip_category" VARCHAR(16), "tip_percentage" DOUBLE)""".stripMargin)
    } finally conn.close()

    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val trips = Seq(
      (1, ts("2024-01-01 08:00:00"), ts("2024-01-01 08:10:00"), 1, 2.0,
        10.0, 2.0, 12.0, 10.0, 8, "short", 20.0),
      (2, ts("2024-01-01 09:00:00"), ts("2024-01-01 09:30:00"), 2, 8.0,
        30.0, 0.0, 30.0, 30.0, 9, "medium", 0.0))
      .toDF("vendor_id", "pickup_datetime", "dropoff_datetime",
        "passenger_count", "trip_distance", "fare_amount", "tip_amount",
        "total_amount", "trip_duration_minutes", "pickup_hour",
        "trip_category", "tip_percentage")

    val props = new java.util.Properties()
    Warehouse.appendTripsJdbc(trips, url, table, props)
    val back = spark.read.jdbc(url, table, props)
    assert(back.count() == 2)
    assert(back.select("vendor_id", "trip_category", "fare_amount")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
      .toSet == Set((1, "short", 10.0), (2, "medium", 30.0)))
    // append mode appends — a second batch doubles the rows
    Warehouse.appendTripsJdbc(trips, url, table, props)
    assert(spark.read.jdbc(url, table, props).count() == 4)
  }

  test("RocksDB state store runs the stateful pipeline at large key cardinality") {
    // T5/T6 at 100 TB: the default HDFS-backed provider keeps every key's
    // state on-heap — unbounded with key cardinality. RocksDB spills
    // state to native+disk, bounding the heap; this proves the same
    // stateful operator (mapGroupsWithState) runs unchanged on it and
    // that the provider actually engaged (its own metrics appear).
    import scala.jdk.CollectionConverters._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val source = MemoryStream[(Int, Double)](
        implicitly[org.apache.spark.sql.Encoder[(Int, Double)]], spark.sqlContext)
      val trips = source.toDF().toDF("vendor_id", "fare_amount")
      val query = Pipeline.vendorRunningTotals(trips)
        .writeStream.format("memory").queryName("rocks_totals")
        .outputMode("update").trigger(Trigger.ProcessingTime("1 second")).start()
      try {
        source.addData((0 until 5000).map(v => (v, 1.0)): _*)
        query.processAllAvailable()
        source.addData((0 until 5000).map(v => (v, 2.0)): _*)
        query.processAllAvailable()
        val metrics = query.recentProgress.flatMap(_.stateOperators)
          .flatMap(_.customMetrics.keySet.asScala)
        assert(metrics.exists(_.toLowerCase.contains("rocksdb")),
          s"no rocksdb state metrics in ${metrics.distinct.mkString(",")}")
      } finally query.stop()
      val last = spark.table("rocks_totals").collect()
        .map(r => (r.getInt(0), (r.getLong(1), r.getDouble(2))))
        .groupBy(_._1).map { case (v, rows) => v -> rows.last._2 }
      assert(last.size == 5000)
      assert(last.values.forall(_ == (2L, 3.0)))

      // Same totals on the Spark-4-native transformWithState API (typed
      // ValueState in the same RocksDB backend).
      val twsSource = MemoryStream[(Int, Double)](
        implicitly[org.apache.spark.sql.Encoder[(Int, Double)]], spark.sqlContext)
      val twsQuery = Pipeline.vendorRunningTotalsTws(
          twsSource.toDF().toDF("vendor_id", "fare_amount"))
        .writeStream.format("memory").queryName("tws_totals")
        .outputMode("update").trigger(Trigger.ProcessingTime("1 second")).start()
      try {
        twsSource.addData((1, 10.0), (1, 20.0), (2, 5.0))
        twsQuery.processAllAvailable()
        twsSource.addData((1, 30.0))
        twsQuery.processAllAvailable()
      } finally twsQuery.stop()
      val twsLast = spark.table("tws_totals").collect()
        .map(r => (r.getInt(0), (r.getLong(1), r.getDouble(2))))
        .groupBy(_._1).map { case (v, rows) => v -> rows.last._2 }
      assert(twsLast(1) == (3L, 60.0))
      assert(twsLast(2) == (1L, 5.0))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("mapGroupsWithState carries per-vendor totals across micro-batches") {
    val source = MemoryStream[(Int, Double)](
      implicitly[org.apache.spark.sql.Encoder[(Int, Double)]], spark.sqlContext)
    val trips = source.toDF().toDF("vendor_id", "fare_amount")
    val query = Pipeline.vendorRunningTotals(trips)
      .writeStream.format("memory").queryName("vtotals")
      .outputMode("update").trigger(Trigger.ProcessingTime("1 second")).start()
    try {
      source.addData((1, 10.0), (1, 20.0), (2, 5.0))
      query.processAllAvailable()
      source.addData((1, 30.0))
      query.processAllAvailable()
    } finally query.stop()
    // update-mode memory sink appends each state emission; the last row
    // per vendor is the current running total.
    val last = spark.table("vtotals").collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getDouble(2))))
      .groupBy(_._1).map { case (v, rows) => v -> rows.last._2 }
    assert(last(1) == (3L, 60.0))
    assert(last(2) == (1L, 5.0))
  }
}
