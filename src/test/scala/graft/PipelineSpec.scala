package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, JsonToStructs}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, to_timestamp}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.stream.Pipeline
import graft.warehouse.Warehouse

/** T1–T9: the streaming pipeline against a MemoryStream source (no Kafka
  * in CI — SURVEY §7.4), asserting batch/stream DAG equivalence and the
  * warehouse append path.
  */
class PipelineSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val goodRows = Seq(
    """{"VendorID":1,"tpep_pickup_datetime":"2015-01-15 19:05:39","tpep_dropoff_datetime":"2015-01-15 19:23:42","passenger_count":1,"trip_distance":1.59,"fare_amount":12.0,"tip_amount":3.25,"total_amount":17.05}""",
    """{"VendorID":2,"tpep_pickup_datetime":"2015-01-16 08:00:00","tpep_dropoff_datetime":"2015-01-16 08:30:00","passenger_count":2,"trip_distance":11.5,"fare_amount":30.0,"tip_amount":0.0,"total_amount":30.0}""")
  private val badRows = Seq(
    "not json at all",
    // dropoff == pickup → duration 0 → filtered (open interval)
    """{"VendorID":1,"tpep_pickup_datetime":"2015-01-15 19:00:00","tpep_dropoff_datetime":"2015-01-15 19:00:00","passenger_count":1,"trip_distance":1.0,"fare_amount":5.0,"tip_amount":0.0,"total_amount":5.0}""")

  test("stream and batch runs of the same DAG produce identical warehouse rows") {
    val warehouse = Files.createTempDirectory("graft-wh").toString
    val checkpoint = Files.createTempDirectory("graft-ckpt").toString

    val source = MemoryStream[String](
      implicitly[org.apache.spark.sql.Encoder[String]], spark.sqlContext)
    source.addData(goodRows ++ badRows: _*)

    val query = Pipeline.start(source.toDF(), warehouse, checkpoint,
      Trigger.ProcessingTime("1 second"))
    try query.processAllAvailable()
    finally query.stop()

    val streamed = spark.read.parquet(warehouse)
    val batch = Pipeline.transform((goodRows ++ badRows).toDF("value"))

    // Only the two valid trips survive; malformed JSON and zero-duration
    // rows are dropped by the shared DAG.
    assert(streamed.count() == 2)
    val cols = batch.columns.map(org.apache.spark.sql.functions.col).toSeq
    assert(streamed.select(cols: _*).orderBy("vendor_id").collect().toSeq ==
      batch.orderBy("vendor_id").collect().toSeq)
    // Warehouse layout: date-partitioned (the reference's index analog).
    assert(streamed.columns.contains("pickup_date"))
  }

  test("idempotent streaming sink partitions by batch_id and matches start()") {
    val warehouse = Files.createTempDirectory("graft-wh-idem").toString
    val checkpoint = Files.createTempDirectory("graft-ckpt-idem").toString
    val source = MemoryStream[String](
      implicitly[org.apache.spark.sql.Encoder[String]], spark.sqlContext)
    source.addData(goodRows ++ badRows: _*)
    val query = Pipeline.startIdempotent(source.toDF(), warehouse, checkpoint,
      Trigger.ProcessingTime("1 second"))
    try query.processAllAvailable()
    finally query.stop()
    val streamed = spark.read.parquet(warehouse)
    assert(streamed.count() == 2) // same survivors as start()
    // Layout carries the replay key: batch_id partition + pickup_date.
    assert(streamed.columns.contains("batch_id"))
    assert(streamed.columns.contains("pickup_date"))
  }

  test("file text source streams JSONL through the shared DAG") {
    val inDir = Files.createTempDirectory("graft-in").toString
    val warehouse = Files.createTempDirectory("graft-wh-file").toString
    val checkpoint = Files.createTempDirectory("graft-ckpt-file").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(inDir, "batch1.jsonl"),
      (goodRows ++ badRows).mkString("\n").getBytes)
    val query = Pipeline.start(
      Pipeline.fileTextSource(spark, inDir, maxFilesPerTrigger = 1),
      warehouse, checkpoint, Trigger.ProcessingTime("1 second"))
    try {
      query.processAllAvailable()
      assert(spark.read.parquet(warehouse).count() == 2)
      // A file landing later is picked up as a new micro-batch.
      java.nio.file.Files.write(
        java.nio.file.Paths.get(inDir, "batch2.jsonl"),
        goodRows.mkString("\n").getBytes)
      query.processAllAvailable()
      assert(spark.read.parquet(warehouse).count() == 4)
    } finally query.stop()
  }

  test("compaction: one file per partition, identical rows") {
    val src = Files.createTempDirectory("graft-compact-src").toString
    val dest = Files.createTempDirectory("graft-compact-dest").toString
    val batch = Seq((1, "2015-01-15 10:00:00", 10.0), (2, "2015-01-16 11:00:00", 5.0))
      .toDF("vendor_id", "p", "fare_amount")
      .withColumn("pickup_datetime", to_timestamp(col("p"))).drop("p")
    // Three appends → ≥3 files per date partition (the small-file problem).
    (1 to 3).foreach(_ => Warehouse.appendTrips(batch, src))
    def dataFiles(dir: String) = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => p.toString.endsWith(".parquet")).count()
    assert(dataFiles(src) >= 6)
    Warehouse.compact(spark, src, dest, "pickup_date")
    assert(dataFiles(dest) == 2) // one per date partition
    val a = spark.read.parquet(src).orderBy("vendor_id", "fare_amount")
    val b = spark.read.parquet(dest).orderBy("vendor_id", "fare_amount")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("idempotent batch-id warehouse compacts to one file per date, rows intact") {
    // appendTripsIdempotent lands one (batch_id, pickup_date) partition
    // per micro-batch — the same small-files growth the index families
    // compact away. The fold is the existing compact-and-swap: batch_id
    // partitions must be PRESERVED in the live table while the stream
    // can still replay those ids (they ARE the replay protection); once
    // batches are final, compact into the date-partitioned analytic
    // table. batch_id survives as a data column (the audit trail),
    // pickup_date becomes the only partition key.
    val src = Files.createTempDirectory("graft-idem-src").toString
    val dest = Files.createTempDirectory("graft-idem-dest").toString
    val batch = Seq((1, "2015-01-15 10:00:00", 10.0),
        (2, "2015-01-16 11:00:00", 5.0))
      .toDF("vendor_id", "p", "fare_amount")
      .withColumn("pickup_datetime", to_timestamp(col("p"))).drop("p")
    (1L to 3L).foreach(b => Warehouse.appendTripsIdempotent(batch, src, b))
    Warehouse.appendTripsIdempotent(batch, src, 2L) // replay: no dupes
    def dataFiles(dir: String) = java.nio.file.Files
      .walk(java.nio.file.Paths.get(dir))
      .filter(p => p.toString.endsWith(".parquet")).count()
    assert(spark.read.parquet(src).count() == 6) // 3 batches × 2, replay folded
    assert(dataFiles(src) >= 6) // one file per (batch, date) at least
    Warehouse.compact(spark, src, dest, "pickup_date")
    assert(dataFiles(dest) == 2) // one per date partition
    val a = spark.read.parquet(src)
      .select("vendor_id", "fare_amount", "batch_id", "pickup_date")
    val b = spark.read.parquet(dest)
      .select("vendor_id", "fare_amount", "batch_id", "pickup_date")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("AvailableNow trigger drains the source and self-terminates") {
    // The batch-over-stream pattern for scheduled ingestion: process
    // everything available in rate-limited micro-batches, then stop —
    // no long-running query to babysit.
    val inDir = Files.createTempDirectory("graft-an-in").toString
    val warehouse = Files.createTempDirectory("graft-an-wh").toString
    val checkpoint = Files.createTempDirectory("graft-an-ckpt").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(inDir, "a.jsonl"),
      (goodRows ++ badRows).mkString("\n").getBytes)
    val query = Pipeline.start(
      Pipeline.fileTextSource(spark, inDir, maxFilesPerTrigger = 1),
      warehouse, checkpoint, Trigger.AvailableNow())
    assert(query.awaitTermination(60000), "query did not self-terminate")
    assert(spark.read.parquet(warehouse).count() == 2)
  }

  test("empty micro-batches are skipped (no output files, no failure)") {
    val warehouse = Files.createTempDirectory("graft-wh2").toString
    val checkpoint = Files.createTempDirectory("graft-ckpt2").toString
    val source = MemoryStream[String](
      implicitly[org.apache.spark.sql.Encoder[String]], spark.sqlContext)
    val query = Pipeline.start(source.toDF(), warehouse, checkpoint,
      Trigger.ProcessingTime("1 second"))
    try query.processAllAvailable()
    finally query.stop()
    // No batch ever had data → appendTrips never ran → no parquet output.
    assert(!Files.list(java.nio.file.Paths.get(warehouse)).iterator().hasNext ||
      spark.read.parquet(warehouse).isEmpty)
  }

  test("an all-invalid micro-batch commits with no data files, then the next batch lands") {
    // Neither sink probes the batch for emptiness: a partitioned write of
    // zero rows creates no data files, which keeps the reference's
    // empty-batch skip (spark_consumer.py:87-88) without a second job.
    def dataFiles(dir: String) = Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => p.toString.endsWith(".parquet")).count()
    val sinks = Seq[(String, (DataFrame, String, String) => StreamingQuery)](
      "start" -> ((raw, wh, ckpt) =>
        Pipeline.start(raw, wh, ckpt, Trigger.ProcessingTime("0 seconds"))),
      "startIdempotent" -> ((raw, wh, ckpt) =>
        Pipeline.startIdempotent(raw, wh, ckpt, Trigger.ProcessingTime("0 seconds"))))
    val batch = Pipeline.transform(goodRows.toDF("value"))
    for ((name, sink) <- sinks) {
      val warehouse = Files.createTempDirectory(s"graft-wh-$name").toString
      val checkpoint = Files.createTempDirectory(s"graft-ckpt-$name").toString
      val source = MemoryStream[String](
        implicitly[org.apache.spark.sql.Encoder[String]], spark.sqlContext)
      val query = sink(source.toDF(), warehouse, checkpoint)
      def ranBatches = query.recentProgress.filter(_.numInputRows > 0)
        .map(_.batchId).toSeq
      try {
        source.addData(badRows: _*) // malformed + zero-duration only
        query.processAllAvailable()
        assert(ranBatches == Seq(0L), name)
        assert(dataFiles(warehouse) == 0L, name)
        source.addData(goodRows: _*)
        query.processAllAvailable()
        assert(ranBatches == Seq(0L, 1L), name)
      } finally query.stop()
      val landed = spark.read.parquet(warehouse)
        .select(batch.columns.map(col).toSeq: _*)
      assert(landed.orderBy("vendor_id").collect().toSeq ==
        batch.orderBy("vendor_id").collect().toSeq, name)
    }
  }

  test("transform parses each message once: the validity filter sits above the parse") {
    // Catalyst pushes a filter through projections and inlines their
    // aliases, which here would re-run from_json once per conjunct.
    // The observed-metrics node in transform is the fence that stops it.
    val in = Files.createTempFile("graft-plan", ".jsonl")
    Files.write(in, (goodRows ++ badRows).mkString("\n").getBytes)
    val plan = Pipeline.transform(spark.read.text(in.toString))
      .queryExecution.optimizedPlan
    def parses(e: Expression) = e.collect { case j: JsonToStructs => j }.size
    assert(plan.collect { case n => n.expressions.map(parses).sum }.sum == 1,
      plan.toString)
    val valid = plan.collect {
      case f: Filter if f.references.exists(_.name == "trip_duration_minutes") => f
    }
    assert(valid.size == 1 && parses(valid.head.condition) == 0 &&
      valid.head.child.exists(_.expressions.exists(parses(_) > 0)), plan.toString)
  }

  test("a steady idempotent trigger spawns no process and compiles no code") {
    // The warehouse write and the checkpoint commits go through the
    // engine's `file:` filesystem (no chmod/readlink forks), and the
    // write plan carries no per-batch literal, so once the first
    // triggers have compiled it, later triggers reuse the generated code.
    import scala.jdk.CollectionConverters._
    val warehouse = Files.createTempDirectory("graft-wh-steady").toString
    val checkpoint = Files.createTempDirectory("graft-ckpt-steady").toString
    val source = MemoryStream[String](
      implicitly[org.apache.spark.sql.Encoder[String]], spark.sqlContext)
    val query = Pipeline.startIdempotent(source.toDF(), warehouse, checkpoint,
      Trigger.ProcessingTime("0 seconds"))
    def trigger(): Unit = {
      source.addData(goodRows ++ badRows: _*)
      query.processAllAvailable()
    }
    val jfr = new jdk.jfr.Recording()
    val dump = Files.createTempFile("graft-steady", ".jfr")
    try {
      trigger(); trigger()
      jfr.enable("jdk.ProcessStart")
      val compiles0 = org.apache.spark.graftbridge.CodegenCount.compiles
      jfr.start()
      (1 to 3).foreach(_ => trigger())
      jfr.stop()
      val compiles = org.apache.spark.graftbridge.CodegenCount.compiles - compiles0
      jfr.dump(dump)
      val spawned = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        .map(_.getString("command")).toSeq
      assert(query.recentProgress.count(_.numInputRows > 0) == 5)
      val byCommand = spawned.groupBy(_.takeWhile(_ != ' ')).view.mapValues(_.size).toMap
      assert((spawned.size, compiles) == (0, 0L),
        s"in 3 triggers: processes $byCommand, codegen compiles $compiles")
    } finally {
      jfr.close()
      Files.deleteIfExists(dump)
      query.stop()
    }
    assert(spark.read.parquet(warehouse).count() == 10)
  }

  test("idempotent warehouse layout: batch_id=N/pickup_date=D, replays replace only their dates") {
    import scala.jdk.CollectionConverters._
    def dataFiles(dir: String) = Files.walk(java.nio.file.Paths.get(dir))
      .iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .map(p => java.nio.file.Paths.get(dir).relativize(p).toString).toSeq
    val dir = Files.createTempDirectory("graft-idem-layout").toString
    val trips = Pipeline.transform(goodRows.toDF("value")) // 2015-01-15, -16
    Warehouse.appendTripsIdempotent(trips, dir, 1L)
    Warehouse.appendTripsIdempotent(trips, dir, 3L)
    Warehouse.appendTripsIdempotent(trips.limit(0), dir, 2L)
    val layout = """batch_id=(\d+)/pickup_date=(\d{4}-\d\d-\d\d)/part-[^/]+\.parquet""".r
    val parts = dataFiles(dir).map {
      case layout(b, d) => (b.toLong, d)
      case other => fail(s"unexpected warehouse file $other")
    }
    assert(parts.distinct.sorted == Seq(1L, 3L).flatMap(b =>
      Seq(b -> "2015-01-15", b -> "2015-01-16")))
    val read = spark.read.parquet(dir)
    assert(read.schema.map(f => f.name -> f.dataType) ==
      trips.schema.map(f => f.name -> f.dataType) ++ Seq(
        "batch_id" -> org.apache.spark.sql.types.IntegerType,
        "pickup_date" -> org.apache.spark.sql.types.DateType))
    // Replay batch 3 with only its 2015-01-15 trip, fare changed: that
    // date's partition is replaced, its 2015-01-16 partition and batch 1
    // stay as they were.
    Warehouse.appendTripsIdempotent(
      trips.filter(col("vendor_id") === 1).withColumn("fare_amount", col("fare_amount") + 1),
      dir, 3L)
    val fares = spark.read.parquet(dir)
      .select(col("batch_id"), col("pickup_date").cast("string"), col("fare_amount"))
      .orderBy("batch_id", "pickup_date").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq
    assert(fares == Seq((1, "2015-01-15", 12.0), (1, "2015-01-16", 30.0),
      (3, "2015-01-15", 13.0), (3, "2015-01-16", 30.0)))
  }

  test("incremental corpus dedup runs the batch operator stream-static") {
    import spark.implicits._
    val corpus = Seq((0L, "seen doc one"), (1L, "seen doc two"))
      .toDF("doc_id", "text")
    val source = MemoryStream[(Long, String)](
      implicitly[org.apache.spark.sql.Encoder[(Long, String)]],
      spark.sqlContext)
    val docs = source.toDF().toDF("doc_id", "text")
    val query = Pipeline.dedupAgainstCorpus(docs, corpus)
      .writeStream.format("memory").queryName("corpus_dedup_sink")
      .outputMode("append").start()
    try {
      source.addData((2L, "seen doc one"), (3L, "fresh doc"))
      query.processAllAvailable()
      // a second micro-batch joins against the same standing corpus
      source.addData((4L, "seen doc two"), (5L, "another fresh doc"))
      query.processAllAvailable()
    } finally query.stop()
    val out = spark.table("corpus_dedup_sink")
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    // only the docs whose digest is absent from the corpus survive
    assert(out.toSeq == Seq(3L, 5L))
  }

  test("streaming k-means scoring assigns incoming embeddings to fitted cells") {
    import spark.implicits._
    // "fitted" centroids: two unit axes (the fit itself is batch/offline)
    val cs = Seq(Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 0f, 0f))
    val source = MemoryStream[(Long, Seq[Float])](
      implicitly[org.apache.spark.sql.Encoder[(Long, Seq[Float])]],
      spark.sqlContext)
    val emb = source.toDF().toDF("vec_id", "embedding")
    val query = Pipeline.clusterStatsStream(emb, cs)
      .writeStream.format("memory").queryName("kmeans_score_sink")
      .outputMode("complete").start()
    try {
      source.addData((0L, Seq(0.9f, 0.1f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)))
      query.processAllAvailable()
      val afterFirst = spark.table("kmeans_score_sink")
        .orderBy("cell").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      assert(afterFirst.toSeq == Seq((0, 1L, 0.9939), (1, 1L, 1.0)))
      // second micro-batch accumulates into the running per-cell stats
      source.addData((2L, Seq(1f, 0f, 0f, 0f)), (3L, Seq(0.1f, 0.9f, 0f, 0f)))
      query.processAllAvailable()
    } finally query.stop()
    val out = spark.table("kmeans_score_sink")
      .orderBy("cell").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    // cell 0: vecs 0 and 2 (mean of 0.9939 and 1.0); cell 1: vecs 1 and 3
    assert(out.toSeq == Seq((0, 2L, 0.997), (1, 2L, 0.997)))
  }

  test("anomalyStream flags spikes and is batch-boundary invariant") {
    import spark.implicits._
    def run(batches: Seq[Seq[(Long, Long, Long, Double)]],
            name: String) = {
      val source = MemoryStream[(Long, Long, Long, Double)](
        implicitly[org.apache.spark.sql.Encoder[(Long, Long, Long, Double)]],
        spark.sqlContext)
      val ev = source.toDF().toDF("user_id", "event_id", "ts_ns", "value")
      val q = Pipeline.anomalyStream(ev)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try batches.foreach { b =>
        source.addData(b: _*); q.processAllAvailable()
      } finally q.stop()
      spark.table(name).orderBy("event_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3),
          r.getLong(4)))
    }
    // user 1: stable history then a spike; user 2: too little history.
    val rows = Seq(
      (1L, 1L, 1L, 10.0), (1L, 2L, 2L, 11.0), (1L, 3L, 3L, 9.0),
      (1L, 4L, 4L, 10.0), (1L, 5L, 5L, 11.0), (1L, 6L, 6L, 9.0),
      (1L, 7L, 7L, 1000.0), (2L, 8L, 1L, 500.0), (2L, 9L, 2L, 500.0))
    val one = run(Seq(rows), "anom_one_sink")
    val two = run(Seq(rows.take(4), rows.drop(4)), "anom_two_sink")
    // same alerts whether the stream arrives in 1 batch or 2
    assert(one.toSeq === two.toSeq)
    // only the spike is flagged, scored against 6 prior observations
    assert(one.map(t => (t._1, t._2, t._4)).toSeq === Seq((1L, 7L, 6L)))
    // z matches the hand formula (history mean 10, sample sd sqrt(0.8))
    // up to Welford-vs-closed-form float accumulation
    val z = (1000.0 - 10.0) / math.sqrt(0.8)
    assert(math.abs(one.head._3 - z) <= 1e-4)
  }

  test("streaming BM25 ingest+rank matches the batch ranker after each batch") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files
      .createTempDirectory("bm25-stream").toString
    val (idx, rankDir, ckpt) = (s"$tmp/idx", s"$tmp/rank", s"$tmp/ckpt")
    val terms = Seq("cat", "fish")
    val source = MemoryStream[(Long, String)](
      implicitly[org.apache.spark.sql.Encoder[(Long, String)]],
      spark.sqlContext)
    val docs = source.toDF().toDF("doc_id", "text")
    val query = Pipeline.bm25IndexStream(docs, idx, terms, k = 10,
      rankDir = rankDir, checkpointDir = ckpt,
      trigger = Trigger.ProcessingTime("0 seconds"))
    def ranked(d: org.apache.spark.sql.DataFrame) =
      graft.ext.Retrieval.bm25TopK(d, terms, k = 10).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    def snapshot() = spark.read.parquet(rankDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (-t._3, t._1)).toSeq
    val b1 = Seq((1L, "cat dog"), (2L, "cat cat cat dog"))
    val b2 = Seq((3L, "fish cat"), (4L, "dog fish fish"))
    try {
      // batch 1 self-initializes the index; the snapshot equals the
      // batch ranker over exactly the docs ingested so far
      source.addData(b1: _*)
      query.processAllAvailable()
      assert(snapshot() === ranked(b1.toDF("doc_id", "text")))
      // batch 2 appends into the index; idf/avgdl shift to the enlarged
      // corpus and the snapshot re-ranks to the full-corpus answer
      source.addData(b2: _*)
      query.processAllAvailable()
      assert(snapshot() === ranked((b1 ++ b2).toDF("doc_id", "text")))
    } finally query.stop()
  }

  test("streaming ANN ingest+rank matches a from-scratch index after each batch") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import graft.ext.Similarity
    val tmp = java.nio.file.Files
      .createTempDirectory("ann-stream").toString
    val (idx, rankDir, ckpt) = (s"$tmp/idx", s"$tmp/rank", s"$tmp/ckpt")
    val qVec = Array(1f, 0f, 0f, 0f)
    val source = MemoryStream[(Long, Int, Seq[Float])](
      implicitly[org.apache.spark.sql.Encoder[(Long, Int, Seq[Float])]],
      spark.sqlContext)
    val emb = source.toDF().toDF("vec_id", "label", "embedding")
    val query = Pipeline.annIndexStream(emb, idx, qVec, qNorm = 1.0,
      k = 5, rankDir = rankDir, checkpointDir = ckpt, nlist = 4, dim = 4,
      trigger = Trigger.ProcessingTime("0 seconds"))
    def vec(i: Long) = Seq.tabulate(4)(j => math.sin(i.toDouble * 7 + j).toFloat)
    val b1 = (0L until 10L).map(i => (i, (i % 3).toInt, vec(i)))
    val b2 = (10L until 20L).map(i => (i, (i % 3).toInt, vec(i)))
    def fresh(rows: Seq[(Long, Int, Seq[Float])], tag: String) = {
      // The stream's quantizer trains on batch 1 and FREEZES; the
      // comparator must rebuild with the SAME stored quantizer (the
      // appendIvfIndex "same-quantizer rebuild" contract) — a fresh
      // train over the grown corpus would probe different cells.
      val frozenCs = Similarity.loadCentroidsMeta(spark, idx)._1
      val d = s"$tmp/fresh-$tag"
      Similarity.buildIvfIndexWith(
        rows.toDF("vec_id", "label", "embedding"), d, frozenCs)
      Similarity.annTopKIndexed(spark, d, qVec, 1.0, k = 5,
        nprobe = 2).collect().toSeq
    }
    def snapshot() = spark.read.parquet(rankDir).collect().toSeq
      .sortBy(_.toString)
    try {
      source.addData(b1: _*)
      query.processAllAvailable()
      assert(snapshot() === fresh(b1, "b1").sortBy(_.toString))
      source.addData(b2: _*)
      query.processAllAvailable()
      assert(snapshot() === fresh(b1 ++ b2, "b12").sortBy(_.toString))
    } finally query.stop()
  }

  test("streaming PQ ingest+rank matches a frozen-codebook rebuild after each batch") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import graft.ext.Quantization
    val tmp = java.nio.file.Files
      .createTempDirectory("pq-stream").toString
    val (idx, rankDir, ckpt) = (s"$tmp/idx", s"$tmp/rank", s"$tmp/ckpt")
    val qVec = Array(1f, 0f, 0f, 0f)
    val source = MemoryStream[(Long, Int, Seq[Float])](
      implicitly[org.apache.spark.sql.Encoder[(Long, Int, Seq[Float])]],
      spark.sqlContext)
    val emb = source.toDF().toDF("vec_id", "label", "embedding")
    val query = Pipeline.pqIndexStream(emb, idx, qVec, k = 5,
      rankDir = rankDir, checkpointDir = ckpt, m = 2, codebookK = 4,
      iters = 2, dim = 4, nlist = 4,
      trigger = Trigger.ProcessingTime("0 seconds"))
    def vec(i: Long) = Seq.tabulate(4)(j => math.sin(i.toDouble * 7 + j).toFloat)
    val b1 = (0L until 10L).map(i => (i, (i % 3).toInt, vec(i)))
    val b2 = (10L until 20L).map(i => (i, (i % 3).toInt, vec(i)))
    // The stream's codebook trains on batch 1 and FREEZES — the
    // comparator must rebuild with that codebook, not retrain.
    lazy val frozen = Quantization.pqTrain(
      b1.toDF("vec_id", "label", "embedding"), m = 2, k = 4, iters = 2,
      dim = 4)
    def fresh(rows: Seq[(Long, Int, Seq[Float])], tag: String) = {
      val d = s"$tmp/fresh-$tag"
      Quantization.buildPqIndex(rows.toDF("vec_id", "label", "embedding"),
        d, frozen, dim = 4, nlist = 4)
      Quantization.pqTopKIndexed(spark, d, qVec, k = 5, nprobe = 2)
        .collect().toSeq
    }
    def snapshot() = spark.read.parquet(rankDir).collect().toSeq
      .sortBy(_.toString)
    try {
      source.addData(b1: _*)
      query.processAllAvailable()
      assert(snapshot() === fresh(b1, "b1").sortBy(_.toString))
      source.addData(b2: _*)
      query.processAllAvailable()
      assert(snapshot() === fresh(b1 ++ b2, "b12").sortBy(_.toString))
    } finally query.stop()
  }

  test("streaming minhash dedup screens text dups against the growing index") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files
      .createTempDirectory("minhash-stream").toString
    val (idx, verdicts, ckpt) = (s"$tmp/idx", s"$tmp/verdicts", s"$tmp/ckpt")
    val source = MemoryStream[(Long, String)](
      implicitly[org.apache.spark.sql.Encoder[(Long, String)]],
      spark.sqlContext)
    val docs = source.toDF().toDF("doc_id", "text")
    val query = Pipeline.minhashDedupStream(docs, idx, verdicts, ckpt,
      trigger = Trigger.ProcessingTime("0 seconds"))
    try {
      // cold start: no index — both docs novel, they seed the base
      source.addData(
        (0L, "the quick brown fox jumps over the lazy dog again and again"),
        (1L, "completely different content about spark query engines at scale"))
      query.processAllAvailable()
      // batch 2: an exact dup of doc 0 and a fresh doc
      source.addData(
        (10L, "the quick brown fox jumps over the lazy dog again and again"),
        (11L, "entirely unrelated words never appearing in the standing corpus"))
      query.processAllAvailable()
    } finally query.stop()
    val v = spark.read.parquet(verdicts)
      .select("doc_id", "is_novel", "match_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]))).sortBy(_._1)
    assert(v.toSeq === Seq((0L, true, None), (1L, true, None),
      (10L, false, Some(0L)), (11L, true, None)))
    // the index's set table holds exactly the admitted (novel) docs
    val indexed = spark.read.parquet(s"$idx/sets").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(indexed.toSeq === Seq(0L, 1L, 11L))
  }

  test("streaming containment screen catches quoted spans against the growing index") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files
      .createTempDirectory("contain-stream").toString
    val (idx, verdicts, ckpt) = (s"$tmp/idx", s"$tmp/verdicts", s"$tmp/ckpt")
    val source = MemoryStream[(Long, String)](
      implicitly[org.apache.spark.sql.Encoder[(Long, String)]],
      spark.sqlContext)
    val docs = source.toDF().toDF("doc_id", "text")
    val query = Pipeline.containmentDedupStream(docs, idx, verdicts, ckpt,
      compactEvery = 2, trigger = Trigger.ProcessingTime("0 seconds"))
    val container = ((1 to 20).map(i => s"pre$i") ++
      (1 to 15).map(i => s"core$i") ++ (1 to 20).map(i => s"post$i"))
      .mkString(" ")
    try {
      // cold start: no index — both docs novel, they seed the base
      source.addData(
        (0L, container),
        (1L, (1 to 15).map(i => s"other$i").mkString(" ")))
      query.processAllAvailable()
      // batch 1: a passage QUOTED inside doc 0 (contained — the case
      // Jaccard streams miss) and a fresh doc
      source.addData(
        (10L, (1 to 15).map(i => s"core$i").mkString(" ")),
        (11L, (1 to 15).map(i => s"fresh$i").mkString(" ")))
      query.processAllAvailable()
      // batch 2 (post-compaction namespace): a quote of batch-1's
      // ADMITTED doc — the index grew, so it is caught
      source.addData(
        (20L, (3 to 12).map(i => s"fresh$i").mkString(" ")))
      query.processAllAvailable()
    } finally query.stop()
    val v = spark.read.parquet(verdicts)
      .select("doc_id", "is_novel", "match_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]))).sortBy(_._1)
    assert(v.toSeq === Seq((0L, true, None), (1L, true, None),
      (10L, false, Some(0L)), (11L, true, None), (20L, false, Some(11L))))
    // the index holds exactly the admitted (novel) docs' fingerprints
    val indexed = spark.read.parquet(s"$idx/fps").select("doc_id")
      .distinct().collect().map(_.getLong(0)).sorted
    assert(indexed.toSeq === Seq(0L, 1L, 11L))
    // in-stream compaction folded the earlier ingests into the base
    val ingests = new java.io.File(s"$idx/fps").listFiles()
      .filter(_.getName.startsWith("ingest=")).map(_.getName).sorted.toSeq
    assert(ingests.head == "ingest=0" && !ingests.contains("ingest=1"),
      ingests.toString)
  }

  test("streaming curation composite applies the gopher gate; rejects never enter the index") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files
      .createTempDirectory("curation-stream-gopher").toString
    val (idx, verdicts, ckpt) = (s"$tmp/idx", s"$tmp/verdicts", s"$tmp/ckpt")
    def text(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    graft.ext.Dedup.buildMinhashIndex(
      Seq((0L, text("heldtext", 30))).toDF("doc_id", "text"), idx)
    val source = MemoryStream[(Long, String)](
      implicitly[org.apache.spark.sql.Encoder[(Long, String)]],
      spark.sqlContext)
    val query = Pipeline.curationStream(source.toDF().toDF("doc_id", "text"),
      idx, verdicts, ckpt,
      gopherGate = Some(graft.ext.TextAnalysis.GopherGateConfig(
        minWords = 20, minStopwords = 0)),
      trigger = Trigger.ProcessingTime("0 seconds"))
    try {
      // 10: clean; 11: quality-ok but under the gopher word floor —
      // ONLY the battery can reject it (the unique-coverage shape).
      source.addData(
        (10L, text("cleandoc", 30)),   // mean word len 9.7, under the 10 bar
        (11L, text("aadoc", 10)))      // 10 words: fails ONLY the word floor
      query.processAllAvailable()
    } finally query.stop()
    val v = spark.read.parquet(verdicts)
      .select("doc_id", "quality_ok", "gopher_ok", "kept").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3))).sortBy(_._1)
    assert(v.toSeq === Seq((10L, true, true, true),
      (11L, true, false, false)), v.toSeq.toString)
    val indexed = spark.read.parquet(s"$idx/sets").select("doc_id")
      .distinct().collect().map(_.getLong(0)).sorted
    assert(indexed.toSeq === Seq(0L, 10L))
  }

  test("streaming curation composite screens each batch and admits only kept docs") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files
      .createTempDirectory("curation-stream").toString
    val (idx, verdicts, ckpt) = (s"$tmp/idx", s"$tmp/verdicts", s"$tmp/ckpt")
    // seed the standing corpus
    def text(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val seed = Seq((0L, text("heldtext", 30))).toDF("doc_id", "text")
    graft.ext.Dedup.buildMinhashIndex(seed, idx)
    val (cidx, sidx) = (s"$tmp/cidx", s"$tmp/sidx")
    graft.ext.Dedup.buildContainmentIndex(seed, cidx)
    graft.ext.Dedup.buildSimhashIndex(seed, sidx)
    val source = MemoryStream[(Long, String)](
      implicitly[org.apache.spark.sql.Encoder[(Long, String)]],
      spark.sqlContext)
    val docs = source.toDF().toDF("doc_id", "text")
    val query = Pipeline.curationStream(docs, idx, verdicts, ckpt,
      blocklist = Seq("badword"),
      containmentIndexPath = Some(cidx), simhashIndexPath = Some(sidx),
      compactEvery = 2,
      trigger = Trigger.ProcessingTime("0 seconds"))
    try {
      // batch 0: a standing dup, a blocklisted doc, a low-quality doc,
      // an intra-batch twin pair, and a clean doc
      source.addData(
        (10L, text("heldtext", 30)),
        (11L, text("cleandoc", 30)),
        (12L, "too short"),
        (13L, text("okaydocs", 20) + " badword"),
        (14L, text("twindocs", 30)),
        (15L, text("twindocs", 30)))
      query.processAllAvailable()
      // batch 1: a near-copy of batch-0's ADMITTED doc is now caught
      // (the index grew); a copy of the REJECTED blocklisted doc is
      // novel (rejects never enter the index) but still blocklisted
      source.addData(
        (20L, text("cleandoc", 30)),
        (21L, text("okaydocs", 20) + " badword"))
      query.processAllAvailable()
      // batch 2: a short QUOTE of batch-0's ADMITTED doc — too little
      // shingle overlap for the Jaccard screen, but kept docs entered
      // the containment index too, so the quote is caught there
      source.addData(
        (30L, (5 to 16).map(i => s"cleandoc$i").mkString(" ")))
      query.processAllAvailable()
    } finally query.stop()
    val v = spark.read.parquet(verdicts)
      .select("doc_id", "kept", "is_novel").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2))).sortBy(_._1)
    assert(v.toSeq === Seq(
      (10L, false, false), (11L, true, true), (12L, false, true),
      (13L, false, true), (14L, true, true), (15L, false, true),
      (20L, false, false), (21L, false, true),
      (30L, false, true)), v.toSeq.toString)
    // the quote was vetoed by the CONTAINMENT screen, naming its
    // container — the admitted batch-0 doc
    val quote = spark.read.parquet(verdicts)
      .filter(col("doc_id") === 30L)
      .select("is_contained", "container_id").head()
    assert(quote.getBoolean(0) && quote.getLong(1) == 11L, quote.toString)
    // index membership = seed + exactly the kept docs, in ALL indexes
    val indexed = spark.read.parquet(s"$idx/sets").select("doc_id")
      .distinct().collect().map(_.getLong(0)).sorted
    assert(indexed.toSeq === Seq(0L, 11L, 14L))
    val cIndexed = spark.read.parquet(s"$cidx/fps").select("doc_id")
      .distinct().collect().map(_.getLong(0)).sorted
    assert(cIndexed.toSeq === Seq(0L, 11L, 14L))
    val sIndexed = spark.read.parquet(s"$sidx/fps").select("doc_id")
      .distinct().collect().map(_.getLong(0)).sorted
    assert(sIndexed.toSeq === Seq(0L, 11L, 14L))
  }

  test("streaming curation with contamination + outlier screens equals the batch screen") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files
      .createTempDirectory("curation-stream-full").toString
    val (idx, verdicts, ckpt) = (s"$tmp/idx", s"$tmp/verdicts", s"$tmp/ckpt")
    def text(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    graft.ext.Dedup.buildMinhashIndex(
      Seq((0L, text("heldtext", 30))).toDF("doc_id", "text"), idx)
    val evIdx = s"$tmp/evidx"
    graft.ext.Contamination.buildEvalIndex(
      Seq((900L, text("benchline", 30))).toDF("doc_id", "text"), evIdx)
    def mkEmb(id: Long, noise: Float): Array[Float] = {
      val r = new scala.util.Random(id)
      Array.tabulate(64)(j => (if (j == 0) 10f else 0f) +
        (r.nextFloat() * 2 - 1) * noise)
    }
    val oIdx = s"$tmp/oidx"
    graft.ext.Similarity.buildOutlierIndex(
      spark.range(100).select(col("id").as("vec_id"))
        .as[Long].map(i => (i, mkEmb(i, 0.01f)))
        .toDF("vec_id", "embedding"), oIdx)
    // one trigger: a clean doc, an eval-benchmark copy (novel to every
    // dedup index, caught only by the contamination screen), and a doc
    // whose embedding is garbage (caught only by the outlier screen)
    val rows = Seq(
      (10L, text("cleandoc", 30), mkEmb(10L, 0.01f)),
      (11L, text("benchline", 30), mkEmb(11L, 0.01f)),
      (12L, text("tidydocum", 30), mkEmb(12L, 3f)))
    // batch ≡ stream: the batch screen's verdicts computed FIRST (the
    // stream mutates the dedup index after screening)
    val batchDf = rows.toDF("doc_id", "text", "embedding")
    val expected = graft.ext.CorpusPrep.screenIncremental(
        batchDf, idx,
        contamIndexPath = Some(evIdx), contamSpanMinRun = Some(8),
        embeddings = Some(batchDf.select(col("doc_id").as("vec_id"),
          col("embedding"))),
        outlierIndexPath = Some(oIdx))
      .collect().map(_.toSeq).toSeq
    val source = MemoryStream[(Long, String, Array[Float])](
      implicitly[org.apache.spark.sql.Encoder[(Long, String, Array[Float])]],
      spark.sqlContext)
    val docs = source.toDF().toDF("doc_id", "text", "embedding")
    val query = Pipeline.curationStream(docs, idx, verdicts, ckpt,
      contamIndexPath = Some(evIdx), contamSpanMinRun = Some(8),
      outlierIndexPath = Some(oIdx),
      trigger = Trigger.ProcessingTime("0 seconds"))
    try {
      source.addData(rows: _*)
      query.processAllAvailable()
    } finally query.stop()
    val got = spark.read.parquet(verdicts)
      .drop("batch_id").orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    assert(got == expected, s"stream $got\nbatch $expected")
    // the verdicts themselves: clean doc kept, benchmark copy vetoed by
    // contamination alone, garbage embedding vetoed by the outlier
    // screen alone — both NOVEL to every dedup index
    val byId = spark.read.parquet(verdicts).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(10L).getAs[Boolean]("kept"))
    assert(!byId(11L).getAs[Boolean]("kept") &&
      byId(11L).getAs[Boolean]("is_contaminated") &&
      byId(11L).getAs[Long]("contam_match_id") == 900L &&
      !byId(11L).getAs[Boolean]("span_ok") &&
      byId(11L).getAs[Boolean]("is_novel"), byId(11L).toString)
    assert(!byId(12L).getAs[Boolean]("kept") &&
      byId(12L).getAs[Boolean]("is_outlier") &&
      byId(12L).getAs[Boolean]("is_novel"), byId(12L).toString)
    // only the kept doc entered the standing index; the frozen eval
    // and outlier models are untouched
    val indexed = spark.read.parquet(s"$idx/sets").select("doc_id")
      .distinct().collect().map(_.getLong(0)).sorted
    assert(indexed.toSeq === Seq(0L, 10L))
    assert(spark.read.parquet(s"$evIdx/grams")
      .select("eval_id").distinct().collect().map(_.getLong(0)).toSeq
      == Seq(900L))
  }

  test("streaming contamination screen verdicts equal the batch screen against the frozen eval index") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files
      .createTempDirectory("contam-stream").toString
    val (evIdx, verdicts, ckpt) = (s"$tmp/evidx", s"$tmp/verdicts", s"$tmp/ckpt")
    graft.ext.Contamination.buildEvalIndex(
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
        .toDF("doc_id", "text"), evIdx)
    val rows = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"), // verbatim
      (101L, "alpha beta gamma something else entirely here now"), // 2 < 5
      (102L, "unrelated training text with no overlap at all whatsoever"))
    val expected = graft.ext.Contamination.contaminationAgainstIndex(
      rows.toDF("doc_id", "text"), evIdx).collect().map(_.toSeq).toSeq
    val source = MemoryStream[(Long, String)](
      implicitly[org.apache.spark.sql.Encoder[(Long, String)]],
      spark.sqlContext)
    val query = Pipeline.contaminationScreenStream(
      source.toDF().toDF("doc_id", "text"), evIdx, verdicts, ckpt,
      trigger = Trigger.ProcessingTime("0 seconds"))
    try {
      source.addData(rows: _*)
      query.processAllAvailable()
    } finally query.stop()
    val got = spark.read.parquet(verdicts).drop("batch_id")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(got == expected, s"stream $got\nbatch $expected")
    assert(got.count(_(1) == true) == 1)
    // the eval index is untouched by the stream (frozen reference data)
    assert(spark.read.parquet(s"$evIdx/grams")
      .select("eval_id").distinct().collect().map(_.getLong(0)).toSeq
      == Seq(1L))
  }

  test("streaming span-contamination screen verdicts equal the batch screen") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files
      .createTempDirectory("span-stream").toString
    val (evIdx, verdicts, ckpt) = (s"$tmp/evidx", s"$tmp/verdicts", s"$tmp/ckpt")
    graft.ext.Contamination.buildEvalIndex(
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
        .toDF("doc_id", "text"), evIdx)
    val rows = Seq(
      (100L, "start alpha beta gamma delta epsilon zeta eta theta end"),
      (101L, "alpha beta gamma scattered only delta epsilon zeta here"),
      (102L, "no overlap in this training document at all"))
    val expected = graft.ext.Contamination.spanContaminationAgainstIndex(
      rows.toDF("doc_id", "text"), evIdx, minRunTokens = 8)
      .collect().map(_.toSeq).toSeq
    val source = MemoryStream[(Long, String)](
      implicitly[org.apache.spark.sql.Encoder[(Long, String)]],
      spark.sqlContext)
    val query = Pipeline.spanContaminationScreenStream(
      source.toDF().toDF("doc_id", "text"), evIdx, verdicts, ckpt,
      minRunTokens = 8,
      trigger = Trigger.ProcessingTime("0 seconds"))
    try {
      source.addData(rows: _*)
      query.processAllAvailable()
    } finally query.stop()
    val got = spark.read.parquet(verdicts).drop("batch_id")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(got == expected, s"stream $got\nbatch $expected")
    assert(got.count(_(3) == true) == 1) // only the contiguous quote
    // the eval index is untouched (frozen reference data)
    assert(spark.read.parquet(s"$evIdx/grams")
      .select("eval_id").distinct().collect().map(_.getLong(0)).toSeq
      == Seq(1L))
  }

  test("streaming neardup-contamination screen verdicts equal the batch screen") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files
      .createTempDirectory("neardup-stream").toString
    val (evIdx, verdicts, ckpt) = (s"$tmp/evidx", s"$tmp/verdicts", s"$tmp/ckpt")
    def longText(tag: String, edits: Set[Int] = Set.empty) =
      (1 to 60).map(i =>
        if (edits(i)) s"edited$i" else s"${tag}tok$i").mkString(" ")
    graft.ext.Dedup.buildMinhashIndex(
      Seq((1L, longText("bench"))).toDF("doc_id", "text"), evIdx)
    val rows = Seq(
      (100L, longText("bench")),                  // verbatim copy
      (101L, longText("bench", Set(30))),         // paraphrase, J ≈ 0.90
      (102L, longText("unrelated")))
    val expected = graft.ext.Contamination.neardupContaminationAgainstIndex(
      rows.toDF("doc_id", "text"), evIdx).collect().map(_.toSeq).toSeq
    val source = MemoryStream[(Long, String)](
      implicitly[org.apache.spark.sql.Encoder[(Long, String)]],
      spark.sqlContext)
    val query = Pipeline.neardupContaminationScreenStream(
      source.toDF().toDF("doc_id", "text"), evIdx, verdicts, ckpt,
      trigger = Trigger.ProcessingTime("0 seconds"))
    try {
      source.addData(rows: _*)
      query.processAllAvailable()
    } finally query.stop()
    val got = spark.read.parquet(verdicts).drop("batch_id")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(got == expected, s"stream $got\nbatch $expected")
    assert(got.count(_(1) == true) == 2) // verbatim + paraphrase, not 102
    // the eval index is untouched by the stream (frozen reference data)
    assert(spark.read.parquet(s"$evIdx/sets")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSeq
      == Seq(1L))
  }

  test("streaming simhash dedup flags near-copies against the growing fingerprint index") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files
      .createTempDirectory("simhash-stream").toString
    val (idx, verdicts, ckpt) = (s"$tmp/idx", s"$tmp/verdicts", s"$tmp/ckpt")
    val source = MemoryStream[(Long, String)](
      implicitly[org.apache.spark.sql.Encoder[(Long, String)]],
      spark.sqlContext)
    val docs = source.toDF().toDF("doc_id", "text")
    val query = Pipeline.simhashDedupStream(docs, idx, verdicts, ckpt,
      maxHamming = 3, compactEvery = 2,
      trigger = Trigger.ProcessingTime("0 seconds"))
    def text(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    try {
      // cold start: no index — both docs novel, they seed the base
      source.addData((0L, text("alpha", 30)), (1L, text("beta", 30)))
      query.processAllAvailable()
      // batch 1: a byte-identical copy of doc 0 (Hamming 0 ≤ radius)
      // and a fresh doc
      source.addData((10L, text("alpha", 30)), (11L, text("gamma", 30)))
      query.processAllAvailable()
      // batch 2 (post-compaction namespace): a copy of batch-1's
      // ADMITTED doc — the index grew, so it is caught
      source.addData((20L, text("gamma", 30)))
      query.processAllAvailable()
    } finally query.stop()
    val v = spark.read.parquet(verdicts)
      .select("doc_id", "is_novel", "best_hamming", "match_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        Option(r.get(2)).map(_.asInstanceOf[Int]),
        Option(r.get(3)).map(_.asInstanceOf[Long]))).sortBy(_._1)
    assert(v.toSeq === Seq((0L, true, None, None), (1L, true, None, None),
      (10L, false, Some(0), Some(0L)), (11L, true, None, None),
      (20L, false, Some(0), Some(11L))))
    // the index holds exactly the admitted (novel) docs' fingerprints
    val indexed = spark.read.parquet(s"$idx/fps").select("doc_id")
      .distinct().collect().map(_.getLong(0)).sorted
    assert(indexed.toSeq === Seq(0L, 1L, 11L))
    // in-stream compaction folded the earlier ingests into the base
    val ingests = new java.io.File(s"$idx/fps").listFiles()
      .filter(_.getName.startsWith("ingest=")).map(_.getName).sorted.toSeq
    assert(ingests.head == "ingest=0" && !ingests.contains("ingest=1"),
      ingests.toString)
  }

  test("streaming line dedup rewrites batches against the growing line-hash index") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files
      .createTempDirectory("line-stream").toString
    val (idx, verdicts, ckpt) = (s"$tmp/idx", s"$tmp/verdicts", s"$tmp/ckpt")
    val source = MemoryStream[(Long, String)](
      implicitly[org.apache.spark.sql.Encoder[(Long, String)]],
      spark.sqlContext)
    val query = Pipeline.lineDedupStream(
      source.toDF().toDF("doc_id", "text"), idx, verdicts, ckpt,
      compactEvery = 2, trigger = Trigger.ProcessingTime("0 seconds"))
    try {
      // cold start: in-batch keep-first only — doc 1's copy of "shared
      // line" loses to doc 0.
      source.addData((0L, "shared line\nuniq zero"),
        (1L, "shared line\nuniq one"))
      query.processAllAvailable()
      // batch 1: a line held by batch 0 is cut; a fresh line survives.
      source.addData((10L, "uniq one\nfresh line"))
      query.processAllAvailable()
      // batch 2 (post-compaction namespace): batch 1's ADMITTED line is
      // now held — the index grew.
      source.addData((20L, "fresh line\nlast line"))
      query.processAllAvailable()
    } finally query.stop()
    val v = spark.read.parquet(verdicts)
      .select("doc_id", "clean_text", "lines_removed").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(v.toSeq == Seq(
      (0L, "shared line\nuniq zero", 0L),
      (1L, "uniq one", 1L),
      (10L, "fresh line", 1L),
      (20L, "last line", 1L)))
    // Batches in doc_id order replay sequential dedupLines exactly.
    val all = Seq((0L, "shared line\nuniq zero"), (1L, "shared line\nuniq one"),
      (10L, "uniq one\nfresh line"), (20L, "fresh line\nlast line"))
      .toDF("doc_id", "text")
    val seq = graft.ext.TextAnalysis.dedupLines(all).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(v.toSeq == seq.toSeq)
    // In-stream compaction folded the earlier ingests into the base.
    val ingests = new java.io.File(s"$idx/lines").listFiles()
      .filter(_.getName.startsWith("ingest=")).map(_.getName).sorted.toSeq
    assert(ingests.head == "ingest=0" && !ingests.contains("ingest=1"),
      ingests.toString)
  }

  test("streaming line dedup refuses a reset checkpoint over a progressed index") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files
      .createTempDirectory("line-stream-guard").toString
    val (idx, verdicts, ckpt) = (s"$tmp/idx", s"$tmp/verdicts", s"$tmp/ckpt")
    // An index progressed by some OLD run (ingests through 5)…
    graft.ext.TextAnalysis.buildLineIndex(
      Seq((0L, "old line one")).toDF("doc_id", "text"), idx)
    graft.ext.TextAnalysis.appendLineIndex(
      Seq((1L, "old line two")).toDF("doc_id", "text"), idx, ingestId = 5L)
    // …driven by a FRESH checkpoint: batch 0's hygiene delete would
    // destroy committed data, so the pairing guard must fail loudly.
    val source = MemoryStream[(Long, String)](
      implicitly[org.apache.spark.sql.Encoder[(Long, String)]],
      spark.sqlContext)
    val query = Pipeline.lineDedupStream(
      source.toDF().toDF("doc_id", "text"), idx, verdicts, ckpt,
      trigger = Trigger.ProcessingTime("0 seconds"))
    try {
      source.addData((9L, "incoming doc"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        query.processAllAvailable()
      }
      assert(e.getMessage.contains("does not pair") ||
        String.valueOf(e.getCause).contains("does not pair"), e.getMessage)
    } finally query.stop()
    // The committed index survived untouched.
    val ingests = new java.io.File(s"$idx/lines").listFiles()
      .filter(_.getName.startsWith("ingest=")).map(_.getName).sorted.toSeq
    assert(ingests == Seq("ingest=0", "ingest=5"), ingests.toString)
  }

  test("streaming outlier screen flags embedding batches against the frozen model") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, udf}
    import org.apache.spark.sql.streaming.Trigger
    val mkEmb = (id: Long) => {
      val r = new scala.util.Random(id)
      val noise = if (id % 50 == 7) 3f else 0.01f
      Array.tabulate(64)(j => (if (j == 0) 10f else 0f) +
        (r.nextFloat() * 2 - 1) * noise)
    }
    val mkEmbU = udf(mkEmb)
    val train = spark.range(200).select(col("id").as("vec_id"),
      lit(0).as("label"), mkEmbU(col("id")).as("embedding"))
    val tmp = java.nio.file.Files
      .createTempDirectory("outlier-stream").toString
    val (idx, verdicts, ckpt) = (s"$tmp/model", s"$tmp/verdicts", s"$tmp/ckpt")
    graft.ext.Similarity.buildOutlierIndex(train, idx)
    val source = MemoryStream[(Long, Int, Array[Float])](
      implicitly[org.apache.spark.sql.Encoder[(Long, Int, Array[Float])]],
      spark.sqlContext)
    val emb = source.toDF().toDF("vec_id", "label", "embedding")
    val query = Pipeline.outlierScreenStream(emb, idx, verdicts, ckpt,
      trigger = Trigger.ProcessingTime("0 seconds"))
    try {
      // batch 0: two clean vectors and one garbage (id ≡ 7 mod 50)
      source.addData((1000L, 0, mkEmb(1000L)), (1001L, 0, mkEmb(1001L)),
        (1057L, 0, mkEmb(1057L)))
      query.processAllAvailable()
      // batch 1: garbage again — the model is frozen, same verdict
      source.addData((2007L, 0, mkEmb(2007L)))
      query.processAllAvailable()
    } finally query.stop()
    val v = spark.read.parquet(verdicts)
      .select("vec_id", "is_outlier").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).sortBy(_._1)
    assert(v.toSeq === Seq((1000L, false), (1001L, false),
      (1057L, true), (2007L, true)), v.toSeq.toString)
    // stream ≡ batch: the verdict rows equal outliersAgainstIndex over
    // the same rows (the frozen-model equivalence the family pins)
    val batchForm = graft.ext.Similarity.outliersAgainstIndex(
        Seq((1057L, 0, mkEmb(1057L))).toDF("vec_id", "label", "embedding"),
        idx).head()
    val streamed = spark.read.parquet(verdicts)
      .filter(col("vec_id") === 1057L)
      .select("vec_id", "label", "cell", "cos_centroid", "zscore",
        "is_outlier").head()
    assert(streamed.toSeq == batchForm.toSeq)
  }

  test("streaming DSIR screen scores batches against the frozen persisted model") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files
      .createTempDirectory("dsir-stream").toString
    val (idx, verdicts, ckpt) = (s"$tmp/idx", s"$tmp/verdicts", s"$tmp/ckpt")
    // the frozen target model: spark-vocabulary text
    graft.ext.TextAnalysis.buildDsirIndex(Seq(
        (0L, "spark shuffle join spark shuffle join"),
        (1L, "spark join agg shuffle broadcast exchange"))
      .toDF("doc_id", "text"), idx)
    val source = MemoryStream[(Long, String)](
      implicitly[org.apache.spark.sql.Encoder[(Long, String)]],
      spark.sqlContext)
    val docs = source.toDF().toDF("doc_id", "text")
    val query = Pipeline.dsirScreenStream(docs, idx, verdicts, ckpt,
      minScore = 0.0, retainVerdictBatches = 2,
      trigger = Trigger.ProcessingTime("0 seconds"))
    try {
      source.addData(
        (10L, "spark shuffle join broadcast"), // in-distribution
        (11L, "llama vicuna alpaca gguf"))     // out-of-distribution
      query.processAllAvailable()
      source.addData((20L, "spark join exchange"))
      query.processAllAvailable()
      source.addData((30L, "quantized weights chat template"))
      query.processAllAvailable()
    } finally query.stop()
    // retention 2: batch 0 pruned after batch 2 landed
    val dirs = new java.io.File(verdicts).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).sorted
    assert(dirs.toSeq == Seq("batch_id=1", "batch_id=2"), dirs.toSeq)
    val v = spark.read.parquet(s"$verdicts/batch_id=1")
      .unionByName(spark.read.parquet(s"$verdicts/batch_id=2"))
      .select("doc_id", "keep").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(v(20L)) // target vocabulary scores above the floor
    assert(!v(30L)) // disjoint vocabulary scores below
    // the surviving batch-1/2 verdicts match a direct indexed scoring —
    // the stream adds delivery, not semantics
    val direct = graft.ext.TextAnalysis.dsirWeightsIndexed(spark, idx,
        Seq((20L, "spark join exchange")).toDF("doc_id", "text"))
      .head()
    val streamed = spark.read.parquet(s"$verdicts/batch_id=1")
      .select("doc_id", "n_feats", "sum_log_ratio", "mean_log_ratio")
      .head()
    assert(streamed.toSeq == direct.toSeq)
  }

  test("streaming blocklist screen equals the batch gate, with bounded verdict retention") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files
      .createTempDirectory("blocklist-stream").toString
    val (verdicts, ckpt) = (s"$tmp/verdicts", s"$tmp/ckpt")
    val source = MemoryStream[(Long, String)](
      implicitly[org.apache.spark.sql.Encoder[(Long, String)]],
      spark.sqlContext)
    val docs = source.toDF().toDF("doc_id", "text")
    val query = Pipeline.blocklistScreenStream(docs, Seq("bad", "worse"),
      verdicts, ckpt, maxFraction = 0.25, retainVerdictBatches = 2,
      trigger = Trigger.ProcessingTime("0 seconds"))
    val batch1 = Seq((10L, "clean text all the way down"),
      (11L, "bad bad text here"))
    val batch2 = Seq((20L, "one BAD token in eight clean words total"),
      (21L, ""))
    try {
      source.addData((0L, "seed batch"))
      query.processAllAvailable()
      source.addData(batch1: _*)
      query.processAllAvailable()
      source.addData(batch2: _*)
      query.processAllAvailable()
    } finally query.stop()
    // retention 2: batch 0 pruned after batch 2 landed
    val dirs = new java.io.File(verdicts).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).sorted
    assert(dirs.toSeq == Seq("batch_id=1", "batch_id=2"), dirs.toSeq)
    // batch equivalence: the stream adds delivery, not semantics —
    // every surviving verdict row equals the batch operator's on the
    // same docs (case-insensitivity, blank-doc zeros, threshold edge)
    for ((dir, data) <- Seq("batch_id=1" -> batch1, "batch_id=2" -> batch2)) {
      val streamed = spark.read.parquet(s"$verdicts/$dir")
        .orderBy("doc_id").collect().map(_.toSeq)
      val direct = graft.ext.TextAnalysis.blocklistGate(
        data.toDF("doc_id", "text"), Seq("bad", "worse"),
        maxFraction = 0.25).collect().map(_.toSeq)
      assert(streamed.toSeq == direct.toSeq, dir)
    }
    val v = spark.read.parquet(s"$verdicts/batch_id=1")
      .unionByName(spark.read.parquet(s"$verdicts/batch_id=2"))
      .select("doc_id", "keep").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(v == Map(10L -> true, 11L -> false, 20L -> true, 21L -> true))
  }

  test("streaming minhash dedup survives a checkpointed restart without rescreening or duplicating") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files
      .createTempDirectory("minhash-stream-restart").toString
    val (idx, verdicts, ckpt) = (s"$tmp/idx", s"$tmp/verdicts", s"$tmp/ckpt")
    val source = MemoryStream[(Long, String)](
      implicitly[org.apache.spark.sql.Encoder[(Long, String)]],
      spark.sqlContext)
    val docs = source.toDF().toDF("doc_id", "text")
    def start() = Pipeline.minhashDedupStream(docs, idx, verdicts, ckpt,
      trigger = Trigger.ProcessingTime("0 seconds"))
    val tA = "the quick brown fox jumps over the lazy dog again and again"
    val tC = "entirely unrelated words never appearing in the standing corpus"
    val q1 = start()
    try {
      source.addData((0L, tA)); q1.processAllAvailable()
    } finally q1.stop()
    // Restart against the SAME checkpoint: committed offsets mean batch
    // 0 is not reprocessed; the index (all cross-batch state) carries
    // the screen, so the dup of doc 0 is still caught after restart.
    val q2 = start()
    try {
      source.addData((10L, tA), (11L, tC)); q2.processAllAvailable()
    } finally q2.stop()
    val v = spark.read.parquet(verdicts)
      .select("doc_id", "is_novel", "match_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]))).sortBy(_._1)
    assert(v.toSeq === Seq((0L, true, None),
      (10L, false, Some(0L)), (11L, true, None)))
    // No duplicated index rows from the restart: one row per admitted doc.
    val indexed = spark.read.parquet(s"$idx/sets").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(indexed.toSeq === Seq(0L, 11L))
  }

  test("streaming minhash dedup with in-stream compaction keeps verdicts and membership") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files
      .createTempDirectory("minhash-stream-compact").toString
    val (idx, verdicts, ckpt) = (s"$tmp/idx", s"$tmp/verdicts", s"$tmp/ckpt")
    val source = MemoryStream[(Long, String)](
      implicitly[org.apache.spark.sql.Encoder[(Long, String)]],
      spark.sqlContext)
    val docs = source.toDF().toDF("doc_id", "text")
    val query = Pipeline.minhashDedupStream(docs, idx, verdicts, ckpt,
      compactEvery = 2, trigger = Trigger.ProcessingTime("0 seconds"))
    val tA = "the quick brown fox jumps over the lazy dog again and again"
    val tB = "completely different content about spark query engines at scale"
    val tC = "entirely unrelated words never appearing in the standing corpus"
    val tD = "yet another brand new document with its own fresh wording"
    try {
      source.addData((0L, tA), (1L, tB)); query.processAllAvailable() // batch 0
      source.addData((10L, tA), (11L, tC)); query.processAllAvailable() // batch 1
      source.addData((20L, tB), (21L, tD)); query.processAllAvailable() // batch 2 → compacts
      source.addData((30L, tC), (31L, tD)); query.processAllAvailable() // batch 3 vs folded
    } finally query.stop()
    val v = spark.read.parquet(verdicts)
      .select("doc_id", "is_novel", "match_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]))).sortBy(_._1)
    // Dups are flagged identically before, across, and after the fold:
    // 30 dups 11 (admitted pre-compaction), 31 dups 21 (admitted in the
    // compacting batch itself).
    assert(v.toSeq === Seq((0L, true, None), (1L, true, None),
      (10L, false, Some(0L)), (11L, true, None),
      (20L, false, Some(1L)), (21L, true, None),
      (30L, false, Some(11L)), (31L, false, Some(21L))))
    // The fold happened: batch-0/1 ingests live in the base now.
    val ingests = new java.io.File(s"$idx/sets").listFiles()
      .map(_.getName).filter(_.startsWith("ingest=")).sorted.toSeq
    assert(ingests.head == "ingest=0" && !ingests.contains("ingest=1"),
      ingests.toString)
    // Membership preserved: every admitted doc is in the index exactly once.
    val indexed = spark.read.parquet(s"$idx/sets").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(indexed.toSeq === Seq(0L, 1L, 11L, 21L))
  }

  test("streaming minhash dedup verdict-dir retention keeps only the window, dedup unaffected") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files
      .createTempDirectory("minhash-stream-retain").toString
    val (idx, verdicts, ckpt) = (s"$tmp/idx", s"$tmp/verdicts", s"$tmp/ckpt")
    val source = MemoryStream[(Long, String)](
      implicitly[org.apache.spark.sql.Encoder[(Long, String)]],
      spark.sqlContext)
    val docs = source.toDF().toDF("doc_id", "text")
    val query = Pipeline.minhashDedupStream(docs, idx, verdicts, ckpt,
      retainVerdictBatches = 2,
      trigger = Trigger.ProcessingTime("0 seconds"))
    val tA = "the quick brown fox jumps over the lazy dog again and again"
    val texts = Seq(
      tA,
      "completely different content about spark query engines at scale",
      "entirely unrelated words never appearing in the standing corpus",
      "yet another brand new document with its own fresh wording")
    try {
      texts.zipWithIndex.foreach { case (t, i) =>
        source.addData((i * 10L, t)); query.processAllAvailable()
      }
      // batch 4: a dup of batch 0's doc — the screen reads the INDEX,
      // so dedup memory must survive verdict pruning.
      source.addData((100L, tA)); query.processAllAvailable()
    } finally query.stop()
    val dirs = new java.io.File(verdicts).listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(dirs === Seq("batch_id=3", "batch_id=4"), dirs.toString)
    val v4 = spark.read.parquet(s"$verdicts/batch_id=4")
      .select("doc_id", "is_novel", "match_id").head()
    assert(v4.getLong(0) == 100L && !v4.getBoolean(1) &&
      v4.getLong(2) == 0L)
    // index membership is complete despite the pruned audit dirs
    assert(spark.read.parquet(s"$idx/sets").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(0L, 10L, 20L, 30L))
  }

  test("streaming semantic dedup admits novel vectors and flags cross-batch dups") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files
      .createTempDirectory("semdedup-stream").toString
    val (idx, verdicts, ckpt) = (s"$tmp/idx", s"$tmp/verdicts", s"$tmp/ckpt")
    val source = MemoryStream[(Long, Int, Seq[Float])](
      implicitly[org.apache.spark.sql.Encoder[(Long, Int, Seq[Float])]],
      spark.sqlContext)
    val emb = source.toDF().toDF("vec_id", "label", "embedding")
    // retainVerdictBatches = 2: with two batches driven, both stay —
    // pruning must never touch partitions inside the window.
    val query = Pipeline.semanticDedupStream(emb, idx, verdicts, ckpt,
      threshold = 0.95, nlist = 4, dim = 4, nprobe = 4,
      retainVerdictBatches = 2,
      trigger = Trigger.ProcessingTime("0 seconds"))
    try {
      // cold start: both directions are novel and seed the index
      source.addData((0L, 0, Seq(1f, 0f, 0f, 0f)),
        (1L, 0, Seq(0f, 1f, 0f, 0f)))
      query.processAllAvailable()
      // batch 2: a near-copy of vec 0 (dup) and a new direction (novel)
      source.addData((10L, 0, Seq(0.99f, 0.05f, 0f, 0f)),
        (11L, 0, Seq(0f, 0f, 1f, 0f)))
      query.processAllAvailable()
      // batch 3: pushes batch 0 out of the 2-batch verdict window
      source.addData((20L, 0, Seq(0f, 0f, 0f, 1f)))
      query.processAllAvailable()
    } finally query.stop()
    val v = spark.read.parquet(verdicts)
      .select("vec_id", "is_novel", "match_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]))).sortBy(_._1)
    // batch 0's audit rows (vecs 0, 1) are pruned; later verdicts intact
    assert(v.toSeq === Seq((10L, false, Some(0L)), (11L, true, None),
      (20L, true, None)))
    assert(new java.io.File(verdicts).listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).sorted.toSeq ===
      Seq("batch_id=1", "batch_id=2"))
    // the index holds every admitted (novel) vector — dedup memory is
    // the INDEX, unaffected by audit retention
    val indexed = spark.read.parquet(idx).select("vec_id").collect()
      .map(_.getLong(0)).sorted
    assert(indexed.toSeq === Seq(0L, 1L, 11L, 20L))
  }
}
