package graft.stream

import org.apache.spark.sql.{DataFrame, GraftStreamPlan, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.etl.{Enrich, Quality}
import graft.ext.{Contamination, CorpusPrep, Dedup, Quantization, Retrieval,
  Similarity, TextAnalysis}
import graft.ingest.Json
import graft.model.Schemas
import graft.warehouse.{Warehouse, WarehouseSink}

/** Keyed state carried across micro-batches by
  * [[Pipeline.vendorRunningTotals]].
  */
case class VendorTotals(vendor_id: Int, trips: Long, revenue: Double)

/** [[Pipeline.vendorRunningTotalsTws]]'s processor — the Spark-4-native
  * arbitrary-state API (`transformWithState`). Per-vendor totals live in
  * a typed `ValueState` owned by the state store (RocksDB-backed; the
  * only provider this API supports — bounded heap by construction),
  * rather than in the encoder-roundtripped GroupState of the
  * `mapGroupsWithState` formulation. TTL, timers and multi-state are
  * available on the same handle when eviction/session semantics need
  * them.
  */
class VendorTotalsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Int, (Int, Double), VendorTotals] {
  import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}

  @transient private var totals: ValueState[VendorTotals] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    totals = getHandle.getValueState[VendorTotals]("totals",
      org.apache.spark.sql.Encoders.product[VendorTotals], TTLConfig.NONE)

  override def handleInputRows(vendor: Int, rows: Iterator[(Int, Double)],
                               timerValues: TimerValues): Iterator[VendorTotals] = {
    val prev =
      if (totals.exists()) totals.get() else VendorTotals(vendor, 0L, 0.0)
    val (n, rev) = rows.foldLeft((prev.trips, prev.revenue)) {
      case ((c, r), (_, fare)) => (c + 1, r + fare)
    }
    val next = VendorTotals(vendor, n, rev)
    totals.update(next)
    Iterator.single(next)
  }
}

/** A closed rider session emitted by [[Pipeline.sessionize]]. */
case class VendorSession(vendor_id: Int, trips: Long, revenue: Double,
                         first_ts: java.sql.Timestamp,
                         last_ts: java.sql.Timestamp)

/** Per-key Welford running moments for [[Pipeline.anomalyStream]]. */
case class WelfordState(n: Long, mean: Double, m2: Double)

/** An emitted anomaly: `z` is the value's score against the history
  * BEFORE it; `n_seen` is how much history backed the score.
  */
case class AnomalyFlag(user_id: Long, event_id: Long, value: Double,
                       z: Double, n_seen: Long)

private case class SessionState(trips: Long, revenue: Double,
                                firstMs: Long, lastMs: Long)

/** Streaming ingest pipeline — the reference's consumer end-to-end
  * (reference: spark_consumer.py:40-140), on Structured Streaming.
  *
  * The transform DAG is a pure `DataFrame => DataFrame`, so the identical
  * plan runs in batch tests, against `MemoryStream`, or against a Kafka
  * source — Spark's unified API. Semantics preserved: 10 s processing-time
  * trigger (T1), checkpointed offsets (T3), the micro-batch append (T4,
  * upgraded to effectively-once: [[startIdempotent]]), empty-batch skip
  * (spark_consumer.py:87-88) — an empty or all-invalid batch writes no
  * `batch_id=` dir. Deliberately NOT preserved: the reference's
  * `count()`-then-write double execution (spark_consumer.py:86,106) —
  * each batch runs once, as the write job (SURVEY §4).
  */
object Pipeline {

  /** parse (P1–P3) → enrich (P5–P10) → validity filter (P11) → warehouse
    * projection (P4). Works on any frame with a `value` column (Kafka
    * layout, MemoryStream[String] aliased, file source).
    *
    * Named observed metrics (`Dataset.observe`) report per-micro-batch
    * parsed/valid row counts and the valid fare sum through
    * `StreamingQueryProgress.observedMetrics` (and
    * `QueryExecutionListener` in batch): the quality filter's drop rate
    * rides the write job as accumulators, with no extra pass. The
    * `graft_parsed` node also fences the filter: Catalyst does not push
    * predicates through `CollectMetrics`, so the filter reads the parsed
    * columns instead of re-running `from_json` once per conjunct.
    */
  def transform(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val parsed = Enrich.enrich(Json.parseStream(raw, Schemas.tripStream))
      .observe("graft_parsed", count(lit(1)).as("rows_parsed"))
    Enrich.warehouseProjection(
      Quality.validTrips(parsed)
        .observe("graft_valid", count(lit(1)).as("rows_valid"),
          sum(col("fare_amount")).as("fare_sum")))
  }

  /** T1/T3/T4/T9 — start the sink: each micro-batch of [[transform]]
    * lands in its own `batch_id=` directory, and a replay after failure
    * replaces the dates it carries instead of duplicating them — the
    * effectively-once upgrade of the reference's at-least-once append
    * that SURVEY §2.6 names. The stream writes through
    * [[graft.warehouse.WarehouseSink]]'s micro-batch sink, not through a
    * `foreachBatch`: one job per trigger, run inside the trigger's own
    * SQL execution over the plan the trigger built, whose tasks read the
    * Hadoop job conf from one broadcast per query. The sink calls
    * [[graft.warehouse.WarehouseSink.write]], the write function
    * [[graft.warehouse.Warehouse.appendTripsIdempotent]] calls. The plan
    * is optimized once, here
    * ([[org.apache.spark.sql.GraftStreamPlan]]), so each trigger's
    * analysis and optimization find nothing left to rewrite. The batch
    * id is in the path, not in the plan, so a steady trigger reuses the
    * write's generated code; with the session's `file:` filesystem
    * ([[graft.functions.GraftExtensions]]) it forks no process either
    * (PipelineSpec pins both, and the optimizer's two runs a trigger).
    */
  def startIdempotent(raw: DataFrame, warehousePath: String,
                      checkpointDir: String,
                      trigger: Trigger = Trigger.ProcessingTime("10 seconds"))
      : StreamingQuery =
    GraftStreamPlan.optimizedOnce(Warehouse.withPickupDate(transform(raw))).writeStream
      .format(classOf[WarehouseSink].getName)
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .start(warehousePath)

  /** T5 upgrade path — event-time hourly aggregation with a watermark:
    * the streaming form of [[graft.agg.Analytics.hourlyStatistics]]. State
    * for windows older than the watermark is dropped, so state size is
    * bounded by (watermark span × groups), not stream length — the
    * property that matters on an unbounded 100 TB/day stream.
    */
  def hourlyStream(trips: DataFrame, watermark: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.functions._
    trips
      .withWatermark("pickup_datetime", watermark)
      .groupBy(window(col("pickup_datetime"), "1 hour"), col("vendor_id"))
      .agg(count(lit(1)).as("trip_count"),
        graft.agg.Analytics.dsum(col("fare_amount")).as("revenue"))
  }

  /** [[vendorRunningTotals]] on the Spark-4-native `transformWithState`
    * API (same output contract): typed ValueState in the RocksDB-backed
    * store via [[VendorTotalsProcessor]]. Requires
    * `spark.sql.streaming.stateStore.providerClass` =
    * `RocksDBStateStoreProvider` — the API rejects the default HDFS
    * provider, which is the point: state never accumulates on-heap.
    */
  def vendorRunningTotalsTws(trips: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row])
      : org.apache.spark.sql.Dataset[VendorTotals] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import trips.sparkSession.implicits._
    trips
      .selectExpr("vendor_id", "fare_amount")
      .as[(Int, Double)]
      .groupByKey(_._1)
      .transformWithState(new VendorTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** T6 upgrade path — arbitrary keyed state via `mapGroupsWithState`:
    * per-vendor running totals that survive across micro-batches (the
    * kind of custom state the reference kept in PostgreSQL).
    */
  def vendorRunningTotals(trips: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row])
      : org.apache.spark.sql.Dataset[VendorTotals] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import trips.sparkSession.implicits._
    trips
      .selectExpr("vendor_id", "fare_amount")
      .as[(Int, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (vendor: Int, batch: Iterator[(Int, Double)],
         state: GroupState[VendorTotals]) =>
          val prev = state.getOption.getOrElse(VendorTotals(vendor, 0L, 0.0))
          val (n, rev) = batch.foldLeft((prev.trips, prev.revenue)) {
            case ((c, r), (_, fare)) => (c + 1, r + fare)
          }
          val next = VendorTotals(vendor, n, rev)
          state.update(next)
          next
      }
  }

  /** Streaming dedup with bounded state: duplicates arriving within the
    * watermark are dropped, state for older keys is evicted. This is the
    * streaming face of [[graft.ext.Dedup]] — at-least-once upstream
    * delivery (T4) plus this equals effectively-once in the warehouse.
    */
  def dedupStream(trips: DataFrame, keys: Seq[String],
                  watermark: String = "10 minutes"): DataFrame =
    trips.withWatermark("pickup_datetime", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Incremental corpus dedup at ingestion: each micro-batch of
    * documents anti-joins on content digest against the STANDING corpus
    * — literally the batch operator
    * ([[graft.ext.Dedup.dedupAgainstSeen]]) run stream-static, which is
    * the point: one dedup definition serves both planes. The static
    * side re-plans per micro-batch, so warehouse appends between
    * batches take effect without restarting the query, and there is NO
    * streaming state — the "seen" set lives in the warehouse layout
    * (digest-bucketed at scale, so the join prunes buckets), never in a
    * billion-key state store. Compose with [[dedupStream]] upstream to
    * also collapse duplicates arriving WITHIN the stream's watermark.
    */
  def dedupAgainstCorpus(docStream: DataFrame, corpus: DataFrame): DataFrame =
    graft.ext.Dedup.dedupAgainstSeen(docStream, corpus)

  /** The one `foreachBatch` builder of the index and verdict streams:
    * `stream` is handed to `body` once per non-empty micro-batch with its
    * batch id, and offsets are checkpointed under `checkpointDir`. An
    * empty micro-batch is skipped, so it commits with no verdict dir, no
    * rank snapshot and no index ingest. With `persist`, the batch is
    * cached for the body's several passes (screen, read-back join,
    * append) and released after it; the emptiness probe then reads the
    * cache too, so each input row is computed once.
    *
    * Every stream on it shares one replay contract:
    *  - One streaming writer per index (and verdict dir) per checkpoint
    *    lineage — Spark's batchId-idempotence contract. A fresh
    *    checkpoint restarts batch ids at 0 and would overwrite an
    *    earlier stream's partitions.
    *  - Index appends run under ingest id `batchId + 1` (0 is reserved
    *    for a base corpus) as a dynamic overwrite of that partition, so
    *    foreachBatch's at-least-once replay rewrites the partition
    *    instead of duplicating it, and the index is exactly-once per
    *    checkpoint lineage. The explicit id also makes the first append
    *    initialize an empty base on cold start, so the first real batch
    *    lands in its own replayable partition too.
    *  - Each batch's verdicts overwrite `verdictDir/batch_id=N`
    *    ([[writeVerdicts]]); a replay rewrites exactly its own audit
    *    rows.
    *  - `compactEvery` = N folds an index's ingests into its base every
    *    N batches ([[compactDue]]); 0 leaves compaction to the caller.
    *  - `retainVerdictBatches` bounds the verdict audit dir
    *    ([[pruneVerdictDirs]]); 0 leaves retention to the caller.
    * The index carries all cross-batch state: streaming state is zero
    * and the checkpoint holds offsets only.
    */
  private def nonEmptyBatches(stream: DataFrame, checkpointDir: String,
                              trigger: Trigger, persist: Boolean)
                             (body: (DataFrame, Long) => Unit)
      : StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!persist) { if (!batch.isEmpty) body(batch, batchId) }
        else {
          val once = batch.persist()
          try if (!once.isEmpty) body(once, batchId)
          finally { once.unpersist(); () }
        }
      }
      .start()

  /** The rank streams ([[bm25IndexStream]], [[annIndexStream]],
    * [[pqIndexStream]]): `append` folds the whole batch into the
    * persisted index under its ingest id, then the standing query,
    * re-ranked by `rank` against the now-current index, overwrites
    * `rankDir` — a VIEW of the index, not a log.
    */
  private def rankStream(stream: DataFrame, rankDir: String,
                         checkpointDir: String, trigger: Trigger)
                        (append: (DataFrame, Long) => Unit)
                        (rank: SparkSession => DataFrame): StreamingQuery =
    nonEmptyBatches(stream, checkpointDir, trigger, persist = true) {
      (once, batchId) =>
        append(once, batchId + 1)
        rank(once.sparkSession).write.mode("overwrite").parquet(rankDir)
    }

  /** The frozen-model verdict screens ([[dsirScreenStream]] and its
    * siblings): each batch is scored against reference data the stream
    * never mutates, the verdicts overwrite `verdictDir/batch_id=N`, and
    * old verdict dirs are pruned. There is no cross-batch state, so the
    * dir overwrite is the whole effect and replays are trivially
    * idempotent.
    */
  private def verdictScreen(stream: DataFrame, verdictDir: String,
                            checkpointDir: String, retainVerdictBatches: Int,
                            trigger: Trigger)
                           (score: DataFrame => DataFrame): StreamingQuery =
    nonEmptyBatches(stream, checkpointDir, trigger, persist = false) {
      (batch, batchId) =>
        writeVerdicts(score(batch), verdictDir, batchId)
        pruneVerdictDirs(batch.sparkSession, verdictDir, batchId,
          retainVerdictBatches)
    }

  /** The growing-index dedup streams ([[minhashDedupStream]],
    * [[containmentDedupStream]], [[simhashDedupStream]],
    * [[semanticDedupStream]], [[curationStream]]): `screen` verdicts the
    * batch against the standing index and the verdicts are written;
    * the rows flagged `admit` are read back FROM WHAT WAS WRITTEN and
    * `append` folds exactly those rows (left-semi on `key`) into the
    * index under the batch's ingest id, so later batches dedup against
    * them. Ordering is durable, not cached: the verdicts land before
    * the index mutates, so a recomputation can never observe the
    * post-append index. Then `compact` runs on the [[compactDue]]
    * cadence and old verdict dirs are pruned.
    */
  private def indexDedup(stream: DataFrame, verdictDir: String,
                         checkpointDir: String, compactEvery: Int,
                         retainVerdictBatches: Int, trigger: Trigger,
                         key: String = "doc_id", admit: String = "is_novel")
                        (screen: DataFrame => DataFrame)
                        (append: (DataFrame, Long) => Unit)
                        (compact: SparkSession => Unit): StreamingQuery =
    nonEmptyBatches(stream, checkpointDir, trigger, persist = true) {
      (once, batchId) =>
        import org.apache.spark.sql.functions.col
        val spark = once.sparkSession
        val written = writeVerdicts(screen(once), verdictDir, batchId)
        val admitted = spark.read.parquet(written)
          .filter(col(admit)).select(key)
        append(once.join(admitted, Seq(key), "left_semi"), batchId + 1)
        if (compactDue(batchId, compactEvery)) compact(spark)
        pruneVerdictDirs(spark, verdictDir, batchId, retainVerdictBatches)
    }

  /** Overwrites `verdictDir/batch_id=N` with batch N's verdicts and
    * returns that path.
    */
  private def writeVerdicts(verdicts: DataFrame, verdictDir: String,
                            batchId: Long): String = {
    val outDir = s"$verdictDir/batch_id=$batchId"
    verdicts.write.mode("overwrite").parquet(outDir)
    outDir
  }

  /** In-stream compaction cadence: every `compactEvery` batches, never
    * at batch 0; `compactEvery` = 0 never. At a 10 s trigger an index
    * gains 8,640 ingest partitions/day, and Bm25Drill measured an 11×
    * query decay at just 122. Folding in-stream is safe precisely
    * because foreachBatch is the index's single writer: folded-id
    * replays no-op by the lifecycle contract, and a crash mid-fold
    * resumes from staging.
    */
  private def compactDue(batchId: Long, compactEvery: Int): Boolean =
    compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0

  /** Bounded retention for a per-batch verdict audit dir: deletes
    * `verdictDir/batch_id=K` for K ≤ currentBatch − retain. The verdict
    * stream is an AUDIT LOG, not pipeline state (the novel set is read
    * back within the writing batch; nothing re-reads old partitions),
    * so unbounded growth is pure operational debt — at the reference's
    * 10 s trigger, 8,640 dirs/day. Retention is crash-trivial: deletes
    * are idempotent, a replay only ever rewrites the CURRENT batch's
    * partition (always inside the window), and a crash mid-sweep just
    * leaves dirs the next batch's sweep re-deletes. Consumers wanting
    * history beyond the window own copying it out (a downstream
    * reader/ETL over `verdictDir` — the usual audit-log contract);
    * `retain` = 0 disables and the caller owns retention entirely.
    */
  private def pruneVerdictDirs(spark: SparkSession,
                               verdictDir: String, currentBatch: Long,
                               retain: Int): Unit =
    if (retain > 0) {
      val vd = new org.apache.hadoop.fs.Path(verdictDir)
      val fs = vd.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Option(fs.globStatus(new org.apache.hadoop.fs.Path(vd, "batch_id=*")))
        .toSeq.flatten.foreach { st =>
          val id = st.getPath.getName.stripPrefix("batch_id=").toLongOption
          if (id.exists(_ <= currentBatch - retain)) {
            fs.delete(st.getPath, true); ()
          }
        }
    }

  /** Streaming retrieval — the streaming twin of
    * [[graft.ext.Retrieval.bm25Indexed]], the same batch/stream symmetry
    * the engine shows for dedup and k-means applied to the inverted
    * index: each micro-batch of documents is folded into the PERSISTED
    * index ([[graft.ext.Retrieval.appendBm25Index]] — postings append
    * into the bucketed layout, the 1-row stats merge by sum), then the
    * standing query re-ranks against the now-current index and the
    * top-k snapshot lands in `rankDir` (overwrite: it is a VIEW of the
    * index, not a log). After any prefix of the stream, the snapshot is
    * EXACTLY what the batch ranker returns over the documents ingested
    * so far — PipelineSpec pins that over a two-batch replay. Replay
    * safety is the [[nonEmptyBatches]] contract.
    *
    * Scale: per trigger, work is (batch postings shuffle) + (query-
    * bucket-pruned rank) — never a corpus re-scan. Same new-doc_ids
    * contract as the append.
    */
  def bm25IndexStream(docs: DataFrame, indexPath: String,
                      terms: Seq[String], k: Int, rankDir: String,
                      checkpointDir: String,
                      trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    rankStream(docs, rankDir, checkpointDir, trigger)(
      (b, ingest) => Retrieval.appendBm25Index(b, indexPath,
        ingestId = ingest))(
      Retrieval.bm25Indexed(_, indexPath, terms, k))

  /** Streaming ANN ingest — [[bm25IndexStream]]'s twin for the vector
    * index: each micro-batch of embeddings is folded into the persisted
    * IVF index ([[graft.ext.Similarity.appendIvfIndex]] — index rows
    * are independent, so the append is pure partitioned file adds) and
    * the standing query vector re-ranks against the now-current index
    * into `rankDir`. After any stream prefix the snapshot equals
    * `annTopKIndexed` over a from-scratch index of the vectors ingested
    * so far (PipelineSpec). Replay safety is the [[nonEmptyBatches]]
    * contract.
    */
  def annIndexStream(emb: DataFrame, indexPath: String,
                     qVec: Array[Float], qNorm: Double, k: Int,
                     rankDir: String, checkpointDir: String,
                     nlist: Int = 16, dim: Int = 64, nprobe: Int = 2,
                     trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    rankStream(emb, rankDir, checkpointDir, trigger)(
      (b, ingest) => Similarity.appendIvfIndex(b, indexPath, nlist, dim,
        ingestId = ingest))(
      Similarity.annTopKIndexed(_, indexPath, qVec, qNorm, k, nprobe))

  /** Streaming PQ ingest — [[annIndexStream]]'s twin for the CODES
    * index: each micro-batch of embeddings is encoded with the index's
    * frozen codebook and folded into the persisted PQ index
    * ([[graft.ext.Quantization.appendPqIndex]]); the standing query
    * re-ranks by driver-table ADC against the now-current index into
    * `rankDir`. Cold-start semantics are the operator's: the codebook
    * trains on the FIRST batch and freezes — after any stream prefix
    * the snapshot equals `pqTopKIndexed` over a from-scratch index of
    * the vectors so far built WITH THAT codebook (PipelineSpec).
    * Replay safety is the [[nonEmptyBatches]] contract.
    */
  def pqIndexStream(emb: DataFrame, indexPath: String,
                    qVec: Array[Float], k: Int,
                    rankDir: String, checkpointDir: String,
                    m: Int = 4, codebookK: Int = 16, iters: Int = 3,
                    dim: Int = 64, nlist: Int = 16, nprobe: Int = 2,
                    trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    rankStream(emb, rankDir, checkpointDir, trigger)(
      (b, ingest) => Quantization.appendPqIndex(b, indexPath, m, codebookK,
        iters, dim, nlist, ingestId = ingest))(
      Quantization.pqTopKIndexed(_, indexPath, qVec, k, nprobe))

  /** Incremental semantic dedup over a vector stream — the semantic
    * twin of [[dedupStream]]/[[dedupAgainstCorpus]], and SemDeDup's
    * production deployment shape: per micro-batch, screen incoming
    * vectors against the standing corpus in the persisted IVF index
    * ([[graft.ext.Similarity.semanticNovelAgainstIndex]] — cell-pruned,
    * never batch × corpus), land the per-vector verdicts in
    * `verdictDir/batch_id=N`, and fold ONLY the novel vectors into the
    * index so later batches dedup against them — the [[indexDedup]]
    * skeleton, keyed on `vec_id`, with no compaction. The no-corpus-yet
    * gate (cold start, and the crash window between the empty-base
    * commit and the first append) lives INSIDE the operator: no data →
    * the whole batch is novel. A failure replay re-screens against an
    * index that already holds the batch's novel members, finds them as
    * their own matches, and appends nothing — the index converges (the
    * replayed batch's verdict rows then record the self-match, which is
    * the honest audit of the replay). Within-batch duplicates are both
    * admitted — intra-batch dedup is the batch operator's job upstream
    * ([[graft.ext.Similarity.semanticDedup]]), same contract as the
    * exact-digest stream. Replay, retention: the [[nonEmptyBatches]] contract.
    */
  def semanticDedupStream(embStream: DataFrame, indexPath: String,
                          verdictDir: String, checkpointDir: String,
                          threshold: Double = 0.95, nlist: Int = 16,
                          dim: Int = 64, nprobe: Int = 2,
                          retainVerdictBatches: Int = 0,
                          trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    indexDedup(embStream, verdictDir, checkpointDir, compactEvery = 0,
        retainVerdictBatches, trigger, key = "vec_id")(
      Similarity.semanticNovelAgainstIndex(_, indexPath, threshold, nprobe))(
      (b, ingest) => Similarity.appendIvfIndex(b, indexPath, nlist, dim,
        ingestId = ingest))(
      _ => ())

  /** Streaming syntactic near-dup screen — the MinHash member of the
    * streaming dedup family, completing [[dedupStream]] (exact,
    * in-watermark), [[dedupAgainstCorpus]] (exact digest vs standing
    * corpus) and [[semanticDedupStream]] (embedding cells): each
    * micro-batch of documents is screened against the PERSISTED MinHash
    * corpus index ([[graft.ext.Dedup.minhashNovelAgainstIndex]] —
    * band-bucket candidates, stored-set exact-Jaccard verify, corpus
    * text never re-scanned), verdicts land in `verdictDir/batch_id=N`,
    * and the batch's novel docs fold into the index
    * ([[graft.ext.Dedup.appendMinhashIndex]]) so later batches dedup
    * against them too — the [[indexDedup]] skeleton, under the
    * [[nonEmptyBatches]] replay contract: the INDEX converges exactly-once
    * per checkpoint lineage. Verdicts are NOT stable across crash
    * replays (the [[semanticDedupStream]] contract): a crash between
    * the append and the checkpoint commit replays the batch against an
    * index that already holds its novel docs, and the rewritten
    * `batch_id=N` verdicts then record those docs as non-novel
    * SELF-matches (match_id = their own doc_id) — the honest audit of
    * the replay, but consumers wanting replay-stable verdicts must
    * filter self/current-ingest matches downstream. Cold start: an
    * absent index means the first batch is wholly novel and
    * self-initializes the base.
    */
  def minhashDedupStream(docStream: DataFrame, indexPath: String,
                         verdictDir: String, checkpointDir: String,
                         threshold: Double = 0.5,
                         compactEvery: Int = 0,
                         retainVerdictBatches: Int = 0,
                         trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    indexDedup(docStream, verdictDir, checkpointDir, compactEvery,
        retainVerdictBatches, trigger)(
      Dedup.minhashNovelAgainstIndex(_, indexPath, threshold))(
      (b, ingest) => Dedup.appendMinhashIndex(b, indexPath, ingestId = ingest))(
      Dedup.compactMinhashIndex(_, indexPath))

  /** Streaming DSIR quality screen — the streaming twin of
    * [[graft.ext.TextAnalysis.dsirWeightsIndexed]], and the
    * data-selection member of the streaming curation family: each
    * micro-batch of documents scores against the PERSISTED target
    * model (the ≤ buckets-row histogram index —
    * [[graft.ext.TextAnalysis.buildDsirIndex]]), gets a
    * `keep = mean_log_ratio ≥ minScore` verdict, and lands in
    * `verdictDir/batch_id=N` ([[verdictScreen]]). Unlike the dedup
    * streams the model is FROZEN — a selection model that absorbed the
    * stream it filters would drift toward whatever arrives — so there
    * is no index mutation, no cross-batch state at all, and replays are
    * trivially idempotent. Retraining the target model is
    * [[graft.ext.TextAnalysis.buildDsirIndex]] offline, never
    * in-stream.
    */
  def dsirScreenStream(docStream: DataFrame, indexPath: String,
                       verdictDir: String, checkpointDir: String,
                       minScore: Double = 0.0,
                       retainVerdictBatches: Int = 0,
                       trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    verdictScreen(docStream, verdictDir, checkpointDir,
        retainVerdictBatches, trigger) { batch =>
      import org.apache.spark.sql.functions.col
      TextAnalysis.dsirWeightsIndexed(batch.sparkSession, indexPath, batch)
        .withColumn("keep", col("mean_log_ratio") >= minScore)
    }

  /** Streaming containment screen — the cross-corpus containment
    * question at ingest time: each micro-batch screens against the
    * persisted winnow-fingerprint index
    * ([[graft.ext.Dedup.containmentAgainstIndex]] — "is this new doc
    * already contained in something the corpus holds"), verdicts land
    * in `verdictDir/batch_id=N`, and the docs NOT contained
    * (is_novel) append into the index under `ingest = batchId + 1` —
    * the [[indexDedup]] skeleton under the [[nonEmptyBatches]] replay
    * contract. A contained doc never enters the index (admitting it
    * would let near-copies of held content accrete); novel docs grow
    * the standing corpus so later quotes of them ARE caught.
    */
  def containmentDedupStream(docStream: DataFrame, indexPath: String,
                             verdictDir: String, checkpointDir: String,
                             threshold: Double = 0.5,
                             compactEvery: Int = 0,
                             retainVerdictBatches: Int = 0,
                             trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    indexDedup(docStream, verdictDir, checkpointDir, compactEvery,
        retainVerdictBatches, trigger)(
      Dedup.containmentAgainstIndex(_, indexPath, threshold))(
      (b, ingest) => Dedup.appendContainmentIndex(b, indexPath,
        ingestId = ingest))(
      Dedup.compactContainmentIndex(_, indexPath))

  /** Streaming semantic-outlier screen — the embedding-side member of
    * the frozen-model streaming family
    * ([[graft.ext.Similarity.outliersAgainstIndex]] per micro-batch
    * against the PERSISTED centroids + per-cell cosine moments):
    * verdict rows with assignment, z-score, and the outlier flag land
    * in `verdictDir/batch_id=N` ([[verdictScreen]]). Like
    * [[dsirScreenStream]] the model is FROZEN — an outlier boundary
    * that absorbed the stream it filters would drift toward whatever
    * garbage arrives — so there is no cross-batch state and replays are
    * trivially idempotent; refitting is
    * [[graft.ext.Similarity.buildOutlierIndex]] offline.
    */
  def outlierScreenStream(embStream: DataFrame, indexPath: String,
                          verdictDir: String, checkpointDir: String,
                          z: Double = 2.0,
                          retainVerdictBatches: Int = 0,
                          trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    verdictScreen(embStream, verdictDir, checkpointDir,
        retainVerdictBatches, trigger)(
      Similarity.outliersAgainstIndex(_, indexPath, z))

  /** Streaming curation composite — the whole incremental screen
    * ([[graft.ext.CorpusPrep.screenIncremental]]: row-local quality +
    * blocklist (+ the optional full Gopher battery, `gopherGate`),
    * standing-corpus MinHash novelty, optional frozen-model
    * DSIR selection, intra-batch near-dup clustering) as ONE
    * foreachBatch: verdicts with full per-screen audit columns land in
    * `verdictDir/batch_id=N`, and exactly the `kept` docs are admitted
    * to the standing MinHash index under `ingest = batchId + 1` — so
    * the next trigger's novelty screen already sees them. The
    * [[indexDedup]] skeleton throughout, under the [[nonEmptyBatches]]
    * replay contract; each configured index is appended and compacted
    * independently replay-idempotent. The DSIR model, the eval-gram
    * contamination index, and the outlier model stay FROZEN
    * ([[dsirScreenStream]]'s rationale — reference state that absorbed
    * the stream it filters would drift); only the dedup indexes grow.
    * A rejected doc never enters an index: quality/blocklist/selection
    * failures don't deserve to suppress future copies, and near-dups
    * of held content must not accrete.
    */
  def curationStream(docStream: DataFrame, minhashIndexPath: String,
                     verdictDir: String, checkpointDir: String,
                     blocklist: Seq[String] = Nil,
                     blocklistMaxFraction: Double = 0.0,
                     nearDupThreshold: Double = 0.5,
                     dsirIndexPath: Option[String] = None,
                     dsirMinScore: Double = 0.0,
                     containmentIndexPath: Option[String] = None,
                     containmentThreshold: Double = 0.5,
                     simhashIndexPath: Option[String] = None,
                     maxHamming: Int = 3,
                     contamIndexPath: Option[String] = None,
                     contamMinShared: Int = 5,
                     contamSpanMinRun: Option[Int] = None,
                     neardupEvalIndexPath: Option[String] = None,
                     neardupEvalThreshold: Double = 0.5,
                     outlierIndexPath: Option[String] = None,
                     outlierZ: Double = 2.0,
                     repetitionMaxDupFrac: Option[Double] = None,
                     gopherGate: Option[graft.ext.TextAnalysis
                       .GopherGateConfig] = None,
                     compactEvery: Int = 0,
                     retainVerdictBatches: Int = 0,
                     trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    indexDedup(docStream, verdictDir, checkpointDir, compactEvery,
        retainVerdictBatches, trigger, admit = "kept") { once =>
      import org.apache.spark.sql.functions.col
      // Outlier screen rides the stream's own `embedding` column (the
      // doc and its vector arrive together at ingest); the model — like
      // the eval-gram and DSIR indexes — stays frozen, so screened
      // batches never move the boundary.
      val emb = outlierIndexPath.map { _ =>
        require(once.columns.contains("embedding"),
          "curationStream: outlierIndexPath set but the stream " +
            "carries no `embedding` column — the outlier screen " +
            "scores the batch's own vectors")
        once.select(col("doc_id").as("vec_id"), col("embedding"))
      }
      // sorted = false: the per-batch verdict write needs no
      // corpus-wide presentation sort (the oracle queries keep the
      // default; PipelineSpec compares order-insensitively).
      CorpusPrep.screenIncremental(
        once, minhashIndexPath, blocklist, blocklistMaxFraction,
        nearDupThreshold, dsirIndexPath, dsirMinScore,
        containmentIndexPath, containmentThreshold,
        simhashIndexPath, maxHamming,
        contamIndexPath, contamMinShared, contamSpanMinRun,
        neardupEvalIndexPath, neardupEvalThreshold,
        emb, outlierIndexPath, outlierZ,
        repetitionMaxDupFrac, gopherGate, sorted = false)
    } { (keptDocs, ingest) =>
      // Kept docs enter EVERY configured standing index under the same
      // ingest, so all screens see them next trigger.
      Dedup.appendMinhashIndex(keptDocs, minhashIndexPath, ingestId = ingest)
      containmentIndexPath.foreach(
        Dedup.appendContainmentIndex(keptDocs, _, ingestId = ingest))
      simhashIndexPath.foreach(
        Dedup.appendSimhashIndex(keptDocs, _, ingestId = ingest))
    } { spark =>
      Dedup.compactMinhashIndex(spark, minhashIndexPath)
      containmentIndexPath.foreach(Dedup.compactContainmentIndex(spark, _))
      simhashIndexPath.foreach(Dedup.compactSimhashIndex(spark, _))
    }

  /** Streaming SimHash dedup — the Hamming-radius novelty question at
    * ingest time, completing the indexed streaming family
    * ([[minhashDedupStream]] Jaccard, [[containmentDedupStream]]
    * one-sided containment, semantic-vector [[semanticDedupStream]]):
    * each micro-batch screens against the persisted fingerprint index
    * ([[graft.ext.Dedup.simhashNovelAgainstIndex]]), verdicts land in
    * `verdictDir/batch_id=N`, and novel docs append their 16-byte
    * fingerprints under `ingest = batchId + 1` — the [[indexDedup]]
    * skeleton under the [[nonEmptyBatches]] replay contract. A matched doc
    * never enters the index (near-copies of held content must not
    * accrete); novel docs grow the standing corpus so later near-copies
    * of THEM are caught.
    */
  def simhashDedupStream(docStream: DataFrame, indexPath: String,
                         verdictDir: String, checkpointDir: String,
                         maxHamming: Int = 3,
                         compactEvery: Int = 0,
                         retainVerdictBatches: Int = 0,
                         trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    indexDedup(docStream, verdictDir, checkpointDir, compactEvery,
        retainVerdictBatches, trigger)(
      Dedup.simhashNovelAgainstIndex(_, indexPath, maxHamming))(
      (b, ingest) => Dedup.appendSimhashIndex(b, indexPath, ingestId = ingest))(
      Dedup.compactSimhashIndex(_, indexPath))

  /** Streaming line dedup — [[graft.ext.TextAnalysis.dedupLines]]'s
    * ingest-time twin, completing the line family's scan + index +
    * stream symmetry: each micro-batch is REWRITTEN against the
    * persisted line-hash index
    * ([[graft.ext.TextAnalysis.dedupLinesAgainstIndex]] — held lines
    * cut out, keep-first within the batch), the cleaned docs land in
    * `verdictDir/batch_id=N`, and the batch's line hashes fold into
    * the index under `ingest = batchId + 1` — ALL of them, not only
    * novel ones: this is a rewrite screen, not a keep/drop verdict, so
    * every incoming line is "seen" from the next trigger on
    * (duplicate hashes across ingests are harmless under the screen's
    * semi-join; compaction dedups). Batches arriving in doc_id order
    * replay sequential [[graft.ext.TextAnalysis.dedupLines]] over the
    * concatenated history exactly (LineOpsSpec pins the equality).
    *
    * Crash-replay here must be STRONGER than the [[nonEmptyBatches]]
    * contract the siblings rely on: a replayed SimHash screen that sees
    * the crashed attempt's own fingerprints merely flips an audit flag
    * to a filterable self-match, but a replayed line screen that sees
    * the batch's own hashes would rewrite every doc down to its blank
    * lines — and the rewritten text IS the product. Three measures
    * close the window, in trigger order: (1) [[graft.ext.TextAnalysis
    * .dropLineIngest]] deletes any `ingest = batchId + 1` partition a
    * crashed attempt left (uncommitted data no reader ever saw); (2)
    * compaction runs BEFORE the screen and append — after the hygiene
    * delete, a fold can only ever see committed batches, so it can
    * never smuggle this batch's hashes into the base; (3) the screen
    * additionally excludes `ingest = batchId + 1` outright (belt to
    * (1)'s suspenders). Replays are therefore byte-identical at every
    * crash point (LineOpsSpec pins screen-after-append ≡
    * screen-before-append under the exclusion). That order is why this
    * stream is not an [[indexDedup]]: it shares only the builder, the
    * verdict path, the compaction cadence and retention.
    */
  def lineDedupStream(docStream: DataFrame, indexPath: String,
                      verdictDir: String, checkpointDir: String,
                      compactEvery: Int = 0,
                      retainVerdictBatches: Int = 0,
                      trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    nonEmptyBatches(docStream, checkpointDir, trigger, persist = true) {
      (once, batchId) =>
        val spark = once.sparkSession
        val ingest = batchId + 1
        // Checkpoint↔index pairing guard: the hygiene delete below
        // treats `ingest = batchId + 1` as uncommitted crash leftover,
        // which is only true when THIS checkpoint's batch counter
        // produced the index's ingests. A reset checkpoint over a
        // progressed index would let batch 0 delete (and the screen
        // exclude) committed data — fail loudly instead. (Residual
        // boundary: an old run that committed ONLY batch 0 is
        // indistinguishable from a crashed attempt; the
        // checkpoint/index pairing is a hard contract.)
        val linesDir = new org.apache.hadoop.fs.Path(s"$indexPath/lines")
        val lfs = linesDir.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val maxSeen = (graft.ext.IndexStamp.ingestIds(lfs, linesDir) ++
          graft.ext.IndexStamp.compactedIds(lfs,
            new org.apache.hadoop.fs.Path(indexPath)))
          .foldLeft(-1L)(math.max)
        require(maxSeen <= ingest,
          s"lineDedupStream: index at $indexPath holds ingest " +
            s"$maxSeen but this stream's batch counter is at " +
            s"$batchId — the checkpoint does not pair with this " +
            "index (was it reset?); refusing the hygiene delete " +
            "that would destroy committed index data")
        // Crash-leftover hygiene + compact BEFORE screen and append
        // (see scaladoc: measures (1) and (2)).
        TextAnalysis.dropLineIngest(spark, indexPath, ingest)
        if (compactDue(batchId, compactEvery))
          TextAnalysis.compactLineIndex(spark, indexPath)
        writeVerdicts(TextAnalysis.dedupLinesAgainstIndex(once, indexPath,
          excludeIngest = Some(ingest)), verdictDir, batchId)
        TextAnalysis.appendLineIndex(once, indexPath, ingestId = ingest)
        pruneVerdictDirs(spark, verdictDir, batchId, retainVerdictBatches)
    }

  /** Streaming blocklist gate — the streaming twin of
    * [[graft.ext.TextAnalysis.blocklistGate]], completing the row-local
    * half of the streaming curation family next to [[dsirScreenStream]]:
    * each micro-batch gets per-doc token counts, blocked fraction, and
    * a `keep` verdict against a FIXED blocklist (a plan literal inside
    * one codegen'd filter lambda — no state, no join, no shuffle), and
    * lands in `verdictDir/batch_id=N` ([[verdictScreen]]). Like the
    * DSIR screen the reference data is frozen: a blocklist is policy,
    * never derived from the stream it filters, so replays are trivially
    * idempotent. PipelineSpec pins batch equivalence — the stream adds
    * delivery, not semantics.
    */
  def blocklistScreenStream(docStream: DataFrame, blocklist: Seq[String],
                            verdictDir: String, checkpointDir: String,
                            maxFraction: Double = 0.0,
                            retainVerdictBatches: Int = 0,
                            trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    verdictScreen(docStream, verdictDir, checkpointDir,
        retainVerdictBatches, trigger)(
      TextAnalysis.blocklistGate(_, blocklist, maxFraction))

  /** Streaming contamination screen — the standalone twin of the
    * composite's stage ([[graft.ext.Contamination
    * .contaminationAgainstIndex]]): each micro-batch is verdicted
    * against the PERSISTED eval-gram index, verdicts land in
    * `verdictDir/batch_id=N` ([[verdictScreen]]). The
    * [[dsirScreenStream]] discipline: the eval suite is reference data,
    * FROZEN with respect to the stream it filters (new benchmarks
    * arrive via [[graft.ext.Contamination.appendEvalIndex]], an offline
    * act), so the screen is stateless and replays are trivially
    * idempotent. Stop-gram pruning rides the stored eval-side df cap,
    * so a doc's verdict never depends on its trigger-mates.
    * PipelineSpec pins batch ≡ stream.
    *
    * UPGRADE NOTE (r15): the screen fails CLOSED — a missing eval
    * index throws inside foreachBatch instead of verdicting all-clean
    * (the old cold-start tolerance silently disabled the screen).
    * [[graft.ext.Contamination.buildEvalIndex]] /
    * [[graft.ext.Contamination.ensureEvalIndex]] MUST run before the
    * query starts; only a committed-empty index (explicit empty-suite
    * initialization) legitimately flags nothing.
    */
  def contaminationScreenStream(docStream: DataFrame, indexPath: String,
                                verdictDir: String, checkpointDir: String,
                                minShared: Int = 5,
                                retainVerdictBatches: Int = 0,
                                trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    verdictScreen(docStream, verdictDir, checkpointDir,
        retainVerdictBatches, trigger)(
      Contamination.contaminationAgainstIndex(_, indexPath, minShared,
        sorted = false))

  /** Streaming SPAN-contamination screen — [[contaminationScreenStream]]
    * with the consecutive-overlap rule ([[graft.ext.Contamination
    * .spanContaminationAgainstIndex]]): each micro-batch's docs are
    * verdicted by their longest contiguous token run shared with the
    * frozen eval suite. Stateless, replay-idempotent
    * ([[verdictScreen]]), the eval index frozen with respect to the
    * stream it filters — the family discipline throughout. PipelineSpec
    * pins batch ≡ stream. Fails closed on a missing index like the
    * whole family: build/ensure the eval index BEFORE starting the
    * query (see [[contaminationScreenStream]]'s upgrade note).
    */
  def spanContaminationScreenStream(docStream: DataFrame, indexPath: String,
                                    verdictDir: String, checkpointDir: String,
                                    minRunTokens: Int = 13,
                                    retainVerdictBatches: Int = 0,
                                    trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    verdictScreen(docStream, verdictDir, checkpointDir,
        retainVerdictBatches, trigger)(
      Contamination.spanContaminationAgainstIndex(_, indexPath,
        minRunTokens, sorted = false))

  /** Streaming FUZZY-contamination screen — [[contaminationScreenStream]]
    * with the near-dup rule ([[graft.ext.Contamination
    * .neardupContaminationAgainstIndex]]): each micro-batch's docs are
    * verdicted by MinHash Jaccard against the FROZEN eval-suite MinHash
    * index, catching the paraphrased benchmark copy both gram rules
    * miss. Stateless, replay-idempotent ([[verdictScreen]]), the eval
    * index frozen with respect to the stream it filters — the family
    * discipline throughout; fails closed on a missing index
    * (build/ensure [[graft.ext.Dedup.buildMinhashIndex]] over the eval
    * suite BEFORE starting the query — see
    * [[contaminationScreenStream]]'s upgrade note). Per-trigger cost:
    * the eval index broadcasts (benchmark-sized), the batch streams —
    * the screen's `broadcastIndex` plan. PipelineSpec pins
    * batch ≡ stream.
    */
  def neardupContaminationScreenStream(docStream: DataFrame,
                                       indexPath: String,
                                       verdictDir: String,
                                       checkpointDir: String,
                                       threshold: Double = 0.5,
                                       retainVerdictBatches: Int = 0,
                                       trigger: Trigger =
                                         Trigger.AvailableNow())
      : StreamingQuery =
    verdictScreen(docStream, verdictDir, checkpointDir,
        retainVerdictBatches, trigger)(
      Contamination.neardupContaminationAgainstIndex(_, indexPath,
        threshold, sorted = false))

  /** Streaming k-means scoring — the streaming twin of
    * [[graft.ext.Similarity.kmeansClusters]]: incoming embeddings are
    * assigned to their nearest FITTED centroid (the same opaque
    * quantizer node the batch fit and the IVF index use,
    * [[graft.ext.Similarity.cellFor]]) with their cosine to it. The fit
    * happens offline on the corpus ([[graft.ext.Similarity.kmeansFit]]);
    * scoring is a stateless projection, so it rides any trigger with
    * zero streaming state — the fitted k×dim matrix is a plan literal
    * broadcast with the codegen'd expression, exactly how a production
    * model-scoring stream ships a small model to every executor.
    */
  def scoreEmbeddings(embStream: DataFrame,
                      cs: Seq[Seq[Float]]): DataFrame = {
    import org.apache.spark.sql.functions._
    val centLit = typedLit(cs)
    embStream.select(col("vec_id"),
      Similarity.cellFor(col("embedding"), cs).as("cell"),
      round(Similarity.dot(col("embedding"),
          element_at(centLit, col("cell") + 1)) /
        Similarity.norm(col("embedding")), 4).as("cos"))
  }

  /** Running per-cluster statistics over the scored stream: count and
    * mean cosine per cell, the live view of [[graft.ext.Similarity
    * .kmeansClusters]]'s batch summary (drift here = refit the
    * centroids). Complete-mode state is exactly k rows — bounded by the
    * model, not the stream — and the mean aggregates through DECIMAL
    * like every other mean in the engine.
    */
  def clusterStatsStream(embStream: DataFrame,
                         cs: Seq[Seq[Float]]): DataFrame = {
    import org.apache.spark.sql.functions._
    scoreEmbeddings(embStream, cs)
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("cos").cast("decimal(27,12)")) / count(lit(1)), 4)
          .cast("double").as("mean_cos"))
  }

  /** Streaming anomaly detection — the live twin of
    * [[graft.agg.Profile.outliersByGroup]]: per-key Welford running
    * moments (n, mean, M2 — three numbers of state per key, bounded by
    * key cardinality, never by stream length) score each arriving value
    * against the history BEFORE it, and |z| ≥ threshold rows are
    * emitted as alerts. Within a micro-batch, a key's rows are applied
    * in (ts, event_id) order, so batch boundaries don't matter AS LONG
    * AS arrival order respects (ts, event_id) per key: the spec pins
    * that by replaying the same in-order stream split 1-batch vs
    * 2-batch. A LATE event (earlier ts arriving in a later batch) is
    * scored against state that already folded in newer events, and
    * already-emitted alerts are never retracted — per-key out-of-order
    * arrival shifts scores. Feed from a source with per-key ordering
    * (or watermark-sort upstream) when that matters.
    */
  def anomalyStream(events: DataFrame, zThreshold: Double = 3.0,
                    minObs: Long = 5)
      : org.apache.spark.sql.Dataset[AnomalyFlag] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events.selectExpr("user_id", "event_id", "ts_ns", "value")
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (user: Long, batch: Iterator[(Long, Long, Long, Double)],
         state: GroupState[WelfordState]) =>
          val ordered = batch.toIndexedSeq.sortBy(r => (r._3, r._2))
          var st = state.getOption.getOrElse(WelfordState(0L, 0.0, 0.0))
          val alerts = Vector.newBuilder[AnomalyFlag]
          ordered.foreach { case (_, eid, _, x) =>
            if (st.n >= minObs) {
              val sd = math.sqrt(st.m2 / (st.n - 1).toDouble)
              if (sd > 0.0) {
                val z = (x - st.mean) / sd
                if (math.abs(z) >= zThreshold)
                  alerts += AnomalyFlag(user, eid, x,
                    math.rint(z * 1e4) / 1e4, st.n)
              }
            }
            val n1 = st.n + 1
            val d = x - st.mean
            val mean1 = st.mean + d / n1
            st = WelfordState(n1, mean1, st.m2 + d * (x - mean1))
          }
          state.update(st)
          alerts.result().iterator
      }
  }

  /** Sessionization with gap timeout — `flatMapGroupsWithState` +
    * `GroupStateTimeout.ProcessingTimeTimeout`: per-vendor activity
    * accumulates until `gapMs` of silence, then the closed session is
    * emitted and its state dropped. The reference kept all cross-batch
    * state in PostgreSQL; this is the bounded-state Spark-native form.
    */
  def sessionize(trips: DataFrame, gapMs: Long = 30000L)
      : org.apache.spark.sql.Dataset[VendorSession] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import trips.sparkSession.implicits._
    trips
      .selectExpr("vendor_id", "fare_amount",
        "CAST(pickup_datetime AS LONG) * 1000 AS ts_ms")
      .as[(Int, Double, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.ProcessingTimeTimeout()) {
        (vendor: Int, batch: Iterator[(Int, Double, Long)],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(VendorSession(vendor, s.trips, s.revenue,
              new java.sql.Timestamp(s.firstMs), new java.sql.Timestamp(s.lastMs)))
          } else {
            val prev = state.getOption.getOrElse(
              SessionState(0L, 0.0, Long.MaxValue, Long.MinValue))
            val next = batch.foldLeft(prev) { case (s, (_, fare, ts)) =>
              SessionState(s.trips + 1, s.revenue + fare,
                math.min(s.firstMs, ts), math.max(s.lastMs, ts))
            }
            state.update(next)
            state.setTimeoutDuration(gapMs)
            Iterator.empty
          }
      }
  }

  /** Event-time sessionization — the watermark-driven twin of
    * [[sessionize]]. Two differences from the processing-time form, both
    * of which make it deterministic w.r.t. the DATA rather than the wall
    * clock: (1) sessions split on event-time gaps — each trigger's rows
    * are sorted by event time and folded, closing a session whenever the
    * next event is more than `gapMs` after the last; (2) an open session
    * closes when the event-time watermark passes `last event + gapMs`
    * (`EventTimeTimeout`), not after wall-clock silence. Same session
    * definition as the batch [[graft.operators.Temporal.sessionize]], so
    * replaying a day's stream yields the oracle-checked batch answer.
    *
    * State is one `SessionState` per active key — bounded by key
    * cardinality, evicted at timeout; the sort is per key per trigger.
    * Events arriving later than the watermark allows are dropped by the
    * watermark itself (standard Spark semantics); within-watermark late
    * events extend the open session but cannot re-split already-closed
    * ones.
    */
  def sessionizeEventTime(trips: DataFrame, gapMs: Long = 30000L,
                          watermark: String = "1 minute")
      : org.apache.spark.sql.Dataset[VendorSession] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import trips.sparkSession.implicits._
    trips
      .withWatermark("pickup_datetime", watermark)
      // The watermarked column itself must reach the stateful operator —
      // deriving epoch-ms here would strip the event-time metadata and
      // fail analysis; convert inside the lambda instead.
      .selectExpr("vendor_id", "fare_amount", "pickup_datetime")
      .as[(Int, Double, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (vendor: Int, rawBatch: Iterator[(Int, Double, java.sql.Timestamp)],
         state: GroupState[SessionState]) =>
          val batch = rawBatch.map(r => (r._1, r._2, r._3.getTime))
          def close(s: SessionState) = VendorSession(vendor, s.trips,
            s.revenue, new java.sql.Timestamp(s.firstMs),
            new java.sql.Timestamp(s.lastMs))
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(close(s))
          } else {
            val rows = batch.toArray.sortBy(_._3)
            val closed = scala.collection.mutable.ArrayBuffer.empty[VendorSession]
            var open = state.getOption
            rows.foreach { case (_, fare, ts) =>
              open = open match {
                case Some(s) if ts - s.lastMs > gapMs =>
                  closed += close(s)
                  Some(SessionState(1L, fare, ts, ts))
                case Some(s) =>
                  Some(SessionState(s.trips + 1, s.revenue + fare,
                    math.min(s.firstMs, ts), math.max(s.lastMs, ts)))
                case None =>
                  Some(SessionState(1L, fare, ts, ts))
              }
            }
            open.foreach { s =>
              state.update(s)
              // Fire when the watermark passes last + gap; Spark requires
              // the timeout timestamp to be beyond the current watermark.
              state.setTimeoutTimestamp(math.max(s.lastMs + gapMs,
                state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator
          }
      }
  }

  /** Stream-stream inner join with bounded state: right rows join left
    * rows with the same key whose event time they follow within
    * `withinSec`. BOTH sides carry watermarks and the join condition
    * bounds the event-time distance, which is exactly what lets Spark
    * evict join state older than the watermark — without the time bound
    * the state would grow with the stream. Column names must be disjoint
    * apart from `key`.
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame, key: String,
                       leftTs: String, rightTs: String,
                       withinSec: Long, watermark: String = "1 minute")
      : DataFrame = {
    // (import functions._ would shadow the left/right parameters)
    import org.apache.spark.sql.functions.expr
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r,
      l(key) === r(key) &&
      r(rightTs) >= l(leftTs) &&
      r(rightTs) <= l(leftTs) + expr(s"INTERVAL $withinSec SECONDS"))
      .drop(r(key))
  }

  /** File-based streaming source: JSON-lines files appearing under `dir`
    * stream through the same DAG as Kafka messages (`.text` yields the
    * same `value: string` column the Kafka source does after P1).
    * `maxFilesPerTrigger` is the file-source form of T7 rate control.
    */
  def fileTextSource(spark: org.apache.spark.sql.SparkSession, dir: String,
                     maxFilesPerTrigger: Int = 10): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(dir)

  /** T2/T7/T8 — Kafka source options are configuration, not logic
    * (SURVEY §7.4); provided for completeness when a broker exists.
    * Requires the `spark-sql-kafka` connector on the classpath (not
    * bundled in this environment — the MemoryStream/file paths cover CI).
    */
  def kafkaSource(spark: org.apache.spark.sql.SparkSession,
                  bootstrap: String, topic: String): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()
}
