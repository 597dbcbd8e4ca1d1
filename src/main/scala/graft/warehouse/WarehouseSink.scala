package graft.warehouse

import java.util

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, GraftRddFrame, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.util.DateFormatter
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.StreamSinkProvider
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** The effectively-once warehouse sink: the idempotent ingest writes
  * `path/batch_id=N/pickup_date=D/part-*.parquet` through it, from a
  * batch as one DataSource V2 table (`write.format(...)
  * .option("batch_id", N).mode("append").save(path)`) and from a stream
  * as a micro-batch sink (`writeStream.format(...).start(path)`, N = the
  * micro-batch id). Both paths share one writer and one commit.
  *
  * Rows carry a `pickup_date` (DateType) column, which becomes the
  * directory key and leaves the file; every other column is written.
  * File bytes are V1's: the parquet writer factory and the Hadoop job
  * conf come from `ParquetFileFormat.prepareWrite`, and each task's rows
  * are sorted by `pickup_date` first, the local sort V1's planner
  * inserts, so a task holds one open file at a time. Directory names are
  * V1's too: `yyyy-MM-dd`, and `__HIVE_DEFAULT_PARTITION__` for a null
  * date.
  *
  * What it saves over V1 is the per-task job conf. V1 puts the conf
  * (about a thousand entries) in every task's write description, so
  * every task deserializes it; here it is prepared and broadcast once
  * (per batch write, or per streaming query), and the writer factory
  * holds only the broadcast handle, the schema, the staging dir and the
  * output factory.
  *
  * The stream half is a V1 `Sink`, not a V2 streaming write, because of
  * what a micro-batch costs the driver. Each trigger's SQL execution
  * builds its plan description by planning a fresh copy of the
  * micro-batch; a V2 write's nested `collect()` is a second SQL
  * execution and plans a second copy. The sink instead writes the rows
  * of the plan the trigger already built (its `QueryExecution.toRdd`),
  * inside the trigger's own execution: one job of the same writer tasks,
  * after a per-task date sort planned over those rows alone. A V1 sink
  * reports no write metrics: a trigger's
  * `StreamingQueryProgress.sink.numOutputRows` reads -1, and the SQL UI
  * shows no write node for it.
  *
  * Commit protocol, after the staged-move shape of
  * [[graft.sources.AvroSource]]'s writer: tasks write into
  * `path/_staging/<writeId>/pickup_date=D/` (an underscore dir readers
  * do not list) and report the files they wrote. The driver's commit
  * for batch N then, for each date the batch carries, replaces
  * `batch_id=N/pickup_date=D` with the reported files, and deletes the
  * staging dir last. Dates the batch does not carry are left alone, so
  * a replay replaces exactly its own dates; a batch with no rows
  * creates no `batch_id=` dir. Files of failed or duplicate task
  * attempts are never named in a commit message, and go away with the
  * staging dir. All of it runs through the session's Hadoop
  * `FileSystem`, which for `file:` forks no process.
  */
class WarehouseSink extends TableProvider with StreamSinkProvider {
  // Writers hand their own schema to getTable: the sink accepts any.
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new WarehouseTable(WarehouseSink.path(properties.get("path")), schema)

  override def createSink(sqlContext: SQLContext, parameters: Map[String, String],
                          partitionColumns: Seq[String], outputMode: OutputMode): Sink =
    new WarehouseStreamSink(WarehouseSink.path(parameters.getOrElse("path", null)))
}

object WarehouseSink {
  /** The date column that becomes the `pickup_date=D` directory. */
  private[warehouse] val PartitionColumn = "pickup_date"

  /** The batch write's id: N in `batch_id=N`. */
  private[graft] val BatchIdOption = "batch_id"

  private def path(p: String): String = {
    require(p != null, "WarehouseSink requires a path")
    p
  }
}

// No STREAMING_WRITE: a stream falls back to WarehouseSink's V1 sink.
private class WarehouseTable(path: String, tableSchema: StructType)
    extends SupportsWrite {
  override def name(): String = s"warehouse($path)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new WarehouseWrite(path, info.schema(),
        Option(info.options().get(WarehouseSink.BatchIdOption)).map(_.toLong))
    }
}

/** A file staged by one task: its path, and the `pickup_date=D` dir it
  * belongs in.
  */
private case class StagedFile(partDir: String, file: String)

private case class StagedFiles(files: Seq[StagedFile]) extends WriterCommitMessage

/** The job conf, its broadcast and the parquet output factory for rows
  * of `schema` written under `path`, and the commit of one staged write.
  */
private class PreparedWrite(spark: SparkSession, path: String, val schema: StructType) {
  import WarehouseSink.PartitionColumn

  require(schema.fieldNames.contains(PartitionColumn),
    s"WarehouseSink rows need a $PartitionColumn column: ${schema.simpleString}")
  private val job = Job.getInstance(spark.sessionState.newHadoopConf())
  private val fs: FileSystem = new Path(path).getFileSystem(job.getConfiguration)
  private val output = new ParquetFileFormat().prepareWrite(spark, job, Map.empty,
    PreparedWrite.dataSchema(schema))
  private val conf = spark.sparkContext.broadcast(
    new SerializableConfiguration(job.getConfiguration))

  def factory(staging: Path): WarehouseWriterFactory =
    new WarehouseWriterFactory(conf, schema, staging.toString, output)

  /** Batch N's commit: moves the staged files of each date the messages
    * name into `batch_id=N/pickup_date=D`, replacing what was there, then
    * drops the staging dir.
    */
  def commit(batch: Long, staging: Path, messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.toSeq.flatMap {
      case StagedFiles(files) => files
      case _ => Nil
    }
    for ((partDir, files) <- staged.groupBy(_.partDir)) {
      val dest = new Path(path, s"batch_id=$batch/$partDir")
      fs.delete(dest, true)
      require(fs.mkdirs(dest), s"mkdirs failed: $dest")
      files.foreach { f =>
        val src = new Path(f.file)
        val to = new Path(dest, src.getName)
        require(fs.rename(src, to), s"rename failed: $src -> $to")
      }
    }
    abort(staging)
  }

  /** Drops the staging dir; safe to repeat. */
  def abort(staging: Path): Unit = fs.delete(staging, true)

  def destroy(): Unit = conf.destroy()
}

private object PreparedWrite {
  def dataSchema(schema: StructType): StructType =
    StructType(schema.filterNot(_.name == WarehouseSink.PartitionColumn))

  def newStaging(path: String): Path =
    new Path(path, s"_staging/${java.util.UUID.randomUUID()}")
}

/** One batch write: `batchId` is its id. */
private class WarehouseWrite(path: String, schema: StructType, batchId: Option[Long])
    extends Write with RequiresDistributionAndOrdering {
  private val spark = SparkSession.active
  private val staging = PreparedWrite.newStaging(path)

  // No distribution, so no exchange: only V1's per-task date sort.
  override def requiredDistribution(): Distribution = Distributions.unspecified()
  override def requiredOrdering(): Array[SortOrder] = Array(
    Expressions.sort(Expressions.column(WarehouseSink.PartitionColumn),
      SortDirection.ASCENDING))

  // Prepared only when the write runs (planning alone builds a Write),
  // and destroyed by cleanUp.
  private var prepared: PreparedWrite = _

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
      if (prepared == null) prepared = new PreparedWrite(spark, path, schema)
      prepared.factory(staging)
    }
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      prepared.commit(batchId.getOrElse(throw new IllegalArgumentException(
        s"a WarehouseSink batch write needs the ${WarehouseSink.BatchIdOption} option")),
        staging, messages)
      cleanUp()
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit = cleanUp()
  }

  /** Drops the staging dir and the broadcast conf; safe to repeat (an
    * abort can follow a failed commit).
    */
  private def cleanUp(): Unit = if (prepared != null) {
    prepared.abort(staging)
    prepared.destroy()
    prepared = null
  }
}

/** The stream's writer: micro-batch N lands as `batch_id=N`. It runs
  * inside the trigger's own SQL execution, over the rows of the plan the
  * trigger built; the only other plan is the per-task `pickup_date` sort
  * over those rows, whose generated code is the same every trigger. The
  * job conf is prepared and broadcast on the first batch and kept for the
  * query's life; Spark's context cleaner drops the broadcast once the
  * stopped query's sink is collected.
  */
private class WarehouseStreamSink(path: String) extends Sink {
  private var prepared: PreparedWrite = _

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val spark = data.sparkSession
    if (prepared == null || prepared.schema != data.schema) {
      if (prepared != null) prepared.destroy()
      prepared = new PreparedWrite(spark, path, data.schema)
    }
    val sorted = GraftRddFrame.fromRowRdd(spark, GraftRddFrame.rows(data), data.schema)
      .sortWithinPartitions(WarehouseSink.PartitionColumn)
    val staging = PreparedWrite.newStaging(path)
    val factory = prepared.factory(staging)
    // A failed job or a failed commit (mkdirs, rename) drops the staging dir.
    try {
      val messages =
        spark.sparkContext.runJob(GraftRddFrame.rows(sorted), WarehouseDataWriter.run(factory) _)
      prepared.commit(batchId, staging, messages)
    } catch { case e: Throwable => prepared.abort(staging); throw e }
  }

  override def toString: String = s"WarehouseSink[$path]"
}

/** What every write task receives. It holds no `Configuration`: the job
  * conf is a broadcast, read from the executor's block manager.
  */
private class WarehouseWriterFactory(conf: Broadcast[SerializableConfiguration],
                                     schema: StructType, staging: String,
                                     output: OutputWriterFactory)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new WarehouseDataWriter(conf.value.value, schema, new Path(staging), output,
      partitionId, taskId)
}

/** Writes one task's rows, sorted by `pickup_date`, one staged file per
  * date; the commit message names them.
  */
private class WarehouseDataWriter(conf: Configuration, schema: StructType,
                                  staging: Path, output: OutputWriterFactory,
                                  partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {
  private val dateOrdinal = schema.fieldIndex(WarehouseSink.PartitionColumn)
  private val dataSchema = PreparedWrite.dataSchema(schema)
  private val data = ProjectingInternalRow(dataSchema,
    schema.indices.filter(_ != dateOrdinal))
  // A task-local copy of the shared conf (the context copies it).
  private val context = new TaskAttemptContextImpl(conf, new TaskAttemptID(
    staging.getName, 0, TaskType.MAP, partitionId,
    Option(TaskContext.get()).fold(0)(_.attemptNumber())))
  private val suffix = s"-$taskId-${staging.getName}${output.getFileExtension(context)}"
  private val dates = DateFormatter()
  private val staged = ArrayBuffer.empty[StagedFile]
  private var writer: OutputWriter = _
  private var date = 0L // of the open file; NullDate for a null date

  override def write(row: InternalRow): Unit = {
    val d = if (row.isNullAt(dateOrdinal)) WarehouseDataWriter.NullDate
      else row.getInt(dateOrdinal).toLong
    if (writer == null || d != date) open(d)
    data.project(row)
    writer.write(data)
  }

  private def open(d: Long): Unit = {
    closeFile()
    date = d
    val partDir = ExternalCatalogUtils.getPartitionPathString(
      WarehouseSink.PartitionColumn,
      if (d == WarehouseDataWriter.NullDate) null else dates.format(d.toInt))
    val file = new Path(staging, f"$partDir/part-$partitionId%05d$suffix").toString
    writer = output.newInstance(file, dataSchema, context)
    staged += StagedFile(partDir, file)
  }

  private def closeFile(): Unit = if (writer != null) {
    val w = writer
    writer = null
    w.close()
  }

  override def commit(): WriterCommitMessage = {
    closeFile()
    StagedFiles(staged.toSeq)
  }

  override def abort(): Unit = {
    try closeFile() catch { case _: Exception => () }
    val fs = staging.getFileSystem(context.getConfiguration)
    staged.foreach(f => fs.delete(new Path(f.file), false))
  }

  override def close(): Unit = closeFile()
}

private object WarehouseDataWriter {
  /** Below every day number an `Int` date can hold. */
  val NullDate: Long = Long.MinValue

  /** One stream write task: the body of Spark's V2 write task for the
    * batch write. It needs no commit coordinator: the driver commits only
    * the files of the one attempt whose result it receives.
    */
  def run(factory: WarehouseWriterFactory)(context: TaskContext,
                                           rows: Iterator[InternalRow]): WriterCommitMessage = {
    val writer = factory.createWriter(context.partitionId(), context.taskAttemptId())
    try {
      rows.foreach(writer.write)
      writer.commit()
    } catch {
      case t: Throwable => writer.abort(); throw t
    } finally writer.close()
  }
}
