package graft.warehouse

import java.util

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.util.DateFormatter
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** The effectively-once warehouse sink, as one DataSource V2 table: the
  * idempotent ingest writes `path/batch_id=N/pickup_date=D/part-*.parquet`
  * through it, from a stream (`writeStream.format(...).start(path)`, N =
  * the micro-batch id) or from a batch (`write.format(...)
  * .option("batch_id", N).mode("append").save(path)`). The stream writes
  * inside its own micro-batch plan, and both paths share one writer and
  * one commit.
  *
  * Rows carry a `pickup_date` (DateType) column, which becomes the
  * directory key and leaves the file; every other column is written.
  * File bytes are V1's: the parquet writer factory and the Hadoop job
  * conf come from `ParquetFileFormat.prepareWrite`, and the write asks
  * for the same local `pickup_date` sort V1's planner inserts, so a task
  * holds one open file at a time. Directory names are V1's too:
  * `yyyy-MM-dd`, and `__HIVE_DEFAULT_PARTITION__` for a null date.
  *
  * What it saves over V1 is the per-task job conf. V1 puts the conf
  * (about a thousand entries) in every task's write description, so
  * every task deserializes it; here it is prepared once per write and
  * broadcast, and the writer factory holds only the broadcast handle,
  * the schema, the staging dir and the output factory.
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
class WarehouseSink extends TableProvider {
  // Writers hand their own schema to getTable: the sink accepts any.
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null, "WarehouseSink requires a path")
    new WarehouseTable(path, schema)
  }
}

object WarehouseSink {
  /** The date column that becomes the `pickup_date=D` directory. */
  private[warehouse] val PartitionColumn = "pickup_date"

  /** The batch write's id: N in `batch_id=N`. */
  private[graft] val BatchIdOption = "batch_id"
}

private class WarehouseTable(path: String, tableSchema: StructType)
    extends SupportsWrite {
  override def name(): String = s"warehouse($path)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
    TableCapability.ACCEPT_ANY_SCHEMA)
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

/** One write: a batch write's, or one micro-batch's (Spark builds a
  * `Write` per micro-batch). `batchId` is the batch write's id; a
  * stream's comes from the epoch.
  */
private class WarehouseWrite(path: String, schema: StructType, batchId: Option[Long])
    extends Write with RequiresDistributionAndOrdering {
  import WarehouseSink.PartitionColumn

  require(schema.fieldNames.contains(PartitionColumn),
    s"WarehouseSink rows need a $PartitionColumn column: ${schema.simpleString}")
  private val spark = SparkSession.active
  private val staging = new Path(path, s"_staging/${java.util.UUID.randomUUID()}")

  // No distribution, so no exchange: only V1's per-task date sort.
  override def requiredDistribution(): Distribution = Distributions.unspecified()
  override def requiredOrdering(): Array[SortOrder] = Array(
    Expressions.sort(Expressions.column(PartitionColumn), SortDirection.ASCENDING))

  // The job conf and the parquet output factory, prepared once and only
  // when the write runs; `conf` is the factory's broadcast until cleanUp.
  private lazy val job = Job.getInstance(spark.sessionState.newHadoopConf())
  private lazy val fs = staging.getFileSystem(job.getConfiguration)
  private var conf: Broadcast[SerializableConfiguration] = _
  private lazy val factory: WarehouseWriterFactory = {
    val output = new ParquetFileFormat().prepareWrite(spark, job, Map.empty,
      WarehouseWrite.dataSchema(schema))
    conf = spark.sparkContext.broadcast(new SerializableConfiguration(job.getConfiguration))
    new WarehouseWriterFactory(conf, schema, staging.toString, output)
  }

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      factory
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      WarehouseWrite.this.commit(batchId.getOrElse(throw new IllegalArgumentException(
        s"a WarehouseSink batch write needs the ${WarehouseSink.BatchIdOption} option")),
        messages)
    override def abort(messages: Array[WriterCommitMessage]): Unit = cleanUp()
  }

  override def toStreaming: StreamingWrite = new StreamingWrite {
    override def createStreamingWriterFactory(info: PhysicalWriteInfo)
        : StreamingDataWriterFactory = factory
    override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
      WarehouseWrite.this.commit(epochId, messages)
    override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
      cleanUp()
  }

  private def commit(batch: Long, messages: Array[WriterCommitMessage]): Unit = {
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
    cleanUp()
  }

  /** Drops the staging dir and the broadcast conf; safe to repeat (an
    * abort can follow a failed commit).
    */
  private def cleanUp(): Unit = {
    fs.delete(staging, true)
    if (conf != null) { conf.destroy(); conf = null }
  }
}

private object WarehouseWrite {
  def dataSchema(schema: StructType): StructType =
    StructType(schema.filterNot(_.name == WarehouseSink.PartitionColumn))
}

/** What every write task receives. It holds no `Configuration`: the job
  * conf is a broadcast, read from the executor's block manager.
  */
private class WarehouseWriterFactory(conf: Broadcast[SerializableConfiguration],
                                     schema: StructType, staging: String,
                                     output: OutputWriterFactory)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new WarehouseDataWriter(conf.value.value, schema, new Path(staging), output,
      partitionId, taskId)
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] = createWriter(partitionId, taskId)
}

/** Writes one task's rows, sorted by `pickup_date`, one staged file per
  * date; the commit message names them.
  */
private class WarehouseDataWriter(conf: Configuration, schema: StructType,
                                  staging: Path, output: OutputWriterFactory,
                                  partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {
  private val dateOrdinal = schema.fieldIndex(WarehouseSink.PartitionColumn)
  private val dataSchema = WarehouseWrite.dataSchema(schema)
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
}
