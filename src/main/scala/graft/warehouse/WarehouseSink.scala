package graft.warehouse

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
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.StreamSinkProvider
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** The effectively-once warehouse sink: the idempotent ingest writes
  * `path/batch_id=N/pickup_date=D/part-*.parquet` through one function,
  * [[WarehouseSink.write]]. A batch reaches it through
  * [[Warehouse.appendTripsIdempotent]] (N given by the caller), a stream
  * through this class's micro-batch sink
  * (`writeStream.format(...).start(path)`, N = the micro-batch id).
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
  * (per batch append, or per streaming query), and the writer factory
  * holds only the broadcast handle, the schema, the staging dir and the
  * output factory. The write runs one job over the rows of the frame's
  * own plan (its `QueryExecution.toRdd`), after a per-task date sort
  * planned over those rows alone.
  *
  * The stream half is a V1 `Sink`, not a V2 streaming write, because of
  * what a micro-batch costs the driver. Each trigger's SQL execution
  * builds its plan description by planning a fresh copy of the
  * micro-batch; a V2 write's nested `collect()` is a second SQL
  * execution and plans a second copy. The sink instead writes inside the
  * trigger's own execution. A V1 sink reports no write metrics: a
  * trigger's `StreamingQueryProgress.sink.numOutputRows` reads -1, and
  * the SQL UI shows no write node for it.
  *
  * Commit protocol: stage, then move. Tasks write into
  * `path/_staging/<writeId>/pickup_date=D/` (an underscore dir readers
  * do not list) and report the files they wrote. The driver's commit
  * for batch N then, for each date the batch carries, replaces
  * `batch_id=N/pickup_date=D` with the reported files, and deletes the
  * staging dir last. Dates the batch does not carry are left alone, so
  * a replay replaces exactly its own dates; a batch with no rows
  * creates no `batch_id=` dir. Files of failed or duplicate task
  * attempts are never named in a commit result, and go away with the
  * staging dir. All of it runs through the session's Hadoop
  * `FileSystem`, which for `file:` forks no process.
  */
class WarehouseSink extends StreamSinkProvider {
  override def createSink(sqlContext: SQLContext, parameters: Map[String, String],
                          partitionColumns: Seq[String], outputMode: OutputMode): Sink = {
    val path = parameters.getOrElse("path", null)
    require(path != null, "WarehouseSink requires a path")
    new WarehouseStreamSink(path)
  }
}

object WarehouseSink {
  /** The date column that becomes the `pickup_date=D` directory. */
  private[warehouse] val PartitionColumn = "pickup_date"

  /** Writes `data` as batch `batchId` under `path`: one job of writer
    * tasks over the frame's rows, each task's rows sorted by
    * `pickup_date`, then `prepared`'s commit. A failed job or a failed
    * commit (mkdirs, rename) drops the staging dir.
    */
  private[warehouse] def write(prepared: PreparedWrite, path: String, batchId: Long,
                               data: DataFrame): Unit = {
    val spark = data.sparkSession
    val sorted = GraftRddFrame.fromRowRdd(spark, GraftRddFrame.rows(data), data.schema)
      .sortWithinPartitions(PartitionColumn)
    val staging = PreparedWrite.newStaging(path)
    val factory = prepared.factory(staging)
    try {
      val staged =
        spark.sparkContext.runJob(GraftRddFrame.rows(sorted), WarehouseDataWriter.run(factory) _)
      prepared.commit(batchId, staging, staged)
    } catch { case e: Throwable => prepared.abort(staging); throw e }
  }
}

/** A file staged by one task: its path, and the `pickup_date=D` dir it
  * belongs in.
  */
private case class StagedFile(partDir: String, file: String)

private case class StagedFiles(files: Seq[StagedFile])

/** The job conf, its broadcast and the parquet output factory for rows
  * of `schema` written under `path`, and the commit of one staged write.
  */
private[graft] class PreparedWrite(spark: SparkSession, path: String, val schema: StructType) {
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

  /** Batch N's commit: moves the staged files of each date the tasks
    * report into `batch_id=N/pickup_date=D`, replacing what was there,
    * then drops the staging dir.
    */
  private[warehouse] def commit(batch: Long, staging: Path,
                                staged: Array[StagedFiles]): Unit = {
    for ((partDir, files) <- staged.toSeq.flatMap(_.files).groupBy(_.partDir)) {
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
    if (prepared == null || prepared.schema != data.schema) {
      if (prepared != null) prepared.destroy()
      prepared = new PreparedWrite(data.sparkSession, path, data.schema)
    }
    WarehouseSink.write(prepared, path, batchId, data)
  }

  override def toString: String = s"WarehouseSink[$path]"
}

/** What every write task receives. It holds no `Configuration`: the job
  * conf is a broadcast, read from the executor's block manager.
  */
private[graft] class WarehouseWriterFactory(conf: Broadcast[SerializableConfiguration],
                                            schema: StructType, staging: String,
                                            output: OutputWriterFactory)
    extends Serializable {
  private[warehouse] def createWriter(partitionId: Int,
                                      taskId: Long): WarehouseDataWriter =
    new WarehouseDataWriter(conf.value.value, schema, new Path(staging), output,
      partitionId, taskId)
}

/** Writes one task's rows, sorted by `pickup_date`, one staged file per
  * date; its commit returns their names.
  */
private class WarehouseDataWriter(conf: Configuration, schema: StructType,
                                  staging: Path, output: OutputWriterFactory,
                                  partitionId: Int, taskId: Long) {
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

  def write(row: InternalRow): Unit = {
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

  def commit(): StagedFiles = {
    closeFile()
    StagedFiles(staged.toSeq)
  }

  def abort(): Unit = {
    try closeFile() catch { case _: Exception => () }
    val fs = staging.getFileSystem(context.getConfiguration)
    staged.foreach(f => fs.delete(new Path(f.file), false))
  }

  def close(): Unit = closeFile()
}

private object WarehouseDataWriter {
  /** Below every day number an `Int` date can hold. */
  val NullDate: Long = Long.MinValue

  /** One write task of [[WarehouseSink.write]]'s job. It needs no
    * commit coordinator: the driver commits only the files of the one
    * attempt whose result it receives.
    */
  def run(factory: WarehouseWriterFactory)(context: TaskContext,
                                           rows: Iterator[InternalRow]): StagedFiles = {
    val writer = factory.createWriter(context.partitionId(), context.taskAttemptId())
    try {
      rows.foreach(writer.write)
      writer.commit()
    } catch {
      case t: Throwable => writer.abort(); throw t
    } finally writer.close()
  }
}
