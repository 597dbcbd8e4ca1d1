package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Command-line options of one benchmark process (see run.py). */
final case class Opts(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, data: String, work: String, out: String) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
}

object Common {

  /** The session every workload uses: `Bench`'s settings, one process at
    * `local[cores]`, shuffle partitions = cores, and every path the engine
    * writes to (scratch, shuffle, warehouse, indexes) inside this run's
    * work directory, so no run reads state another run left behind.
    */
  def session(o: Opts, cores: Int): SparkSession = {
    sys.props("graft.verify.exact") = "false"
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
      .config("spark.graft.indexRoot", s"${o.work}/indexes")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def nowMs(): Double = System.nanoTime() / 1e6

  /** Milliseconds from JVM start to now: the process's set-up clock. */
  def sinceJvmStartMs(): Double =
    System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  def timed[A](body: => A): (A, Double) = {
    val t0 = nowMs()
    val a = body
    (a, nowMs() - t0)
  }

  /** Host steal seconds so far (the `/proc/stat` field `Bench` reads). */
  def stealSec(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+")).filter(_.length > 8)
        .map(_(8).toDouble / 100.0).getOrElse(-1.0)
      finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Peak resident set of this process in MB (`VmHWM`). */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
      finally src.close()
    } catch { case _: Throwable => -1.0 }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def dirBytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new File(path))
  }

  // ---- JSON output -------------------------------------------------------

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def writeJson(path: String, v: Any): Unit =
    Files.write(Paths.get(path), json(v).getBytes(StandardCharsets.UTF_8))
}

/** Order-insensitive content fingerprint of a DataFrame, computed in one
  * aggregation job over every output column, so Catalyst cannot prune a
  * derived column the way it can under `count()`.
  *
  * Non-floating values are hashed exactly (`xxhash64`, summed as a
  * DECIMAL so the sum neither overflows nor depends on row order).
  * Floating values are summed three ways — plain, absolute, and weighted
  * by a per-row hash of the exact part, which ties each value to its row —
  * and compared with a relative tolerance, because a parallel sum's
  * last bits depend on the order partitions arrive in.
  */
object Fingerprint {

  final case class FP(rows: Long, hash: String, floats: Seq[Double]) {
    def toMap: Map[String, Any] =
      Map("rows" -> rows, "hash" -> hash, "floats" -> floats)
  }

  private def finite(d: Column): Column =
    when(!isnan(d) && abs(d) =!= lit(Double.PositiveInfinity), d)

  /** (exact parts, floating parts) of one column. */
  private def parts(c: Column, dt: DataType): (Seq[Column], Seq[Column]) = dt match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      (Seq(c.isNull, isnan(d), d === lit(Double.PositiveInfinity),
        d === lit(Double.NegativeInfinity)), Seq(finite(d)))
    case ArrayType(DoubleType | FloatType, _) =>
      val terms = transform(c, (x, i) =>
        coalesce(finite(x.cast(DoubleType)), lit(0.0)) * (i + 1))
      (Seq(c.isNull, size(c)),
        Seq(aggregate(terms, lit(0.0), (acc, x) => acc + x)))
    case st: StructType =>
      val sub = st.fields.toSeq.map(f => parts(c.getField(f.name), f.dataType))
      (c.isNull +: sub.flatMap(_._1), sub.flatMap(_._2))
    case _: MapType =>
      // Hash functions reject maps; render them with entries in key order.
      (Seq(c.isNull, to_json(array_sort(map_entries(c)))), Nil)
    case other if hasFloat(other) =>
      // Nested arrays or structs in arrays holding doubles: no query
      // output has one today; fall back to an exact rendering.
      (Seq(c.isNull, to_json(c)), Nil)
    case _ => (Seq(c, c.isNull), Nil)
  }

  private def hasFloat(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true
    case ArrayType(e, _) => hasFloat(e)
    case MapType(k, v, _) => hasFloat(k) || hasFloat(v)
    case StructType(fs) => fs.exists(f => hasFloat(f.dataType))
    case _ => false
  }

  /** The one-job aggregation; collect it to compute the fingerprint. */
  def frame(df: DataFrame): DataFrame = {
    // Positional names: query outputs may repeat a column name.
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val ps = named.schema.fields.toSeq.map(f => parts(named.col(f.name), f.dataType))
    val exact = ps.flatMap(_._1)
    val floats = ps.flatMap(_._2)
    val h = xxhash64(exact: _*)
    val w = (pmod(h, lit(1024L)) + 1).cast(DoubleType) / 1024.0
    val aggs = Seq(count(lit(1)).as("n"), sum(h.cast(DecimalType(38, 0))).as("h")) ++
      floats.zipWithIndex.flatMap { case (f, i) =>
        Seq(sum(f).as(s"s$i"), sum(abs(f)).as(s"a$i"), sum(f * w).as(s"w$i"))
      }
    named.agg(aggs.head, aggs.tail: _*)
  }

  def read(row: Row): FP = {
    val floats = (2 until row.length).map(i =>
      if (row.isNullAt(i)) 0.0 else row.getDouble(i))
    FP(row.getLong(0), Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0"),
      floats)
  }

  def of(df: DataFrame): FP = read(frame(df).collect().head)
}
