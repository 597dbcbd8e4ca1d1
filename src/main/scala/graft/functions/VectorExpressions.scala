package graft.functions

import org.apache.spark.sql.{Column, GraftColumn, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.sqrt
import org.apache.spark.sql.types._

/** Dot product of two `array<float>` columns, accumulated in double,
  * left-to-right (the fold order every other implementation in this
  * engine — and the DuckDB oracle — uses, so results are bit-identical).
  *
  * This is the hot inner loop of every similarity operator. The built-in
  * route (`zip_with` + `aggregate`) allocates an intermediate array per
  * row and is interpreted (higher-order functions have no codegen); this
  * expression generates a tight primitive loop inside whole-stage codegen
  * — no allocation, no virtual calls. Mismatched lengths dot the common
  * prefix.
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Argmax-dot coarse-quantizer assignment: the index of the centroid with
  * the highest dot product against an `array<float>` embedding (first
  * index wins ties — the `array_position(scores, array_max(scores))`
  * semantics), as ONE small expression node.
  *
  * The composed form — `array(vec_dot × nlist)` + `array_max` +
  * `array_position` — is a giant expression tree that Catalyst happily
  * INLINES into every consumer when the projection collapses into a
  * filter or join condition, evaluating all nlist dots multiple times
  * per row (measured: 6 s → 386 s on a 1M × 64-dim corpus the moment a
  * filter referenced the projected cell). A single opaque node cannot be
  * exploded that way, stays inside whole-stage codegen, and runs the
  * centroid loop over a plain float matrix. Dot fold order matches
  * [[FloatVecDot]] exactly (left-to-right, per-term toDouble), so cell
  * assignments are bit-identical to the composed form.
  */
case class IvfCellAssign(child: Expression, centroids: Seq[Seq[Float]])
    extends UnaryExpression {
  require(centroids.nonEmpty, "centroids must be non-empty")

  @transient private lazy val cents: Array[Array[Float]] =
    centroids.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${other.simpleString}")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "ivf_cell"

  override def nullSafeEval(input: Any): Any =
    IvfCellAssign.assign(input.asInstanceOf[ArrayData], cents)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", cents, "float[][]")
    defineCodeGen(ctx, ev,
      v => s"graft.functions.IvfCellAssign.assign($v, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Sign-bit LSH bucket of an `array<float>` embedding against a
  * hyperplane set, as one opaque codegen node — same rationale as
  * [[IvfCellAssign]]: the composed form (`numPlanes` shifted
  * `vec_dot`-sign terms OR-reduced) is a large expression tree that
  * projection collapse inlines into every join condition referencing the
  * bucket column. Bit `i` is set iff `dot(embedding, planes(i)) >= 0`,
  * with [[FloatVecDot]]'s exact fold order.
  */
case class LshBucketAssign(child: Expression, planes: Seq[Seq[Float]])
    extends UnaryExpression {
  require(planes.nonEmpty && planes.length <= 63,
    s"plane count must be in [1, 63], got ${planes.length}")

  @transient private lazy val ps: Array[Array[Float]] =
    planes.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "lsh_bucket"

  override def nullSafeEval(input: Any): Any =
    LshBucketAssign.assign(input.asInstanceOf[ArrayData], ps)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", ps, "float[][]")
    defineCodeGen(ctx, ev,
      v => s"graft.functions.LshBucketAssign.assign($v, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshBucketAssign {
  /** Static kernel shared by eval and generated code. */
  def assign(v: ArrayData, ps: Array[Array[Float]]): Long = {
    var bucket = 0L
    var j = 0
    while (j < ps.length) {
      val p = ps(j)
      val n = math.min(p.length, v.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        s += v.getFloat(i).toDouble * p(i).toDouble
        i += 1
      }
      if (s >= 0) bucket |= (1L << j)
      j += 1
    }
    bucket
  }
}

/** Top-`m` coarse-quantizer assignment: the indices of the `m`
  * best-scoring centroids (best first; ties keep the lower index, so
  * element 0 is exactly [[IvfCellAssign]]'s answer), as one opaque
  * codegen node — same projection-collapse rationale as
  * [[IvfCellAssign]]. This is the multi-assignment seam for
  * SemDeDup-style dedup: a vector sitting on a cell boundary lands in
  * BOTH adjacent cells, so a near-dup pair straddling the boundary is
  * still compared (single assignment's documented recall gap).
  */
case class IvfTopCellsAssign(child: Expression, centroids: Seq[Seq[Float]],
                             top: Int)
    extends UnaryExpression {
  require(centroids.nonEmpty, "centroids must be non-empty")
  require(top >= 1 && top <= centroids.length,
    s"top must be in [1, ${centroids.length}], got $top")

  @transient private lazy val cents: Array[Array[Float]] =
    centroids.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "ivf_top_cells"

  override def nullSafeEval(input: Any): Any =
    IvfTopCellsAssign.assign(input.asInstanceOf[ArrayData], cents, top)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", cents, "float[][]")
    defineCodeGen(ctx, ev,
      v => s"graft.functions.IvfTopCellsAssign.assign($v, $ref, $top)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object IvfTopCellsAssign {
  /** Static kernel shared by eval and generated code: score every
    * centroid once (the [[FloatVecDot]] fold order), then selection-pick
    * the top `m` — m and nlist are both small, so the m×nlist selection
    * beats building a heap.
    */
  def assign(v: ArrayData, cents: Array[Array[Float]],
             top: Int): ArrayData = {
    val k = cents.length
    val scores = new Array[Double](k)
    var j = 0
    while (j < k) {
      val c = cents(j)
      val n = math.min(c.length, v.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        s += v.getFloat(i).toDouble * c(i).toDouble
        i += 1
      }
      scores(j) = s
      j += 1
    }
    val taken = new Array[Boolean](k)
    val out = new Array[Int](top)
    var t = 0
    while (t < top) {
      var best = Double.NegativeInfinity
      var bi = -1
      var m = 0
      while (m < k) {
        if (!taken(m) && scores(m) > best) { best = scores(m); bi = m }
        m += 1
      }
      if (bi < 0) {
        // All remaining scores are NaN (e.g. a NaN element poisons every
        // dot product): `>` never fires and bi stays -1. Take the first
        // untaken index so element 0 still equals IvfCellAssign's pick
        // (which degrades to cell 0 on the same input) instead of
        // throwing ArrayIndexOutOfBounds inside codegen.
        var m2 = 0
        while (bi < 0 && m2 < k) { if (!taken(m2)) bi = m2; m2 += 1 }
      }
      taken(bi) = true
      out(t) = bi
      t += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}

object IvfCellAssign {
  /** Static kernel shared by eval and generated code. */
  def assign(v: ArrayData, cents: Array[Array[Float]]): Int = {
    var best = Double.NegativeInfinity
    var bi = 0
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      val n = math.min(c.length, v.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        s += v.getFloat(i).toDouble * c(i).toDouble
        i += 1
      }
      if (s > best) { best = s; bi = j } // strict > keeps the FIRST max
      j += 1
    }
    bi
  }
}

/** Column-level API + SQL registration for the vector expressions. */
object VectorFunctions {

  /** Codegen'd dot product (see [[FloatVecDot]]). */
  def vec_dot(a: Column, b: Column): Column =
    GraftColumn(FloatVecDot(GraftColumn.expr(a), GraftColumn.expr(b)))

  /** L2 norm via the same codegen'd kernel. */
  def vec_norm(a: Column): Column = sqrt(vec_dot(a, a))

  /** Injection entry for SQL users:
    * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
    * makes `vec_dot(a, b)` callable from Spark SQL text.
    */
  val dotInjection: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("vec_dot"),
    new ExpressionInfo(classOf[FloatVecDot].getName, "vec_dot"),
    (exprs: Seq[Expression]) => {
      // A clean arity error beats IndexOutOfBounds out of the analyzer.
      require(exprs.length == 2,
        s"vec_dot requires exactly 2 arguments, got ${exprs.length}")
      FloatVecDot(exprs.head, exprs(1))
    })
}

/** `SparkSessionExtensions` hook registering the engine's custom SQL
  * functions and optimizer rules. Activate with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`.
  *
  * It also binds the `file:` scheme, on the running context's Hadoop
  * configuration, to [[graft.io.NioLocalFileSystem]] and
  * [[graft.io.NioLocalFs]]: Hadoop's local filesystem without a `chmod`
  * or `readlink` fork per created or renamed file. Every later session
  * and job configuration copies the binding. The classes are named as
  * strings, so building a session loads none of them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    org.apache.spark.graftbridge.ActiveContext.get.foreach { sc =>
      sc.hadoopConfiguration.set("fs.file.impl", "graft.io.NioLocalFileSystem")
      sc.hadoopConfiguration.set("fs.AbstractFileSystem.file.impl", "graft.io.NioLocalFs")
    }
    ext.injectFunction(VectorFunctions.dotInjection)
    ext.injectFunction((
      FunctionIdentifier("set_overlap"),
      new ExpressionInfo(classOf[LongSetOverlap].getName, "set_overlap"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"set_overlap requires exactly 2 arguments, got ${exprs.length}")
        LongSetOverlap(exprs.head, exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("agree_count"),
      new ExpressionInfo(classOf[LongAgreeCount].getName, "agree_count"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"agree_count requires exactly 2 arguments, got ${exprs.length}")
        LongAgreeCount(exprs.head, exprs(1))
      }))
    ext.injectOptimizerRule(_ => graft.plans.PushNanosTimestampPredicates)
  }
}
