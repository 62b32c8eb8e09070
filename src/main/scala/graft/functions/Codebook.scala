package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** `codebook_dot(x, M)`: element i is the sequential left-to-right
  * Σ_j x[j]·M[i][j] — per row exactly [[MixedDotProduct]] (elements read
  * at their declared FLOAT/DOUBLE width, NULL pairs skipped, length
  * min(|x|, |M[i]|); a NULL row has no pairs, so gives 0.0). M must be
  * foldable (one `typedLit` matrix, not a tree of `lit`s); it is widened
  * to a primitive matrix once, not per row. NULL when x is NULL. */
case class CodebookDot(x: Expression, matrix: Expression) extends BinaryExpression {
  override def left: Expression = x
  override def right: Expression = matrix
  override def prettyName: String = "codebook_dot"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = Codebook.check(this, x, matrix, None)

  @transient private lazy val book = CodebookEval.matrix(matrix)
  override protected def nullSafeEval(xv: Any, m: Any): Any =
    CodebookEval.dot(xv.asInstanceOf[ArrayData], Codebook.isDouble(x.dataType), book)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("codebook", book)
    defineCodeGen(ctx, ev, (a, _) =>
      s"graft.functions.CodebookEval.dot($a, ${Codebook.isDouble(x.dataType)}, $cb)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CodebookDot =
    copy(x = l, matrix = r)
}

/** `codebook_nearest(x, xNorm2, M, mNorm2, k)`: the ids of the k rows of M
  * nearest x in ascending (d, id) order, d_i = (xNorm2 + mNorm2[i]) −
  * 2.0·dot_i with dot_i [[CodebookDot]]'s element i. Doubles compare as
  * Spark's struct ordering does (−0.0 = 0.0, NaN last), so this is the
  * first k of `array_sort(array(struct(d_i, i), …))`; k ≥ rows gives every
  * id. M and mNorm2 (one non-NULL entry per row) must be foldable. */
case class CodebookNearest(x: Expression, xNorm2: Expression, matrix: Expression,
    mNorm2: Expression, k: Int) extends QuaternaryExpression {
  override def first: Expression = x
  override def second: Expression = xNorm2
  override def third: Expression = matrix
  override def fourth: Expression = mNorm2
  override def prettyName: String = "codebook_nearest"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = Codebook.check(this, x, matrix, {
    lazy val n = mNorm2.eval().asInstanceOf[ArrayData]
    if (xNorm2.dataType != DoubleType) Some(s"requires a DOUBLE xNorm2, got ${xNorm2.dataType.sql}")
    else if (k < 1) Some(s"requires k >= 1, got $k")
    else if (!Codebook.isDouble(mNorm2.dataType) || !mNorm2.foldable || n == null ||
        n.numElements() != book.rows.length || (0 until n.numElements()).exists(n.isNullAt))
      Some("requires a foldable ARRAY<DOUBLE> mNorm2 with one non-NULL entry per row")
    else None
  })

  @transient private lazy val book = CodebookEval.matrix(matrix)
  @transient private lazy val norms = mNorm2.eval().asInstanceOf[ArrayData].toDoubleArray()
  override protected def nullSafeEval(xv: Any, n2: Any, m: Any, mn: Any): Any =
    CodebookEval.nearest(xv.asInstanceOf[ArrayData], Codebook.isDouble(x.dataType),
      n2.asInstanceOf[Double], book, norms, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("codebook", book)
    val nm = ctx.addReferenceObj("norms", norms, "double[]")
    defineCodeGen(ctx, ev, (a, n2, _, _) => "graft.functions.CodebookEval.nearest(" +
      s"$a, ${Codebook.isDouble(x.dataType)}, $n2, $cb, $nm, $k)")
  }
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression): CodebookNearest =
    copy(x = a, xNorm2 = b, matrix = c, mNorm2 = d)
}

/** A codebook widened to doubles (FLOAT widens exactly); `nulls(i)` marks
  * row i's NULL elements (a NULL row is empty). */
final class CodebookMatrix(val rows: Array[Array[Double]],
    val nulls: Array[Array[Boolean]]) extends Serializable

/** Static home of the per-row kernels: a top-level object with no companion
  * class, so generated code calls `CodebookEval.dot` / `.nearest` directly
  * (the [[DecimalDotEval]] pattern). */
object CodebookEval {

  private def widen(a: ArrayData, isDouble: Boolean): (Array[Double], Array[Boolean]) = {
    val nulls = Array.tabulate(a.numElements())(a.isNullAt)
    (Array.tabulate(nulls.length)(j => if (nulls(j)) 0.0
      else if (isDouble) a.getDouble(j) else a.getFloat(j).toDouble), nulls)
  }

  def matrix(m: Expression): CodebookMatrix = {
    val rowType = m.dataType.asInstanceOf[ArrayType].elementType
    val rows = m.eval().asInstanceOf[ArrayData]
    val w = (0 until rows.numElements()).map(i =>
      if (rows.isNullAt(i)) (Array.emptyDoubleArray, Array.emptyBooleanArray)
      else widen(rows.getArray(i), Codebook.isDouble(rowType)))
    new CodebookMatrix(w.map(_._1).toArray, w.map(_._2).toArray)
  }

  private def rowDot(x: Array[Double], xn: Array[Boolean], r: Array[Double],
      rn: Array[Boolean]): Double = {
    val n = math.min(x.length, r.length)
    var acc = 0.0
    var j = 0
    while (j < n) {
      if (!xn(j) && !rn(j)) acc += x(j) * r(j)
      j += 1
    }
    acc
  }

  def dot(x: ArrayData, xDouble: Boolean, m: CodebookMatrix): ArrayData = {
    val (xv, xn) = widen(x, xDouble)
    UnsafeArrayData.fromPrimitiveArray(
      Array.tabulate(m.rows.length)(i => rowDot(xv, xn, m.rows(i), m.nulls(i))))
  }

  /** Bounded insertion in id order: an equal d never passes an earlier
    * (smaller) id, which is the (d, id) tie-break. */
  def nearest(x: ArrayData, xDouble: Boolean, xNorm2: Double, m: CodebookMatrix,
      mNorm2: Array[Double], k: Int): ArrayData = {
    val (xv, xn) = widen(x, xDouble)
    val kk = math.min(k, m.rows.length)
    val bd = new Array[Double](kk)
    val bi = new Array[Int](kk)
    var cnt = 0
    var i = 0
    while (i < m.rows.length) {
      val d = (xNorm2 + mNorm2(i)) - 2.0 * rowDot(xv, xn, m.rows(i), m.nulls(i))
      if (cnt < kk || SQLOrderingUtil.compareDoubles(d, bd(kk - 1)) < 0) {
        var p = if (cnt < kk) { cnt += 1; cnt - 1 } else kk - 1
        while (p > 0 && SQLOrderingUtil.compareDoubles(d, bd(p - 1)) < 0) {
          bd(p) = bd(p - 1); bi(p) = bi(p - 1); p -= 1
        }
        bd(p) = d; bi(p) = i
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(bi)
  }
}

object Codebook {

  private[functions] def isDouble(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  private def isVector(t: DataType) = t match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  /** x is a FLOAT/DOUBLE vector and M a foldable, non-NULL matrix of them;
    * then the expression's own requirement, if any is unmet. */
  private[functions] def check(e: Expression, x: Expression, m: Expression,
      more: => Option[String]): TypeCheckResult =
    (if (!isVector(x.dataType)) Some(s"requires ARRAY<FLOAT|DOUBLE> x, got ${x.dataType.sql}")
     else if (!(m.dataType match { case ArrayType(r, _) => isVector(r); case _ => false }))
       Some(s"requires an ARRAY<ARRAY<FLOAT|DOUBLE>> matrix, got ${m.dataType.sql}")
     else if (!m.foldable || m.eval() == null)
       Some(s"requires a foldable, non-NULL (literal) matrix, got $m")
     else more) match {
      case Some(msg) => TypeCheckResult.TypeCheckFailure(s"${e.prettyName} $msg")
      case None => TypeCheckResult.TypeCheckSuccess
    }

  /** Column API: `m` is the codebook as one literal, e.g. `typedLit(rows)`. */
  def dot(x: Column, m: Column): Column =
    ColumnBridge.column(CodebookDot(ColumnBridge.expression(x), ColumnBridge.expression(m)))

  def nearest(x: Column, xNorm2: Column, m: Column, mNorm2: Column, k: Int): Column =
    ColumnBridge.column(CodebookNearest(ColumnBridge.expression(x),
      ColumnBridge.expression(xNorm2), ColumnBridge.expression(m),
      ColumnBridge.expression(mNorm2), k))
}
