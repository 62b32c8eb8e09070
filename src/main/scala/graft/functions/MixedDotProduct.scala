package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Double-precision dot of two arrays whose elements may each be FLOAT
  * or DOUBLE (the `float_dot` SQL function: float × float), reading every
  * element at its declared width and accumulating sequentially
  * left-to-right — the bit-identical codegen replacement for
  * `aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * y), 0D,
  * (acc, v) -> acc + v)` (higher-order functions interpret the lambda
  * per element; this is one fused Janino loop). Norms come free as
  * `dot(x, x)`. Element width is resolved from the child's dataType at
  * plan time, so one expression serves float-query x double-recon ADC
  * scoring and double-array norm folds. */
case class MixedDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "mixed_dot"

  // elemIsDouble treats "not double" as float, so an un-validated
  // ArrayType(IntegerType) child would silently read ints at float
  // width (garbage values, no error) — reject anything that is not an
  // ARRAY<FLOAT|DOUBLE> at analysis time instead. (checkInputDataTypes
  // rather than ExpectsInputTypes: AbstractDataType is private[sql].)
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression): Boolean = e.dataType match {
      case org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType | DoubleType, _) => true
      case _ => false
    }
    if (!ok(left))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<FLOAT|DOUBLE>, got ${left.dataType.sql}")
    else if (!ok(right))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<FLOAT|DOUBLE>, got ${right.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess
  }

  private def elemIsDouble(e: Expression): Boolean = e.dataType match {
    case org.apache.spark.sql.types.ArrayType(DoubleType, _) => true
    case _ => false
  }

  private def getter(arr: String, idx: String, isDouble: Boolean): String =
    if (isDouble) s"$arr.getDouble($idx)"
    else s"(double) $arr.getFloat($idx)"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val ga = getter(a, i, elemIsDouble(left))
      val gb = getter(b, i, elemIsDouble(right))
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $acc += $ga * $gb;
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MixedDotProduct =
    copy(left = newLeft, right = newRight)

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val ad = elemIsDouble(left)
    val bd = elemIsDouble(right)
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        val x = if (ad) a.getDouble(i) else a.getFloat(i).toDouble
        val y = if (bd) b.getDouble(i) else b.getFloat(i).toDouble
        acc += x * y
      }
      i += 1
    }
    acc
  }
}

object MixedDotProduct {
  def mixedDot(a: Column, b: Column): Column =
    ColumnBridge.column(MixedDotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
