package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType}

/** Sequential-fold double dot product of two float/double array
  * columns as a native Catalyst expression with whole-stage codegen.
  *
  * Bit-identical to the HOF formulation
  * `aggregate(zip_with(a, b, (x, y) => x.cast(double) * y.cast(double)),
  * 0.0, _ + _)` (widen each element to double, multiply, accumulate
  * left-to-right — the same IEEE operation order DuckDB's
  * `list_reduce` mirrors in the oracle), including its null
  * semantics: mismatched lengths or a null element yield NULL
  * (zip_with pads with nulls, and null poisons the fold).
  *
  * Why it exists: HOF lambdas never reach codegen — every element of
  * every pair costs an interpreted-eval tree walk. The similarity
  * family scores millions of candidate pairs × 64 dims; this loop is
  * the difference between ~ns and ~µs per element (the same
  * extension-ladder rung as [[DocFingerprint]]).
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_dot needs array<float|double> inputs, got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val getL = if (elemIsFloat(left)) s"(double) $a.getFloat($i)"
                 else s"$a.getDouble($i)"
      val getR = if (elemIsFloat(right)) s"(double) $b.getFloat($i)"
                 else s"$b.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ($getL) * ($getR);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VecDot {
  /** Column wrapper, resolved by [[graft.GraftExtensions]]. */
  def of(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("vec_dot", a, b)

  /** Pure-Scala reference implementation for tests (same fold order). */
  def reference(a: Seq[Float], b: Seq[Float]): Double = {
    require(a.length == b.length)
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }
}
