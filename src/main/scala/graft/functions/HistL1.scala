package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** L1 distance of two int-array histograms as a native Catalyst
  * expression with whole-stage codegen — the complete edit-distance
  * lower bound `L1(hist(a), hist(b)) <= 2 * ed(a, b)` that prunes
  * candidate pairs before the banded DP (EditJoin tier 2).
  *
  * Why not compose it: the HOF form (zip_with + aggregate) is
  * CodegenFallback — an interpreted tree walk per element per
  * CANDIDATE row — and the literal-unrolled 37-term `element_at`
  * alternative measurably knocked the whole join stage out of
  * whole-stage codegen (37 ANSI-checked element_at + abs + add terms
  * inside the join condition; qd67 went 6.1 s -> 20.6 s at sf0.1).
  * This 8-line loop keeps the stage fused and costs ~ns per bin.
  *
  * Null semantics match [[VecDot]]: mismatched lengths or a null
  * element yield NULL (a pruning predicate on NULL is simply false,
  * which is the conservative outcome for malformed inputs).
  */
case class HistL1(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hist_l1"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"hist_l1 needs array<int> inputs, got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    // long accumulator (ADVICE r13): per-element |x - y| <= 2^32, so
    // the running sum can exceed Int range on adversarial inputs; the
    // repo runs ANSI mode, where silent wraparound would be the one
    // catalog function breaking the no-overflow contract. n * 2^32
    // cannot overflow a LONG for any physical array (n < 2^31), and
    // an out-of-Int-range result raises like any ANSI sum.
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getInt(i).toLong - y.getInt(i).toLong
      acc += (if (d < 0) -d else d)
      i += 1
    }
    if (acc > Int.MaxValue)
      throw new ArithmeticException("hist_l1: integer overflow")
    acc.toInt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    long $d = (long) $a.getInt($i) - (long) $b.getInt($i);
         |    $acc += ($d < 0L) ? -$d : $d;
         |  }
         |  if (!${ev.isNull}) {
         |    if ($acc > Integer.MAX_VALUE) {
         |      throw new ArithmeticException("hist_l1: integer overflow");
         |    }
         |    ${ev.value} = (int) $acc;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object HistL1 {
  /** Column wrapper, resolved by [[graft.GraftExtensions]]. */
  def of(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("hist_l1", a, b)

  /** Pure-Scala reference implementation for tests. */
  def reference(a: Seq[Int], b: Seq[Int]): Int = {
    require(a.length == b.length)
    a.zip(b).map { case (x, y) => math.abs(x - y) }.sum
  }
}
