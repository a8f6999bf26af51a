package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** SQ8 asymmetric-distance (ADC) dot against a QUERY COLUMN:
  * `sq8_adc(words, q, widths)` = Σ_d code_d(words) · q[d] · widths[d],
  * where code_d = bits [8·(d%8), 8·(d%8)+7] of words[d/8] — the
  * [[graft.operators.Sq]] packed layout read back per dimension.
  *
  * Why a custom Expression and not composition (round 14, measured on
  * qe25): the batch-as-frame ADC needs the query vector as a COLUMN
  * (no driver collect of the batch, unlike Sq.search's literal-query
  * scan), and the composed form — 64 unrolled
  * `shiftright·&255·element_at` terms — passes Janino but compiles
  * into ONE generated method past HotSpot's 8 KB JIT threshold, so it
  * runs bytecode-INTERPRETED forever (~17 µs/candidate, 3.2 s of
  * qe25's 6.5 s first cut). The HistL1 lesson one JVM tier down:
  * Janino compiling is necessary, C2 compiling is what makes it fast
  * — and a 64-iteration loop is JIT-sized by construction.
  *
  * The per-query CONSTANT term of the true dequantized dot
  * (Σ q_d·(lo_d + 0.5·w_d)) is intentionally absent — constant within
  * a query's ranking, it cannot change any per-query order
  * ([[graft.operators.Sq.approxIntShortlist]]'s move); callers
  * ranking across queries must add it back.
  *
  * Null semantics match [[VecDot]]: any NULL input or element, or a
  * dimension mismatch (widths longer than 8·|words| or |q|), yields
  * NULL — a ranking score of NULL sorts last, the conservative
  * outcome for malformed rows.
  */
case class Sq8Adc(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sq8_adc"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def elem(dt: DataType): DataType = dt match {
      case ArrayType(e, _) => e
      case _ => NullType
    }
    val ok = elem(first.dataType) == LongType &&
      (elem(second.dataType) == FloatType ||
        elem(second.dataType) == DoubleType) &&
      elem(third.dataType) == DoubleType
    if (ok)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "sq8_adc needs (array<bigint>, array<float|double>, " +
          s"array<double>), got ${first.dataType.catalogString} / " +
          s"${second.dataType.catalogString} / " +
          s"${third.dataType.catalogString}")
  }

  private def qIsFloat: Boolean = second.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(w: Any, q: Any, ws: Any): Any = {
    val words = w.asInstanceOf[ArrayData]
    val qv = q.asInstanceOf[ArrayData]
    val widths = ws.asInstanceOf[ArrayData]
    val dim = widths.numElements()
    // guard in LONG: a >2^28-element words array would overflow the
    // 32-bit product and let a malformed row past the dimension check
    if (qv.numElements() < dim || words.numElements().toLong * 8L < dim.toLong)
      return null
    val f = qIsFloat
    var acc = 0.0
    var d = 0
    while (d < dim) {
      if (words.isNullAt(d / 8) || qv.isNullAt(d) || widths.isNullAt(d))
        return null
      val c = (words.getLong(d / 8) >>> (8 * (d % 8))) & 255L
      val qd = if (f) qv.getFloat(d).toDouble else qv.getDouble(d)
      acc += c * qd * widths.getDouble(d)
      d += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, q, ws) => {
      val dim = ctx.freshName("dim")
      val d = ctx.freshName("d")
      val acc = ctx.freshName("acc")
      val c = ctx.freshName("code")
      val qd = ctx.freshName("qd")
      val getQ = if (qIsFloat) s"(double) $q.getFloat($d)"
                 else s"$q.getDouble($d)"
      s"""
         |int $dim = $ws.numElements();
         |if ($q.numElements() < $dim || (long) $w.numElements() * 8L < (long) $dim) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $d = 0; $d < $dim; $d++) {
         |    if ($w.isNullAt($d / 8) || $q.isNullAt($d) || $ws.isNullAt($d)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    long $c = ($w.getLong($d / 8) >>> (8 * ($d % 8))) & 255L;
         |    double $qd = $getQ;
         |    $acc += $c * $qd * $ws.getDouble($d);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

object Sq8Adc {
  /** Column wrapper, resolved by [[graft.GraftExtensions]]. */
  def of(words: Column, q: Column, widths: Column): Column =
    org.apache.spark.sql.functions.call_function("sq8_adc", words, q, widths)

  /** Pure-Scala reference implementation for tests (same fold order). */
  def reference(words: Seq[Long], q: Seq[Double], widths: Seq[Double])
      : Double = {
    var acc = 0.0
    widths.indices.foreach { d =>
      val c = (words(d / 8) >>> (8 * (d % 8))) & 255L
      acc += c * q(d) * widths(d)
    }
    acc
  }
}
