package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** 37-bin lowercase character histogram (a–z, space, 0–9) over one
  * byte scan — the SIGNATURE half of the edit-distance prune family,
  * completing [[HistL1]] (the distance half): `char_hist(text)` feeds
  * `hist_l1(a, b) <= 2 * maxDist`, the complete lower bound that
  * prunes candidate pairs before the banded DP.
  *
  * Why not compose it: the SQL `transform(..., c -> length(lt) -
  * length(replace(lt, chr(c), '')))` formulation is a CodegenFallback
  * HOF whose body runs 37 replace-scans (each a full pass PLUS a
  * same-sized string allocation) per row — it was the one remaining
  * interpreted HOF on a gated hot path (qx29, VERDICT r13) — and the
  * DataFrame `array(37 × replace)` mirror pays the same 37 scans in
  * codegen form. One branchy byte loop does all 37 bins in a single
  * allocation-free pass, the [[AsciiClassCounts]] move applied to the
  * histogram.
  *
  * Byte-scan correctness on multibyte text: UTF-8 continuation and
  * lead bytes are all >= 0x80 and can never equal an ASCII byte, so
  * byte counts equal codepoint counts for these classes. A–Z folds to
  * a–z (+32); non-ASCII uppercase variants (e.g. U+212A KELVIN SIGN,
  * which `lower()` maps to 'k') project OUT rather than folding in —
  * a deliberate divergence from `lower()`-then-count: the L1 bound is
  * sound for ANY fixed per-codepoint classification (one edit moves
  * at most two bins by one each), so the cheap byte-level fold keeps
  * the prune exact while never decoding.
  *
  * Bin layout matches [[graft.operators.EditJoin.HistChars]]:
  * a–z → 0..25, space → 26, 0–9 → 27..36.
  */
case class CharHist(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "char_hist"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"char_hist needs a string input, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val h = new Array[Int](37)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (b >= 'a' && b <= 'z') h(b - 'a') += 1
      else if (b >= 'A' && b <= 'Z') h(b - 'A') += 1
      else if (b == ' ') h(26) += 1
      else if (b >= '0' && b <= '9') h(27 + b - '0') += 1
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(h)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val h = ctx.freshName("hist")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      s"""
         |byte[] $bytes = $c.getBytes();
         |int[] $h = new int[37];
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  byte $b = $bytes[$i];
         |  if ($b >= 'a' && $b <= 'z') $h[$b - 'a']++;
         |  else if ($b >= 'A' && $b <= 'Z') $h[$b - 'A']++;
         |  else if ($b == ' ') $h[26]++;
         |  else if ($b >= '0' && $b <= '9') $h[27 + $b - '0']++;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions
         |    .UnsafeArrayData.fromPrimitiveArray($h);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharHist {
  /** Column wrapper, resolved by [[graft.GraftExtensions]]. */
  def of(c: Column): Column =
    org.apache.spark.sql.functions.call_function("char_hist", c)

  /** Pure-Scala reference implementation for tests (same byte-level
    * classification over the UTF-8 encoding).
    */
  def reference(s: String): Seq[Int] = {
    val h = new Array[Int](37)
    s.getBytes("UTF-8").foreach { b =>
      if (b >= 'a' && b <= 'z') h(b - 'a') += 1
      else if (b >= 'A' && b <= 'Z') h(b - 'A') += 1
      else if (b == ' ') h(26) += 1
      else if (b >= '0' && b <= '9') h(27 + b - '0') += 1
    }
    h.toSeq
  }
}
