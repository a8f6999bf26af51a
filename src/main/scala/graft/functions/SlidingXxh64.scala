package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** xxhash64 of every `width`-codepoint window of a string at char
  * stride `stride`, as one array — element k is the hash of
  * `substring(text, k * stride + 1, width)`, BIT-EQUAL to Spark's
  * `xxhash64(substring(...))` (same seed-42 XXH64 over the identical
  * UTF-8 byte slice, hashed in place; SlidingXxh64Spec pins the
  * equality on multibyte inputs). Strings shorter than `width` yield
  * an empty array.
  *
  * Why not compose it: the segment-index builders
  * ([[graft.operators.EditJoin]] qd68/qd69/qs44) derived their window
  * and chunk grains as `posexplode(transform(sequence(...), i ->
  * substring(_text, ..., W)))` — `transform` is CodegenFallback, so
  * the whole Generate stage ran interpreted AND allocated one W-char
  * UTF8String per window (~len windows per doc at stride 1) before
  * xxhash64 ever saw it (the qd23 lesson, still live on this path).
  * One codegen byte loop computes all window hashes per row with zero
  * string allocations: UTF-8 char starts are found once (byte
  * positions, lead-byte arithmetic only — continuation bytes can
  * never alias ASCII), then each window hashes its [start, end) byte
  * range in place. ASCII rows (numBytes == numChars) skip the offset
  * table entirely.
  */
case class SlidingXxh64(child: Expression, width: Int, stride: Int)
    extends UnaryExpression {
  require(width > 0 && stride > 0, "width and stride must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sliding_xxh64"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sliding_xxh64 needs a string input, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val nb = s.numBytes
    val n = s.numChars()
    if (n < width) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val count = (n - width) / stride + 1
    val out = new Array[Long](count)
    if (nb == n) {
      var k = 0
      while (k < count) {
        out(k) = XXH64.hashUnsafeBytes(base, off + k.toLong * stride, width, 42L)
        k += 1
      }
    } else {
      val offs = new Array[Int](n + 1)
      var ci = 0
      var bo = 0
      while (bo < nb) {
        offs(ci) = bo
        ci += 1
        bo += UTF8String.numBytesForFirstByte(Platform.getByte(base, off + bo))
      }
      offs(n) = nb
      var k = 0
      while (k < count) {
        val p = k * stride
        out(k) = XXH64.hashUnsafeBytes(base, off + offs(p),
          offs(p + width) - offs(p), 42L)
        k += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val base = ctx.freshName("base")
      val off = ctx.freshName("off")
      val nb = ctx.freshName("nb")
      val n = ctx.freshName("n")
      val count = ctx.freshName("count")
      val out = ctx.freshName("out")
      val offs = ctx.freshName("offs")
      val ci = ctx.freshName("ci")
      val bo = ctx.freshName("bo")
      val k = ctx.freshName("k")
      val p = ctx.freshName("p")
      val xxh = "org.apache.spark.sql.catalyst.expressions.XXH64"
      val utf8 = "org.apache.spark.unsafe.types.UTF8String"
      val platform = "org.apache.spark.unsafe.Platform"
      s"""
         |Object $base = $c.getBaseObject();
         |long $off = $c.getBaseOffset();
         |int $nb = $c.numBytes();
         |int $n = $c.numChars();
         |int $count = ($n >= $width) ? (($n - $width) / $stride + 1) : 0;
         |long[] $out = new long[$count];
         |if ($nb == $n) {
         |  for (int $k = 0; $k < $count; $k++) {
         |    $out[$k] = $xxh.hashUnsafeBytes(
         |      $base, $off + (long) $k * $stride, $width, 42L);
         |  }
         |} else if ($count > 0) {
         |  int[] $offs = new int[$n + 1];
         |  int $ci = 0;
         |  int $bo = 0;
         |  while ($bo < $nb) {
         |    $offs[$ci++] = $bo;
         |    $bo += $utf8.numBytesForFirstByte($platform.getByte($base, $off + $bo));
         |  }
         |  $offs[$n] = $nb;
         |  for (int $k = 0; $k < $count; $k++) {
         |    int $p = $k * $stride;
         |    $out[$k] = $xxh.hashUnsafeBytes(
         |      $base, $off + $offs[$p], $offs[$p + $width] - $offs[$p], 42L);
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions
         |    .UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SlidingXxh64 {
  /** [[graft.GraftExtensions]]' builder for the SQL form
    * `sliding_xxh64(text, width, stride)`: width and stride must be
    * foldable int literals (index geometry is a build-time constant,
    * never data).
    */
  private[graft] def fromExprs(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3,
      "sliding_xxh64 expects (text, width, stride)")
    def lit(e: Expression, what: String): Int = {
      require(e.foldable &&
        e.dataType == org.apache.spark.sql.types.IntegerType,
        s"sliding_xxh64 $what must be an int literal")
      e.eval().asInstanceOf[Int]
    }
    SlidingXxh64(exprs.head, lit(exprs(1), "width"), lit(exprs(2), "stride"))
  }

  /** Column wrapper, resolved by [[graft.GraftExtensions]]. */
  def of(c: Column, width: Int, stride: Int): Column =
    org.apache.spark.sql.functions.call_function("sliding_xxh64", c,
      org.apache.spark.sql.functions.lit(width),
      org.apache.spark.sql.functions.lit(stride))

  /** Pure-Scala reference for tests: xxhash64 of each window's UTF-8
    * bytes, windows by CODEPOINT positions.
    */
  def reference(s: String, width: Int, stride: Int): Seq[Long] = {
    val cps = s.codePoints().toArray
    if (cps.length < width) Seq.empty
    else (0 to (cps.length - width) by stride).map { p =>
      val sub = new String(cps, p, width)
      val b = sub.getBytes("UTF-8")
      XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
    }
  }
}
