package graft

import graft.functions.SlidingXxh64
import org.apache.spark.sql.functions._

/** [[graft.functions.SlidingXxh64]] must be BIT-EQUAL to the
  * `xxhash64(substring(text, k*stride + 1, width))` composition it
  * replaced on the qd68/qd69/qs44 segment-index paths.
  */
class SlidingXxh64Spec extends SparkSpec {

  private val geometries = Seq((16, 1), (16, 16), (5, 2), (3, 3))

  private def sqlMirror(width: Int, stride: Int) = expr(
    s"""CASE WHEN length(t) >= $width THEN
       |  transform(sequence(0, (length(t) - $width) DIV $stride),
       |    k -> xxhash64(substring(t, k * $stride + 1, $width)))
       |ELSE array() END""".stripMargin)

  private val samples = Seq(
    "the quick brown fox jumps over the lazy dog 0123456789",
    "exactly sixteen!",                     // == width for (16, _)
    "short",                                // < width for (16, _)
    "",                                     // empty
    "snow☃man and café au lait with müsli bowls here",
    "üé☃" * 12,              // multibyte-only
    "a😀b" * 10,                  // surrogate pairs (4-byte UTF-8)
    " " * 40
  )

  test("sliding_xxh64 == xxhash64(substring(...)) bit for bit") {
    val spark2 = spark
    import spark2.implicits._
    val df = samples.toDF("t")
    geometries.foreach { case (w, s) =>
      val rows = df.select(col("t"),
        SlidingXxh64.of(col("t"), w, s).as("native"),
        sqlMirror(w, s).as("mirror")).collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"geometry ($w,$s) on '${r.getString(0).take(20)}...'")
      }
    }
  }

  test("sliding_xxh64 matches the pure-Scala reference") {
    val spark2 = spark
    import spark2.implicits._
    val df = samples.toDF("t")
    geometries.foreach { case (w, s) =>
      val got = df.select(col("t"), SlidingXxh64.of(col("t"), w, s))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      samples.foreach { t =>
        assert(got(t) == SlidingXxh64.reference(t, w, s),
          s"geometry ($w,$s) on '${t.take(20)}...'")
      }
    }
  }

  test("interpreted eval matches codegen (null in, null out)") {
    val spark2 = spark
    import spark2.implicits._
    // eval() path directly (codegen is the DataFrame path above)
    samples.foreach { t =>
      val e = SlidingXxh64(
        org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(t)), 16, 1)
      val got = e.eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toLongArray.toSeq
      assert(got == SlidingXxh64.reference(t, 16, 1), s"'${t.take(20)}...'")
    }
    val nulls = Seq[Option[String]](None).toDF("t")
      .select(SlidingXxh64.of(col("t"), 16, 1)).collect()
    assert(nulls.head.isNullAt(0))
  }
}
