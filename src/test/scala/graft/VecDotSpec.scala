package graft

import graft.functions.VecDot
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** The codegen'd VecDot expression must be BITWISE equal to the HOF
  * reference fold (aggregate/zip_with) — the oracle parity of every
  * qe* query rests on that fold order.
  */
class VecDotSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

  override def afterAll(): Unit =
    try emb.unpersist(blocking = false) finally super.afterAll()

  test("vec_dot == HOF fold, bitwise, on the gate corpus") {
    val paired = emb.select(col("vec_id"), col("embedding"))
      .withColumn("other",
        // deterministic partner: reversed array of the same vector
        reverse(col("embedding")))
    val both = paired.select(
      col("vec_id"),
      VecDot.of(col("embedding"), col("other")).as("native"),
      Similarity.dotD(col("embedding"), col("other")).as("hof"),
      VecDot.of(col("embedding"), col("embedding")).as("native_self"),
      Similarity.dotD(col("embedding"), col("embedding")).as("hof_self"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      // bitwise: compare raw long bits, not approximate equality
      assert(java.lang.Double.doubleToRawLongBits(r.getAs[Double]("native")) ==
        java.lang.Double.doubleToRawLongBits(r.getAs[Double]("hof")),
        s"vec ${r.getAs[Long]("vec_id")}")
      assert(java.lang.Double.doubleToRawLongBits(r.getAs[Double]("native_self")) ==
        java.lang.Double.doubleToRawLongBits(r.getAs[Double]("hof_self")),
        s"self ${r.getAs[Long]("vec_id")}")
    }
  }

  test("vec_dot matches the pure-Scala reference") {
    val rows = emb.limit(20).collect().map(r =>
      (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray))
    val spark2 = spark
    import spark2.implicits._
    val df = rows.toSeq.toDF("vec_id", "embedding")
      .withColumn("d", VecDot.of(col("embedding"), col("embedding")))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("d")).toMap
    rows.foreach { case (id, v) =>
      assert(df(id) == VecDot.reference(v.toSeq, v.toSeq), s"vec $id")
    }
  }

  test("null semantics match zip_with: length mismatch and null element") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f)), // length mismatch
      (Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))        // clean
    ).toDF("a", "b")
      .select(VecDot.of(col("a"), col("b")).as("native"),
        Similarity.dotD(col("a"), col("b")).as("hof"))
      .collect()
    assert(df(0).isNullAt(0) && df(0).isNullAt(1))
    assert(df(1).getDouble(0) == df(1).getDouble(1))
  }

  test("qe3 parity geometry (1-bit bands) equals exhaustive all-pairs") {
    val blocked = Similarity
      .embeddingNearDups(emb, threshold = 0.3, nPlanes = 16, nBands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // exhaustive: brute-force all pairs via cross join on ids
    val base = emb.select(col("vec_id"), col("embedding"),
      sqrt(VecDot.of(col("embedding"), col("embedding"))).as("nrm"))
    val exhaustive = base.as("a").crossJoin(base.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        (VecDot.of(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm"))).as("sim"))
      .filter(col("sim") >= 0.3)
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(exhaustive.nonEmpty, "corpus must yield pairs at 0.3")
    assert(blocked == exhaustive)
  }
}
