package graft

import graft.operators.Relational
import org.apache.spark.sql.functions.col

class RelationalSpec extends SparkSpec {

  val sf = "/root/testdata/sf0.001"

  test("every declared query returns rows at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      assert(fn(spark, sf).count() > 0, s"$name returned no rows")
    }
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q06 (groupBy) equals q07 (window+distinct)") {
    val a = Relational.q06(spark, sf).collect().map(_.mkString("|")).toSet
    val b = Relational.q07(spark, sf).collect().map(_.mkString("|")).toSet
    assert(a == b)
  }

  test("q15 union fold equals the plain customer scan") {
    val folded = Relational.q15(spark, sf)
    val plain = graft.core.Tables.customer(spark, sf)
      .select("c_custkey", "c_name", "c_nationkey")
    assert(folded.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(folded).count() == 0)
  }

  test("q12 top-k is ordered and bounded") {
    val rows = Relational.q12(spark, sf).collect()
    assert(rows.length == 20)
    val prices = rows.map(_.getDouble(1))
    assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
  }

  test("q08 rank starts at 1 per customer and never exceeds 3") {
    val df = Relational.q08(spark, sf)
    assert(df.filter(col("rnk") > 3).count() == 0)
    val mins = df.groupBy("o_custkey")
      .agg(org.apache.spark.sql.functions.min("rnk").as("m"))
    assert(mins.filter(col("m") =!= 1).count() == 0)
  }
}
