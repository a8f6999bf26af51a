package graft

import org.apache.spark.sql.functions._

/** AQE runtime skew-join handling — the engine-native complement to
  * qx12's MANUAL salting: Adaptive Query Execution watches the real
  * shuffle-block sizes at runtime and splits an oversized partition
  * of a sort-merge join into parallel sub-joins (replicating the
  * matching build-side rows), with no query rewrite at all. At 100 TB
  * this is the first line of defense against organic key skew;
  * salting remains the tool when AQE can't apply (aggregations, or
  * joins whose skewed side must stay intact). Spec-only: the
  * optimization is a plan-shape property with result invariance, so
  * the gate's oracle would add nothing a plain join oracle doesn't
  * already cover (qx12).
  */
class AqeSkewSpec extends SparkSpec {

  test("AQE splits the skewed partition at runtime (skew=true), result unchanged") {
    // one pathological key holding ~95% of the left side
    val left = spark.range(0L, 200000L)
      .select(when(col("id") < 190000L, 0L).otherwise(col("id")).as("k"),
        col("id").as("payload"))
    val right = spark.range(0L, 1000L)
      .select(col("id").as("k"), (col("id") * 7L).as("attr"))
    val out = Session.withConfs(spark, Seq(
      // force the sort-merge path (a broadcast would hide skew handling)
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // crafted data is KBs, not the production 256 MB threshold —
      // scale the knobs down so the same mechanism triggers
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB")) {
      val joined = left.join(right, "k")
      // execute THROUGH this DataFrame's own queryExecution — count()
      // would build a separate aggregate plan and leave this one
      // unfinalized (isFinalPlan=false, no runtime skew info)
      val n = joined.collect().length.toLong
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected a runtime-split skewed join, got:\n$plan")
      n
    }
    // right holds keys 0-999; the skewed key 0 matches its 190k left
    // rows 1:1, and the non-skewed left keys (>= 190000) match nothing
    assert(out == 190000L, "exactly the skewed key's rows survive")
  }
}
