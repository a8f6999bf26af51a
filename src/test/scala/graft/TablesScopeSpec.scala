package graft

import graft.core.Tables

/** Tables.events must not leak the nanosAsLong legacy conf into the
  * session (VERDICT r3 #3): the conf is scoped to the read, later
  * actions on the returned frame still execute, and an unrelated
  * parquet read afterwards sees untouched session state.
  */
class TablesScopeSpec extends SparkSpec {

  private val key = "spark.sql.legacy.parquet.nanosAsLong"

  private val ntzKey = "spark.sql.parquet.inferTimestampNTZ.enabled"

  test("events read restores the session conf and still executes") {
    spark.conf.unset(key)
    spark.conf.unset(ntzKey)
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    // getOption surfaces the SQLConf DEFAULT ("false") when unset —
    // the point is the effective value is back to not-nanos
    assert(spark.conf.get(key) == "false",
      s"conf leaked: ${spark.conf.get(key)}")
    assert(spark.conf.get(ntzKey) == "true",
      s"NTZ-inference conf leaked: ${spark.conf.get(ntzKey)}")
    // the frame built under the scoped conf still executes fully —
    // and must actually DECODE the nanos ts column (a bare count()
    // would column-prune it and prove nothing about the read path)
    assert(ev.agg(org.apache.spark.sql.functions.max("ts"))
      .collect().head.getTimestamp(0) != null)
    assert(ev.count() > 0)
    assert(ev.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    // an unrelated read afterwards is unaffected
    assert(spark.read
      .parquet("/root/testdata/sf0.001/region.parquet").count() > 0)
  }

  test("a user-set value is preserved, not clobbered") {
    spark.conf.set(key, "false")
    Tables.events(spark, "/root/testdata/sf0.001").count()
    assert(spark.conf.get(key) == "false")
    spark.conf.unset(key)
  }

  test("conf is restored even when the read throws") {
    spark.conf.unset(key)
    intercept[Exception] {
      Tables.withEventReadConfs(spark) {
        spark.read.parquet("/nonexistent/graft/path.parquet")
      }
    }
    assert(spark.conf.get(key) == "false")
  }
}
