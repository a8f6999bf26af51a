package graft

import graft.operators.Events
import graft.streaming.EventStream
import org.apache.spark.sql.functions.col

case class DupEvt(event_id: Long, ts: java.sql.Timestamp)

class StreamingSpec extends SparkSpec {

  val sf = "/root/testdata/sf0.001"

  test("streaming hourly stats (AvailableNow) equals the batch result") {
    val batch = Events.hourlyStats(spark, sf)
      .collect().map(_.mkString("|")).toSet
    // file stream sources need a directory; stage the events file the
    // way the reference's landing prefix would receive it
    val landing = tempDir("stream_events_")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(landing, "events.parquet"))
    val streamed = EventStream.hourlyStatsAvailableNow(spark, landing)
      .collect().map(_.mkString("|")).toSet
    assert(streamed == batch)
  }

  test("streaming dedup with watermark equals batch distinct") {
    val landing = tempDir("dedup_events_")
    // two copies of the same file -> every event is duplicated
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(landing, "a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(landing, "b.parquet"))
    val streamed = EventStream.dedupAvailableNow(spark, landing)
    val expected = graft.core.Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type")
    assert(streamed.count() == expected.count())
    assert(streamed.exceptAll(expected).count() == 0)
  }

  test("streaming stream-static segment spend equals the batch join+groupBy") {
    val landing = tempDir("segment_events_")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(landing, "events.parquet"))
    val customers = graft.core.Tables.customer(spark, sf)
      .select("c_custkey", "c_mktsegment")
    val streamed = EventStream.segmentSpendAvailableNow(
      spark, landing, customers)
      .collect().map(_.mkString("|")).toSet
    val batch = graft.core.Tables.events(spark, sf)
      .join(customers, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        graft.core.Fns.moneySum(col("value")).cast("double").as("total_value"))
      .collect().map(_.mkString("|")).toSet
    assert(streamed == batch)
  }

  test("stream-stream click attribution: window boundaries are [c_ts, c_ts + 30 min]") {
    import spark.implicits._
    val t0 = java.time.Instant.parse("2024-01-01T10:00:00Z")
    def nanos(plusSec: Long): Long =
      (t0.getEpochSecond + plusSec) * 1000000000L
    // schema mirrors the testdata events table: ts as NANOS long
    val landing = tempDir("attrib_events_")
    Seq(
      (100L, nanos(0), 1L, "click", 0.0, "{}"),
      (200L, nanos(-1), 1L, "purchase", 1.0, "{}"),   // before click: out
      (201L, nanos(0), 1L, "purchase", 1.0, "{}"),    // same second: in
      (202L, nanos(1800), 1L, "purchase", 1.0, "{}"), // exactly +30min: in
      (203L, nanos(1801), 1L, "purchase", 1.0, "{}"), // +30min+1s: out
      (204L, nanos(60), 2L, "purchase", 1.0, "{}"))   // other user: out
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$landing/batch1")
    val got = EventStream.clickAttributionAvailableNow(
      spark, s"$landing/batch1")
      .collect().map(r => (r.getAs[Long]("click_id"),
        r.getAs[Long]("purchase_id"))).toSet
    assert(got == Set((100L, 201L), (100L, 202L)),
      s"attribution window must be inclusive [c_ts, c_ts+30min]: $got")
  }

  test("stream-stream attribution equals the batch interval join on real data") {
    val landing = tempDir("attrib_real_")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(landing, "events.parquet"))
    val streamed = EventStream.clickAttributionAvailableNow(spark, landing)
      .collect().map(_.mkString("|")).toSet
    val ev = graft.core.Tables.events(spark, sf)
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("c_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("p_ts"))
    val batch = c.join(p, col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + org.apache.spark.sql.functions
          .expr("INTERVAL 30 MINUTES"))
      .select("click_id", "purchase_id", "user_id")
      .collect().map(_.mkString("|")).toSet
    assert(streamed == batch)
  }

  test("foreachBatch sink is idempotent: reprocessing lands on the same dirs") {
    val landing = tempDir("fb_events_")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(landing, "events.parquet"))
    val out = tempDir("fb_out_")
    val first = EventStream.foreachBatchSink(spark, landing, out)
      .collect().map(_.mkString("|")).toSet
    // a full reprocess (fresh checkpoint, same input) must overwrite
    // the same batch=<id> dirs, not append duplicates
    val second = EventStream.foreachBatchSink(spark, landing, out)
      .collect().map(_.mkString("|")).toSet
    assert(first == second)
    val batch = graft.core.Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value")
      .collect().map(_.mkString("|")).toSet
    assert(first == batch)
  }

  test("sessionize: sessions respect the inactivity gap") {
    import spark.implicits._
    val sessions = Events.sessionize(spark, sf).cache()
    // session ids are dense per user starting at 1
    val perUser = sessions.groupBy("user_id")
      .agg(org.apache.spark.sql.functions.min("session_id").as("mn"),
        org.apache.spark.sql.functions.max("session_id").as("mx"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect()
    perUser.foreach { r =>
      assert(r.getAs[Int]("mn") == 1)
      assert(r.getAs[Int]("mx").toLong == r.getAs[Long]("n"))
    }
    // total events conserved
    val total = sessions.agg(
      org.apache.spark.sql.functions.sum("n_events")).collect()(0).getLong(0)
    // via Tables.events (scoped nanos conf) — the raw read only worked
    // here while EventStream leaked the session-global conf, which it
    // no longer does
    assert(total == graft.core.Tables.events(spark, sf).count())
    // no session spans a gap: start of session k+1 is > end of session k
    val spans = sessions.select("user_id", "session_id", "session_start",
      "session_end").as[(Long, Int, String, String)]
      .collect().groupBy(_._1)
    spans.values.foreach { ss =>
      val sorted = ss.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 <= b._3)
        case _ =>
      }
    }
  }

  test("qs20: WithinWatermark drops the re-delivered record plain dropDuplicates re-emits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    def t(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    // The two watermark-bounded dedup contracts:
    //  - plain dropDuplicates can only expire state when the EVENT
    //    TIME COLUMN is among the keys — so a retried record with a
    //    fresh timestamp is a DIFFERENT key and re-emits;
    //  - dropDuplicatesWithinWatermark keys on the id alone, holds
    //    state until event time + delay, and so drops any retry
    //    arriving within the delay window.
    // (Keying plain dropDuplicates on the id alone dedups the retry
    // but its state NEVER expires — the unbounded-state production
    // bug WithinWatermark exists to fix; qs9's Scaladoc documents
    // that trade.)
    def run(within: Boolean, name: String): Seq[Long] = {
      val input = MemoryStream[DupEvt]
      val base = input.toDS().withWatermark("ts", "1 hour")
      val dedup = if (within) base.dropDuplicatesWithinWatermark("event_id")
                  else base.dropDuplicates("event_id", "ts")
      val q = dedup.writeStream.outputMode("append").format("memory")
        .queryName(name).trigger(Trigger.ProcessingTime(0)).start()
      input.addData(DupEvt(1L, t(0)))
      q.processAllAvailable()
      // the retry: same id, fresh timestamp 40 min later — inside
      // the 1 h dedup guarantee window
      input.addData(DupEvt(1L, t(40)))
      q.processAllAvailable()
      val out = spark.table(name).as[DupEvt].collect().map(_.event_id).toSeq
      q.stop()
      spark.catalog.dropTempView(name)
      out
    }
    val plain = run(within = false, "qs20_plain")
    val within = run(within = true, "qs20_within")
    assert(plain.count(_ == 1L) == 2,
      s"(id, ts)-keyed dedup sees the fresh-timestamp retry as new: $plain")
    assert(within.count(_ == 1L) == 1,
      s"WithinWatermark keys the id alone and drops the retry: $within")
  }
}
