package graft

import graft.operators.Events
import graft.streaming.SessionStream

class SessionStreamSpec extends SparkSpec {

  val sf = "/root/testdata/sf0.001"

  test("continuous sessionize: multi-batch stream equals hand-computed sessions") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val spark2 = spark
    import spark2.implicits._

    def ts(min: Long): java.sql.Timestamp =
      new java.sql.Timestamp(1700000000000L + min * 60000L)
    def evt(u: Long, min: Long, id: Long, v: Double) =
      SessionStream.Evt(u, ts(min), id, v)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionStream.Evt]
    val q = SessionStream.sessionizeStream(input.toDS(), gapMinutes = 30)
      .writeStream.outputMode("append").format("memory")
      .queryName("cont_sess").trigger(Trigger.ProcessingTime(0)).start()

    // batch 1: u1 two events 10min apart (one session so far); u2 one
    input.addData(evt(1, 0, 100, 1.0), evt(1, 10, 101, 2.0),
      evt(2, 5, 200, 5.0))
    q.processAllAvailable()
    // nothing closed yet — open sessions must NOT emit
    assert(spark.table("cont_sess").count() == 0)

    // batch 2: u1 at +70min -> closes session 1 (gap 60 > 30), starts
    // session 2; u2 at +25min extends its open session
    input.addData(evt(1, 70, 102, 4.0), evt(2, 30, 201, 7.0))
    q.processAllAvailable()
    val afterB2 = spark.table("cont_sess").as[SessionStream.SessionOut]
      .collect()
    // u1's session closed by its own +70min event; u2's closed by the
    // event-time timeout in the SAME batch (the timeout pass runs on
    // the eviction watermark, which u1's +70min event advanced past
    // u2's end + gap — any extender would now be late and dropped, so
    // the early close is sound). u1's new open session must not emit.
    assert(afterB2.toSet == Set(
      SessionStream.SessionOut(1, 1, 2, ts(0).getTime, ts(10).getTime, 3.0),
      SessionStream.SessionOut(2, 1, 2, ts(5).getTime, ts(30).getTime, 12.0)),
      s"closed-only emission after batch 2: ${afterB2.toSeq}")

    // batches 3+4: far-future sentinel advances the watermark past
    // every open session's end + gap; the timeout pass runs against
    // the PREVIOUS batch's watermark, so a second sentinel batch
    // triggers the actual flush
    input.addData(evt(999, 10000, 900, 0.0))
    q.processAllAvailable()
    input.addData(evt(999, 10001, 901, 0.0))
    q.processAllAvailable()
    q.stop()

    val all = spark.table("cont_sess").as[SessionStream.SessionOut]
      .collect().filter(_.user_id != 999).sortBy(s => (s.user_id, s.session_id))
    assert(all.toSeq == Seq(
      SessionStream.SessionOut(1, 1, 2, ts(0).getTime, ts(10).getTime, 3.0),
      SessionStream.SessionOut(1, 2, 1, ts(70).getTime, ts(70).getTime, 4.0),
      SessionStream.SessionOut(2, 1, 2, ts(5).getTime, ts(30).getTime, 12.0)),
      s"got: ${all.toSeq}")
  }

  test("timeout respects the floor-second gap boundary (999ms window)") {
    // session ends at 500 ms (floor-sec 0); the gap rule admits an
    // extender through floor-sec 1800, i.e. up to 1800999 ms. Arming
    // the timeout at endMs + gapMs (= 1800500) would let a watermark
    // of 1800700 flush the session while the 1800999 extender is
    // still on time — the batch form merges them into ONE session.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val spark2 = spark
    import spark2.implicits._
    def evt(u: Long, ms: Long, id: Long) =
      SessionStream.Evt(u, new java.sql.Timestamp(ms), id, 1.0)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionStream.Evt]
    val q = SessionStream.sessionizeStream(input.toDS(), gapMinutes = 30)
      .writeStream.outputMode("append").format("memory")
      .queryName("cont_sess_boundary").trigger(Trigger.ProcessingTime(0)).start()

    input.addData(evt(1, 500, 1))
    q.processAllAvailable()
    // sentinel pushes the watermark into the (endMs+gap, admissible]
    // window — must NOT flush u1
    input.addData(evt(999, 1800700, 900))
    q.processAllAvailable()
    // on-time extender: floor-sec 1800 - 0 = 1800 <= 1800 -> merges
    input.addData(evt(1, 1800999, 2))
    q.processAllAvailable()
    // flush everything
    input.addData(evt(999, 999999999, 901))
    q.processAllAvailable()
    input.addData(evt(999, 999999999 + 1000, 902))
    q.processAllAvailable()
    q.stop()

    val u1 = spark.table("cont_sess_boundary")
      .as[SessionStream.SessionOut].collect().filter(_.user_id == 1)
    assert(u1.toSeq == Seq(
      SessionStream.SessionOut(1, 1, 2, 500, 1800999, 2.0)),
      s"boundary extender must merge into one session: ${u1.toSeq}")
  }

  test("RocksDB state store: streaming session windows land on identical results") {
    // the production state backend for large state (HDFS-backed
    // in-memory maps stop scaling when per-partition state outgrows
    // the executor heap; RocksDB spills to local SSD) — the engine's
    // streaming gates must be backend-agnostic, proven by strict
    // result equality on a real corpus drain
    val sf = "/root/testdata/sf0.001"
    // only the provider is overridden: the drain itself picks the
    // filesystem RocksDB's snapshot upload needs (graft.streaming.Drain)
    Session.withConfs(spark, Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")) {
      val rocks = graft.streaming.SessionStream
        .sessionWindowGate(spark, sf).collect().toSeq
      val batch = graft.operators.Events.sessionWindow(spark, sf)
        .collect().toSeq
      assert(rocks == batch,
        s"RocksDB drain ${rocks.length} rows vs batch ${batch.length}")
    }
  }

  test("continuous sessionize over the real corpus in 3 batches equals batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.functions._

    val evts = graft.core.Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[SessionStream.Evt].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val chunks = evts.grouped(math.max(1, evts.length / 3 + 1)).toSeq
    assert(chunks.length >= 3, "need >= 3 micro-batches for the parity claim")

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionStream.Evt]
    val q = SessionStream.sessionizeStream(input.toDS(), gapMinutes = 30)
      .writeStream.outputMode("append").format("memory")
      .queryName("cont_sess_corpus").trigger(Trigger.ProcessingTime(0)).start()
    chunks.foreach { c => input.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
    // sentinel twice: advance the watermark past every open session,
    // then trigger the timeout pass that flushes them
    val flushTs = new java.sql.Timestamp(evts.map(_.ts.getTime).max + 86400000L)
    input.addData(SessionStream.Evt(-1L, flushTs, -1L, 0.0))
    q.processAllAvailable()
    input.addData(SessionStream.Evt(-1L,
      new java.sql.Timestamp(flushTs.getTime + 1000L), -2L, 0.0))
    q.processAllAvailable()
    q.stop()

    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
    val streamed = spark.table("cont_sess_corpus")
      .as[SessionStream.SessionOut].collect()
      .filter(_.user_id >= 0)
      .map(s => (s.user_id, s.session_id) ->
        ((s.n_events, fmt.format(java.time.Instant.ofEpochMilli(s.start_ms)),
          fmt.format(java.time.Instant.ofEpochMilli(s.end_ms)),
          s.session_value)))
      .toMap

    val batch = Events.sessionize(spark, sf).collect()
      .map { r =>
        (r.getAs[Long]("user_id"), r.getAs[Int]("session_id")) ->
          ((r.getAs[Long]("n_events"), r.getAs[String]("session_start"),
            r.getAs[String]("session_end"), r.getAs[Double]("session_value")))
      }.toMap

    assert(streamed.keySet == batch.keySet)
    batch.foreach { case (k, (n, s, e, v)) =>
      val (n2, s2, e2, v2) = streamed(k)
      assert(n2 == n, s"$k n_events")
      assert(s2 == s, s"$k start")
      assert(e2 == e, s"$k end")
      assert(math.abs(v2 - v) < 1e-6, s"$k value")
    }
  }

  test("cents/fromCents mirror Spark's double->DECIMAL(18,2)->double bit for bit") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val rng = new scala.util.Random(11)
    // adversarial mix: representable cents, sub-cent noise (exercises
    // HALF_UP), negatives, half-cent boundaries, large magnitudes
    val vals = Seq.fill(2000)(
        math.round(rng.nextDouble() * 1e6).toDouble / 100.0 +
          (rng.nextDouble() - 0.5) * 1e-3) ++
      Seq(0.005, -0.005, 0.015, 123.456, -1.115, 2.675, 1e10 + 0.125, 0.0)
    val sparkSum = vals.toDF("v")
      .agg(sum(col("v").cast(graft.core.Fns.Money)).cast("double"))
      .head.getDouble(0)
    val streamSum = graft.streaming.SessionStream.fromCents(
      vals.map(graft.streaming.SessionStream.cents).sum)
    assert(streamSum == sparkSum, s"$streamSum != $sparkSum")
    // and per-value: each cents() equals Spark's scalar cast
    val perValue = vals.toDF("v")
      .select((col("v").cast(graft.core.Fns.Money) * 100).cast("double"))
      .collect().map(_.getDouble(0))
    vals.zip(perValue).foreach { case (v, expected) =>
      assert(graft.streaming.SessionStream.cents(v) == expected, s"at $v")
    }
  }

  test("qs7 gate form is bit-identical to batch sessionize (decimal cents)") {
    // no tolerance: stream state accumulates DECIMAL(18,2) cents, so
    // every column — including the double session_value — must equal
    // the batch form exactly (the driver hash-compares values)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3),
        r.getString(4), r.getDouble(5))).toSeq
    assert(rows(SessionStream.sessionizeGate(spark, sf)) ==
      rows(Events.sessionize(spark, sf)))
  }

  test("stateful streaming sessionize equals the batch window form") {
    val landing = tempDir("sess_events_")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(landing, "events.parquet"))

    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
    val streamed = SessionStream
      .sessionizeAvailableNow(spark, landing)
      .collect()
      .map { r =>
        (r.getAs[Long]("user_id"), r.getAs[Int]("session_id")) ->
          ((r.getAs[Long]("n_events"),
            fmt.format(java.time.Instant.ofEpochMilli(r.getAs[Long]("start_ms"))),
            fmt.format(java.time.Instant.ofEpochMilli(r.getAs[Long]("end_ms"))),
            r.getAs[Double]("session_value")))
      }.toMap

    val batch = Events.sessionize(spark, sf).collect()
      .map { r =>
        (r.getAs[Long]("user_id"), r.getAs[Int]("session_id")) ->
          ((r.getAs[Long]("n_events"),
            r.getAs[String]("session_start"),
            r.getAs[String]("session_end"),
            r.getAs[Double]("session_value")))
      }.toMap

    assert(streamed.keySet == batch.keySet)
    batch.foreach { case (k, (n, s, e, v)) =>
      val (n2, s2, e2, v2) = streamed(k)
      assert(n2 == n, s"$k n_events")
      assert(s2 == s, s"$k start")
      assert(e2 == e, s"$k end")
      assert(math.abs(v2 - v) < 1e-6, s"$k value")
    }
  }
}
