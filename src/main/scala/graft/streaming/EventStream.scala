package graft.streaming

import graft.core.{Fns, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming versions of the event analytics — the
  * incremental path for the same semantics as
  * [[graft.operators.Events]] (SURVEY.md §2.8: the reference is
  * batch-only with a file lifecycle; an AvailableNow [[Drain]] over
  * a file source reproduces exactly that consume-what's-there model,
  * and the same code keeps running when files keep arriving).
  *
  * Watermarking: event-time with a 1-hour allowance; at
  * AvailableNow-drain semantics the watermark only matters for state
  * cleanup, so batch ≡ streaming results (asserted in StreamingSpec
  * with the complete output mode).
  */
object EventStream {

  /** A parquet events directory as a stream, `ts` normalized like
    * every other event read ([[Tables.normalizeTs]]). The schema is
    * sniffed from the files, so build it inside a drain scoped with
    * [[Tables.eventReadConfs]].
    */
  private[graft] def source(s: SparkSession, eventsDir: String): DataFrame =
    Tables.normalizeTs(s.readStream
      .schema(s.read.parquet(eventsDir).schema).parquet(eventsDir))

  /** Streaming hourly stats over a parquet events directory; drains
    * everything available and returns the result. Production callers
    * would swap the sink and trigger.
    */
  def hourlyStatsAvailableNow(spark: SparkSession,
                              eventsDir: String): DataFrame =
    Drain.memory(spark, source(spark, eventsDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        Fns.moneySum(col("value")).cast("double").as("total_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:00:00").as("hour"),
        col("event_type"), col("n"), col("total_value")),
      "complete", Tables.eventReadConfs)

  /** Streaming exact dedup: `dropDuplicates` keyed on `event_id`
    * under an event-time watermark. Honest state caveat: because the
    * event-time column is NOT among the dedup keys, this state never
    * expires — exact forever-dedup is only viable when the key space
    * is bounded (or retention is handled by restarting from
    * compacted state). The production-scale variants are qs20's
    * `dropDuplicatesWithinWatermark` (state bounded by event time +
    * delay, retries with fresh timestamps still dedup) or keying on
    * (id, event-time) (state bounded, but a fresh-timestamp retry
    * re-emits) — StreamingSpec pins the three-way contract
    * difference.
    */
  def dedupAvailableNow(spark: SparkSession, eventsDir: String): DataFrame =
    dedupStream(spark, eventsDir, bounded = false)

  /** The watermarked dedup frame both drain entry points share.
    * `bounded = true` → `dropDuplicatesWithinWatermark` (state expires
    * at event time + delay — the deployable contract); `false` → plain
    * `dropDuplicates` (id-keyed state never expires — kept as the
    * documented qs9 contrast). Package-private so DedupDefaultSpec can
    * pin which state operator each flag compiles to.
    */
  private[graft] def dedupFrame(spark: SparkSession, eventsDir: String,
                                bounded: Boolean): DataFrame = {
    val base = source(spark, eventsDir).withWatermark("ts", "1 hour")
    val deduped = if (bounded) base.dropDuplicatesWithinWatermark("event_id")
                  else base.dropDuplicates("event_id")
    deduped.select(col("event_id"), col("user_id"), col("event_type"))
  }

  /** Whether [[dedupStream]] defaults to the bounded-state form.
    * `true` is the deliberate library default (VERDICT r6 #5): a user
    * who just asks for "streaming dedup" must get state that expires
    * at event time + watermark delay, not state that grows with every
    * distinct key forever. DedupDefaultSpec asserts this constant AND
    * that the bounded flag compiles to DeduplicateWithinWatermark.
    */
  val dedupDefaultBounded: Boolean = true

  /** Operator-level streaming dedup entry point. Defaults to BOUNDED
    * state (`dropDuplicatesWithinWatermark`); pass `bounded = false`
    * only for the explicitly-opted-in unbounded exact-forever contract
    * (viable only for bounded key spaces — see [[dedupAvailableNow]]'s
    * Scaladoc for the three-way contract discussion).
    */
  def dedupStream(spark: SparkSession, eventsDir: String,
                  bounded: Boolean = dedupDefaultBounded): DataFrame =
    Drain.memory(spark, dedupFrame(spark, eventsDir, bounded), "append",
      Tables.eventReadConfs)

  /** Streaming dedup through `dropDuplicatesWithinWatermark`
    * (Spark 3.5+) — the BOUNDED-STATE dedup contract: state keys on
    * the id alone, expires at event time + watermark delay, and any
    * retry arriving with a fresh timestamp inside the delay window
    * still dedups (the at-least-once-ingest case, where a redelivered
    * record carries a new timestamp). Contrast qs9's plain
    * dropDuplicates: id-only keys never expire (unbounded state),
    * and adding the event-time column to bound state makes a
    * fresh-timestamp retry a NEW key that re-emits — StreamingSpec
    * pins the three-way difference. At 100 TB/day this operator is
    * the deployable one. Emission (first seen wins) is deterministic
    * on the gate corpus (unique event_ids, qs9's argument).
    */
  def dedupWithinWatermarkAvailableNow(spark: SparkSession,
      eventsDir: String): DataFrame =
    dedupStream(spark, eventsDir, bounded = true)

  /** Streaming stream-static join: every micro-batch of events joins
    * the STATIC customer dimension (broadcast — the dim is read once
    * per batch from its snapshot, never shuffled against the stream)
    * and feeds a per-segment aggregate. This is the canonical
    * "enrich the stream against reference data" shape: at 100 TB/day
    * the stream side never repartitions for the join, and the
    * aggregate's state is bounded by segment cardinality, not stream
    * volume. Decimal money sums are order-free, so the incremental
    * result is bit-equal to the batch join+groupBy (the oracle).
    */
  def segmentSpendAvailableNow(spark: SparkSession, eventsDir: String,
                               customers: DataFrame): DataFrame =
    Drain.memory(spark, source(spark, eventsDir)
      .select(col("user_id"), col("value"))
      .join(broadcast(customers),
        col("user_id") === customers("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"),
        Fns.moneySum(col("value")).cast("double").as("total_value")),
      "complete", Tables.eventReadConfs)

  /** STREAM-STREAM join: clicks and purchases are two live streams;
    * each purchase attributes to every click by the same user in the
    * preceding 30 minutes. Both sides carry event-time watermarks and
    * the join condition bounds p_ts to [c_ts, c_ts + 30 min], which
    * is what lets Spark EVICT state: a click older than the watermark
    * minus the window can never match a future purchase, so join
    * state stays bounded by stream rate × window — the property that
    * separates a runnable 100 TB/day stream-stream join from one
    * whose state grows forever. Append mode: matched pairs emit as
    * both sides arrive. The join runs four state stores per shuffle
    * partition (left/right × keyToNumValues/keyWithIndexToValue), the
    * store fleet [[Drain]]'s 8 partitions are sized against.
    */
  def clickAttributionAvailableNow(spark: SparkSession,
                                   eventsDir: String): DataFrame =
    Drain.memory(spark, {
      val clicks = source(spark, eventsDir)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val purchases = source(spark, eventsDir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      clicks.join(purchases,
          col("user_id") === col("p_user") &&
            col("p_ts") >= col("c_ts") &&
            col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
        .select(col("click_id"), col("purchase_id"), col("user_id"))
    }, "append", Tables.eventReadConfs)

  /** foreachBatch parquet sink with per-batch-id IDEMPOTENCE: each
    * micro-batch overwrites its own `batch=<id>` directory, so a
    * retried batch (executor loss, driver restart from checkpoint)
    * lands on the same path instead of duplicating rows — the
    * standard exactly-once recipe for sinks without transactional
    * commit. The memory sink every other gate uses is test-only;
    * THIS is the shape a production job ships: arbitrary writer
    * logic per batch, dedup key = batchId. The `batch=` naming makes
    * the read-back a partitioned discovery (batch id recoverable as
    * a column, pruned away here).
    */
  def foreachBatchSink(spark: SparkSession, eventsDir: String,
                       outDir: String): DataFrame = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outDir))
    Drain.foreachBatch(spark, source(spark, eventsDir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value")),
      Tables.eventReadConfs) { (df, batchId) =>
      df.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }
    spark.read.parquet(outDir)
      .select("event_id", "user_id", "event_type", "value")
  }

  /** qs16 — gate-visible foreachBatch sink roundtrip: event_ids are
    * unique, so the sink's union across batch dirs provably equals
    * the plain projection (the oracle); value passes through with no
    * arithmetic, so the doubles are bit-exact.
    */
  def foreachBatchGate(s: SparkSession, dir: String): DataFrame =
    foreachBatchSink(s, graft.io.Scratch.ensureEventsLanding(dir),
      graft.io.Scratch.qs16Dir(dir))
      .orderBy("event_id")

  /** qs8 — gate-visible streaming hourly stats: drain the events
    * table and present qs1's exact output shape (shared oracle —
    * decimal money sums are order-free, so the incremental
    * aggregation is bit-equal to the batch groupBy).
    */
  def hourlyStatsGate(s: SparkSession, dir: String): DataFrame =
    hourlyStatsAvailableNow(s, graft.io.Scratch.ensureEventsLanding(dir))
      .orderBy("hour", "event_type")

  /** qs9 — gate-visible streaming exact dedup. event_ids are unique
    * in the gate corpora, so the deduped stream provably equals the
    * plain projection (the oracle) and first-seen nondeterminism
    * cannot arise; duplicate-bearing input is covered by
    * StreamingSpec, where arrival order is controlled.
    */
  def dedupGate(s: SparkSession, dir: String): DataFrame =
    dedupAvailableNow(s, graft.io.Scratch.ensureEventsLanding(dir))
      .orderBy("event_id")

  /** qs20 — gate-visible `dropDuplicatesWithinWatermark` dedup.
    * Unique gate event_ids make it provably the plain projection
    * (same argument as qs9); the DISCRIMINATING case — duplicates
    * whose event times differ inside the delay — is StreamingSpec's,
    * where plain dropDuplicates keeps both and WithinWatermark drops
    * one.
    */
  def dedupWwGate(s: SparkSession, dir: String): DataFrame =
    dedupWithinWatermarkAvailableNow(
      s, graft.io.Scratch.ensureEventsLanding(dir))
      .orderBy("event_id")

  /** qs14 — gate-visible streaming stream-static segment spend:
    * drain the events stream against the static customer dim; the
    * oracle is the plain batch join + groupBy.
    */
  def segmentSpendGate(s: SparkSession, dir: String): DataFrame =
    segmentSpendAvailableNow(s, graft.io.Scratch.ensureEventsLanding(dir),
      Tables.customer(s, dir).select("c_custkey", "c_mktsegment"))
      .orderBy("segment")

  /** qs15 — gate-visible stream-stream click→purchase attribution;
    * the oracle is the batch interval join on the same
    * micros-truncated timestamps.
    */
  def clickAttributionGate(s: SparkSession, dir: String): DataFrame =
    clickAttributionAvailableNow(s, graft.io.Scratch.ensureEventsLanding(dir))
      .orderBy("click_id", "purchase_id")
}
