package graft.streaming

import graft.core.Tables
import graft.ingest.JsonlIngest.docStream
import graft.operators.Sketch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** qs40 — STREAMING distinct-token profile via the portable HLL:
  * documents arrive as JSONL files; each micro-batch's tokens flow
  * through the stateless register projection
  * ([[Sketch.tokenRegisters]]) into ONE streaming aggregate —
  * `groupBy(source, register).max(rank)` — whose state is ≤ 256 rows
  * per source FOREVER. This is the production answer to the caveat
  * qs9 documents (streaming exact dedup/distinct keeps every key it
  * has ever seen): the register-max monoid gives a distinct-count
  * whose state is independent of cardinality, at the measured ~6.5%
  * error qd59 quantifies. The drained register state then folds to
  * the estimate in one batch step (Spark disallows chained streaming
  * aggregates; the register table IS the streaming state a
  * production job would expose, the estimator is its read-side
  * view).
  *
  * Batch ≡ stream by the same argument as qs38: max is an order-free
  * monoid, so micro-batch boundaries cannot change the drained
  * register table — which is why the oracle (qd59's token-grain
  * register CTEs, estimate-only columns) carries over verbatim.
  */
object SketchStream {

  /** Land the corpus as JSONL in a watched folder (several part
    * files → several micro-batches under maxFilesPerTrigger = 1):
    * the sketch family's SHARED tree (round 13, VERDICT r12 #3:
    * qs40–qs43 all consume the same arrival, so four per-gate copies
    * of one identical export were pure waste). Published once per
    * corpus stamp and program ([[graft.io.ArtifactStore.publish]]):
    * the landing is the upstream producer's work, re-exported only
    * when the corpus or the program changes.
    */
  def landJsonl(s: SparkSession, dir: String): String =
    graft.io.ArtifactStore.publish(graft.io.Scratch.sketchDir(dir) + "/landing",
        dir, Seq("documents")) { landing =>
      graft.io.Writers.sink(Tables.documents(s, dir)
        .repartition(4)
        .select(to_json(struct(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))).as("value")))
        .mode("overwrite").text(landing)
    }

  /** Drain the landing folder through the streaming register
    * aggregate; return the DRAINED register table (source, idx, mx).
    */
  def streamRegisters(s: SparkSession, landing: String): DataFrame =
    Drain.memory(s, Sketch.tokenRegisters(docStream(s, landing))
      .groupBy("source", "idx").agg(max(col("rho")).as("mx")), "complete")

  /** The four drained streaming states as local frames, memoized
    * over `documents` by [[graft.io.StampMemo]] (round 13, VERDICT r12
    * #3): the family's gates all drain the same arrival, and each
    * drained state is a deterministic function of the landing (each
    * aggregate is an order-free monoid — the family's core claim,
    * spec-proved), so one shared drain serves all four read-sides.
    * On a miss the four streaming queries run CONCURRENTLY over the
    * shared landing (wall-clock ≈ one drain, and each still consumes
    * all four micro-batch files — the boundary-independence
    * conditions are unchanged). Each cached frame is a
    * [[Drain.memory]] result:
    * kilobyte-sized collected rows (≤ 4·256 per source) in a local
    * relation, backed by no RDD block, so [[graft.Session.reset]]
    * cannot invalidate it (driver caches hold collected objects or
    * parquet paths only).
    */
  private final case class Drained(hll: DataFrame, cm: DataFrame,
                                   bk: DataFrame, hist: DataFrame)

  private val drainedCache = new graft.io.StampMemo[Drained]("documents")

  private def drainedStates(s: SparkSession, dir: String): Drained =
    drainedCache(dir) {
      val landing = landJsonl(s, dir)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      // the OUTER drain scope makes the inner per-drain set/restore
      // pairs idempotent (every interleaved write is "8"): without it
      // the first-finishing future would restore the session default
      // while a sibling is still planning its first micro-batch,
      // handing that drain a 32-partition state store
      try Drain.scoped(s, Nil) {
        val fHll = Future(streamRegisters(s, landing))
        val fCm = Future(streamCmCounters(s, landing))
        val fBk = Future(streamBottomk(s, landing))
        val fHist = Future(streamLengthHist(s, landing))
        Drained(
          Await.result(fHll, Duration.Inf),
          Await.result(fCm, Duration.Inf),
          Await.result(fBk, Duration.Inf),
          Await.result(fHist, Duration.Inf))
      } finally pool.shutdown()
    }

  /** qs40's gate form: land, drain (shared across the family), fold
    * the drained register state to the estimate. The drained state
    * re-enters the plan as the cached local relation.
    */
  def hllStreamGate(s: SparkSession, dir: String): DataFrame =
    Sketch.registerEstimate(drainedStates(s, dir).hll)

  /** Drain a landing folder through the streaming count-min counter
    * aggregate; return the DRAINED counter table (source, r, b, cnt)
    * — qs41's streaming state, ≤ 4·256 rows per source forever (the
    * counter-sum monoid; [[Sketch.tokenCmEvents]]).
    */
  def streamCmCounters(s: SparkSession, landing: String): DataFrame =
    Drain.memory(s, Sketch.tokenCmEvents(docStream(s, landing))
      .groupBy("source", "r", "b").agg(count(lit(1)).as("cnt")), "complete")

  /** Drain a landing folder through the streaming TYPED bottom-k
    * aggregate ([[graft.functions.BottomKAggregator]] inside a
    * streaming `groupByKey(...).agg(...)`) — qs42's streaming state:
    * one O(k)-long buffer per source FOREVER, no matter how many
    * token occurrences stream through. Returns the drained
    * (source, h2) sample, exploded back to rows.
    */
  def streamBottomk(s: SparkSession, landing: String): DataFrame = {
    import s.implicits._
    Drain.memory(s, Sketch.tokenHashEvents(docStream(s, landing))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new graft.functions.BottomKAggregator(Sketch.BottomK)
        .toColumn.name("bk"))
      .toDF("source", "bk"), "complete")
      .select(col("source"), explode(col("bk")).as("h2"))
  }

  /** qs42 — STREAMING bottom-k sketch: min-k over a set is an
    * order-free monoid (the aggregator's merge is union + take-k),
    * so the drained sample provably equals qd63's batch bottom-k for
    * ANY micro-batch split, and qd63's oracle carries over VERBATIM.
    * The report tail (exact distinct leg + k-th-minimum estimator)
    * is the batch step every profiling gate ends with.
    */
  def bottomkStreamGate(s: SparkSession, dir: String): DataFrame = {
    val sample = drainedStates(s, dir).bk
    val exact = Sketch.tokenHashEvents(Tables.documents(s, dir))
      .distinct()
      .groupBy("source").agg(count(lit(1)).as("exact_distinct"))
    Sketch.bottomkReport(sample, exact)
  }

  /** Drain a landing folder through the streaming log-bucket
    * histogram aggregate; return the drained (source, idx, n_in)
    * state — ≤ 8·60+1 rows per source forever (the summable
    * histogram monoid; [[Sketch.lengthBuckets]]).
    */
  def streamLengthHist(s: SparkSession, landing: String): DataFrame =
    Drain.memory(s, Sketch.lengthBuckets(docStream(s, landing))
      .groupBy("source", "idx").agg(count(lit(1)).as("n_in")), "complete")

  /** qs43 — STREAMING length quantiles: bucket counts are a summable
    * order-free monoid, so the drained histogram provably equals
    * qd61's batch histogram for ANY micro-batch split and qd61's
    * oracle carries over VERBATIM — the fourth and last member of
    * the bounded-state streaming profiling tier (qs40 HLL distinct,
    * qs41 count-min frequencies, qs42 bottom-k sample, THIS
    * quantiles). The exact rank-k leg is the batch truth column, as
    * in qd61. Drained state arrives via the family's shared drain.
    */
  def quantileStreamGate(s: SparkSession, dir: String): DataFrame =
    Sketch.quantileReport(drainedStates(s, dir).hist,
      Tables.documents(s, dir))

  /** qs41 — STREAMING heavy hitters: counter sums are an order-free
    * monoid, so the drained streaming counter table provably equals
    * qd62's batch counters regardless of micro-batch boundaries, and
    * qd62's report (and its DuckDB oracle) carries over VERBATIM.
    * The report tail (true top-5 + estimate read-side) is the batch
    * step every profiling gate here ends with (qs40's estimator
    * argument) — the streaming state under test is the counters.
    * Drained state arrives via the family's shared drain (see
    * [[hllStreamGate]]).
    */
  def cmStreamGate(s: SparkSession, dir: String): DataFrame =
    Sketch.cmReport(Sketch.tokenTf(Tables.documents(s, dir)),
      drainedStates(s, dir).cm, k = 5)
}
