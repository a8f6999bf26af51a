package graft.operators

import graft.core.Tables
import graft.functions.DocFingerprint
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cardinality SKETCHES — the 100 TB profiling story. A corpus-health
  * dashboard wants per-source distinct-token counts, but an exact
  * COUNT(DISTINCT) is a full (source, token) dedup shuffle; the
  * HyperLogLog estimate (Flajolet et al. 2007) needs 256 longs per
  * source. Spark's own approx_count_distinct is HLL++ — but its
  * register hashing isn't reproducible outside the JVM, so a DuckDB
  * oracle can't recompute it. This is a PORTABLE HLL built from the
  * repo's cross-engine fingerprint convention: every ingredient is
  * exact integer arithmetic or one dialect-shared double expression,
  * so the estimate — registers, corrections and all — is
  * bit-reproducible in both engines. The declared report (qd59) runs
  * the sketch NEXT TO the exact count, so its error is measured, not
  * asserted.
  */
object Sketch {

  /** 2⁸ = 256 registers: the 31-bit fingerprint splits into an 8-bit
    * register index (top, best-mixed bits of the multiplicative
    * hash) and a 23-bit rank field. Standard error 1.04/√256 ≈ 6.5%.
    */
  val HllRegisters = 256
  val RankWidth = 23

  /** Dialect-shared per-register geometric term 2^(24−mx) — POWER(2,k)
    * is IEEE-exact for k ∈ [1, 24] and the ≤256-term BIGINT sum stays
    * far under 2⁵³, so the register sum is exact in both engines.
    * Expects the register maximum `mx` in scope.
    */
  val hllTermSql: String =
    "CAST(POWER(2.0, CAST(24 - mx AS DOUBLE)) AS BIGINT)"

  /** Dialect-shared HLL estimator (one expression text, both
    * engines): raw E = α₂₅₆·m²·2²³⁺¹/S with α_m = 0.7213/(1+1.079/m),
    * switched to linear counting m·ln(m/V) in the small range
    * (E ≤ 2.5m and V > 0 empty registers) — the Flajolet small-range
    * correction. All inputs are exact BIGINTs (`s_total` = Σ 2^(24−M_j)
    * over all 256 registers, `zeros` = count of never-hit registers),
    * so the rounded estimate is bit-identical cross-engine. The raw-E
    * text repeats across the CASE branches — the conditional-CSE trap
    * is irrelevant at the ≤sources-row grain this evaluates on.
    */
  val hllEstSql: String =
    "CAST(FLOOR(CASE WHEN 0.7213 / (1.0 + 1.079 / 256.0) " +
      "* 65536.0 * 16777216.0 / CAST(s_total AS DOUBLE) <= 640.0 " +
      "AND zeros > 0 " +
      "THEN 256.0 * LN(256.0 / CAST(zeros AS DOUBLE)) " +
      "ELSE 0.7213 / (1.0 + 1.079 / 256.0) " +
      "* 65536.0 * 16777216.0 / CAST(s_total AS DOUBLE) END " +
      "+ 0.5) AS BIGINT)"

  /** Dialect-shared signed relative error of the estimate vs the
    * exact count, in integer micro-units (round-half-up, the qd11
    * family). Expects `hll_est`, `exact_distinct` in scope.
    */
  val hllErrSql: String =
    "CAST(FLOOR((CAST(hll_est AS DOUBLE) / CAST(exact_distinct AS DOUBLE) " +
      "- 1.0) * 1000000.0 + 0.5) AS BIGINT)"

  /** qd59 — per-(source, grain) distinct-item profile: exact count vs
    * the portable 256-register HLL estimate, with empty-register
    * count and signed relative error. Two grains per source — word
    * TOKENS (the vocabulary statistic; low-cardinality on this
    * corpus, so it exercises the linear-counting small-range path,
    * where the sketch is exact) and the qd37/qd48 3-gram SHINGLES
    * (the dedup band-index sizing statistic; ~10⁴ per source, the
    * genuine large-range estimator regime with its honest ~6.5%
    * error). The quality report for replacing exact-distinct
    * shuffles with kilobyte sketch state at 100 TB.
    *
    * Register derivation (all exact integer ops, no shared-text
    * needed): the rolling 31-bit item fingerprint is avalanched by a
    * murmur3-style 31-bit finalizer — TWO multiplicative rounds
    * (Knuth's 2654435761, lz4's 2246822519) with xorshift folds
    * (>>15, >>13) between them. One multiplicative step is NOT
    * enough: it maps near-sequential fingerprints (structured token
    * sets like w0…w499) to a low-discrepancy, over-uniform register
    * spread that inflates linear counting by 50%+ (measured;
    * Round11OpsSpec's structured-input spec holds the fixed mix to
    * ±20%). Register = h >> 23 (the well-mixed HIGH bits), rank
    * field r = h & (2²³−1), rank ρ = 24 − bitlength(r) via
    * LENGTH(BIN(r)) — BIN/LENGTH agree in Spark SQL and DuckDB.
    *
    * Scale shape: ONE tokenize pass per grain (the shingle pass is
    * [[Dedup.gramsRelational]] with source carried through its
    * existing window shuffle as payload — no doc-grain join), union
    * to one item stream → (source, grain, item) map-side-combined
    * count grain (feeding BOTH the exact count and the sketch, so
    * the comparison is one scan); register state is ≤ 256 rows ×
    * source × grain after the second map-combined aggregate — the
    * sketch path's shuffle is kilobytes regardless of corpus size.
    * A production profile (estimate only, no exact column) drops the
    * distinct grain entirely and shuffles ONLY register maxima —
    * that path is this plan minus the `tfc` exchange.
    */
  /** The portable (idx, rho) register derivation from an item column
    * — fingerprint → murmur-style avalanche → register split (see
    * [[hllProfile]]'s scaladoc for why two mix rounds are required).
    * Factored so [[hllOverlap]] sketches with bit-identical registers.
    */
  /** The 31-bit fingerprint → avalanched uniform hash `h2` ∈ [0, 2³¹)
    * — the shared front half of [[withRegisterCols]], also the
    * bottom-k sketch's rank hash (qd63/qs42).
    */
  private[operators] def withAvalanche(df: DataFrame,
                                       itemCol: String): DataFrame =
    df.withColumn("fp", DocFingerprint.of(col(itemCol)))
      .withColumn("h1", (col("fp") * lit(2654435761L)) % lit(2147483648L))
      .withColumn("ha", col("h1").bitwiseXOR(shiftright(col("h1"), 15)))
      .withColumn("h3", (col("ha") * lit(2246822519L)) % lit(2147483648L))
      .withColumn("h2", col("h3").bitwiseXOR(shiftright(col("h3"), 13)))

  private def withRegisterCols(df: DataFrame, itemCol: String): DataFrame =
    withAvalanche(df, itemCol)
      .withColumn("idx", shiftright(col("h2"), RankWidth))
      .withColumn("r", col("h2").bitwiseAND(lit((1L << RankWidth) - 1)))
      .withColumn("rho", when(col("r") === 0, lit(RankWidth + 1))
        .otherwise(lit(RankWidth + 1) - length(bin(col("r")))))

  /** Stateless (source, idx, rho) register stream at the TOKEN grain
    * — the ONE transform both qd59's batch profile (via the tf grain)
    * and qs40's STREAMING profile derive their registers from. Every
    * step is a per-row projection (tokenize → explode → fingerprint →
    * avalanche → split), so it runs unchanged on a streaming
    * DataFrame; the downstream `groupBy(source, idx).max(rho)` is the
    * register-max monoid, which is what makes the streaming state
    * BOUNDED (≤ 256 rows × source forever) where a streaming exact
    * COUNT DISTINCT would keep every token seen (the qs9 documented
    * caveat, solved the way production solves it).
    */
  def tokenRegisters(docs: DataFrame): DataFrame = {
    withRegisterCols(
      docs.where(col("text").isNotNull)
        .select(col("source"), explode(Dedup.tokens(col("text"))).as("item")),
      "item")
      .select(col("source"), col("idx"), col("rho"))
  }

  /** Estimate step over a drained register table (source, idx, mx) —
    * the batch tail of qs40's gate: fold registers to the
    * dialect-shared estimator. Output (source, hll_est, zero_regs).
    */
  def registerEstimate(regs: DataFrame): DataFrame =
    regs.groupBy("source").agg(
        sum(expr(hllTermSql)).as("s_present"),
        count(lit(1)).as("m_p"))
      .withColumn("zeros", lit(HllRegisters.toLong) - col("m_p"))
      .withColumn("s_total",
        col("s_present") + col("zeros") * lit(1L << (RankWidth + 1)))
      .withColumn("hll_est", expr(hllEstSql))
      .select(col("source"), col("hll_est"), col("zeros").as("zero_regs"))
      .orderBy("source")

  def hllProfile(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("source"), lit("token").as("grain"),
      explode(Dedup.tokens(col("text"))).as("item"))
    val grams = Dedup
      .gramsRelational(docs, "doc_id", "text", carry = Seq("source"))
      .select(col("source"), lit("shingle").as("grain"),
        col("g").as("item"))
    // two consumers (exact grain + sketch grain): localCheckpoint,
    // not persist — the flat tf grain is the pairJaccard case (the
    // columnar cache build measured slower than the checkpoint;
    // blocks free on GC, no caller reap contract)
    val tfc = toks.unionByName(grams)
      .groupBy("source", "grain", "item").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val regs = withRegisterCols(tfc, "item")
      .groupBy("source", "grain", "idx").agg(max(col("rho")).as("mx"))
    val sk = regs.groupBy("source", "grain").agg(
      sum(expr(hllTermSql)).as("s_present"),
      count(lit(1)).as("m_p"))
    val exact = tfc.groupBy("source", "grain").agg(
      sum(col("tf")).as("n_items"),
      count(lit(1)).as("exact_distinct"))
    exact.join(sk, Seq("source", "grain")) // ≤ sources × 2 rows
      .withColumn("zeros", lit(HllRegisters.toLong) - col("m_p"))
      .withColumn("s_total",
        col("s_present") + col("zeros") * lit(1L << (RankWidth + 1)))
      .withColumn("hll_est", expr(hllEstSql))
      .withColumn("err_micro", expr(hllErrSql))
      .select(col("source"), col("grain"), col("n_items"),
        col("exact_distinct"), col("hll_est"),
        col("zeros").as("zero_regs"), col("err_micro"))
      .orderBy("source", "grain")
  }

  /** qd59 declared form. */
  def hllQuery(s: SparkSession, dir: String): DataFrame =
    hllProfile(Tables.documents(s, dir))

  /** Dialect-shared jaccard estimates in integer micro-units
    * (round-half-up, the qd11 family). Expects the named inputs in
    * scope; `est_union` > 0 always (the estimator is positive), and
    * the exact union ≥ 1 for any source that shingles at all.
    */
  val jaccMicroSql: String =
    "CAST(FLOOR(CAST(exact_overlap AS DOUBLE) " +
      "/ CAST(exact_a + exact_b - exact_overlap AS DOUBLE) " +
      "* 1000000.0 + 0.5) AS BIGINT)"
  val jaccEstMicroSql: String =
    "CAST(FLOOR(CAST(est_a + est_b - est_union AS DOUBLE) " +
      "/ CAST(est_union AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"

  /** qd60 — cross-source distinct-shingle OVERLAP from HLL register
    * algebra, reported next to the exact answer. qd37 measures
    * cross-source contamination with a gram-keyed equi-join — exact,
    * but its exchange carries every (gram, source) row. HLL registers
    * are a MONOID under per-index max, so |A∪B| is estimable from the
    * two sources' 256-register vectors alone and
    * |A∩B| ≈ E(A) + E(B) − E(A∪B) (inclusion–exclusion); at 100 TB
    * the per-source sketches are kilobyte artifacts and every pairwise
    * overlap estimate costs a 256-row fold — no corpus-sized join at
    * all. The declared report runs both paths so the estimator's
    * error is measured, not asserted (est_overlap CAN go negative on
    * near-disjoint pairs — sketch noise, reported honestly as-is).
    *
    * Everything is the qd59 portable construction (same registers,
    * same dialect-shared estimator), so DuckDB reproduces the
    * estimate to the bit: per-pair union registers are
    * max(mx_a, mx_b) over a DENSE 256-index spine (zeros explicit —
    * the pair fold is an equi-join on idx, no outer-join null
    * handling), single-source estimates reuse the same dense frame.
    *
    * Scale shape: ONE shingle pass → (source, item) distinct grain,
    * localCheckpointed for its two consumers (exact leg + sketch
    * leg); the sketch side's state is sources × 256 rows after one
    * map-combined max — the pair join is report-sized (S²·256/2
    * rows, independent of corpus size). The exact leg exists only as
    * the report's truth column; the production path drops it.
    */
  def hllOverlap(docs: DataFrame): DataFrame = {
    // two consumers (exact overlap + registers): localCheckpoint, not
    // persist — the flat item grain is the pairJaccard case (blocks
    // free on GC, no caller reap contract)
    val items = Dedup
      .gramsRelational(docs, "doc_id", "text", carry = Seq("source"))
      .select(col("source"), col("g").as("item"))
      .distinct()
      .localCheckpoint()
    val exactN = items.groupBy("source").agg(count(lit(1)).as("exact_n"))
    val exactOv = items.as("x").join(items.as("y"),
        col("x.item") === col("y.item") &&
          col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("ov"))
    val spine = docs.sparkSession.range(HllRegisters.toLong)
      .select(col("id").as("idx"))
    val regs = withRegisterCols(items, "item")
      .groupBy("source", "idx").agg(max(col("rho")).cast("long").as("mx0"))
    val dense = exactN.select("source")
      .crossJoin(broadcast(spine)) // report-sized: sources × 256
      .join(regs, Seq("source", "idx"), "left")
      .withColumn("mx", coalesce(col("mx0"), lit(0L)))
      .select("source", "idx", "mx")
      .localCheckpoint() // two consumers: single ests + pair unions
    def estimate(grouped: DataFrame): DataFrame = grouped
      .withColumn("zeros", lit(HllRegisters.toLong) - col("m_nz"))
      .withColumn("s_total",
        col("s_present") + col("zeros") * lit(1L << (RankWidth + 1)))
      .withColumn("est", expr(hllEstSql))
    val est1 = estimate(dense.filter(col("mx") > 0)
        .groupBy("source").agg(
          sum(expr(hllTermSql)).as("s_present"),
          count(lit(1)).as("m_nz")))
      .select(col("source"), col("est"))
    // the pair folds and the source-pair spine are REPORT-sized
    // (S × 256 and S² rows) — broadcast them explicitly so the
    // non-equi `<` conditions plan as bounded nested loops (the qe10
    // label-matrix class), never a keyless corpus-side cartesian
    val estU = estimate(dense.as("a").join(broadcast(dense.as("b")),
        col("a.idx") === col("b.idx") &&
          col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        greatest(col("a.mx"), col("b.mx")).as("mx"))
      .filter(col("mx") > 0)
      .groupBy("src_a", "src_b").agg(
        sum(expr(hllTermSql)).as("s_present"),
        count(lit(1)).as("m_nz")))
      .select(col("src_a"), col("src_b"), col("est").as("est_union"))
    exactN.as("na").join(broadcast(exactN.as("nb")),
        col("na.source") < col("nb.source"))
      .select(col("na.source").as("src_a"), col("nb.source").as("src_b"),
        col("na.exact_n").as("exact_a"), col("nb.exact_n").as("exact_b"))
      .join(exactOv, Seq("src_a", "src_b"), "left")
      .withColumn("exact_overlap", coalesce(col("ov"), lit(0L)))
      .join(est1.select(col("source").as("src_a"), col("est").as("est_a")),
        Seq("src_a"))
      .join(est1.select(col("source").as("src_b"), col("est").as("est_b")),
        Seq("src_b"))
      .join(estU, Seq("src_a", "src_b"))
      .withColumn("est_overlap",
        (col("est_a") + col("est_b") - col("est_union")).cast("long"))
      .withColumn("jacc_micro", expr(jaccMicroSql))
      .withColumn("jacc_est_micro", expr(jaccEstMicroSql))
      .select(col("src_a"), col("src_b"), col("exact_a"), col("exact_b"),
        col("exact_overlap"), col("est_overlap"),
        col("jacc_micro"), col("jacc_est_micro"))
      .orderBy("src_a", "src_b")
  }

  /** qd60 declared form. */
  def hllOverlapQuery(s: SparkSession, dir: String): DataFrame =
    hllOverlap(Tables.documents(s, dir))

  /** qd61 — per-source length QUANTILES from a bounded log-bucket
    * histogram, reported next to the exact order statistics. An
    * exact percentile needs the sorted values (a full shuffle whose
    * state is corpus-sized); the DDSketch/HdrHistogram move replaces
    * it with a histogram over log-spaced buckets — here 8 sub-buckets
    * per octave, ALL-INTEGER (bucket = (bitlength, next-3-bits), no
    * FP log whose boundary ulps could diverge cross-engine), giving a
    * guaranteed ≤ 12.5% relative error and ≤ 8·60 bucket rows per
    * source for any BIGINT value range. Buckets merge by summing
    * counts — the same order-free-monoid property that made qs40's
    * streaming state bounded applies verbatim (this histogram IS
    * streamable / map-side combinable / shard-mergeable).
    *
    * Report per (source, percentile ∈ {50, 90, 99}): n, the exact
    * rank-k order statistic (k = ⌈p·n⌉, integer-exact — the truth
    * column the sketch replaces at scale), the bucket lower edge the
    * histogram answers with, and the signed relative error in
    * micro-units. Every ingredient is exact integer arithmetic, so
    * DuckDB reproduces the report to the bit.
    */
  /** Stateless (source, idx) log-bucket projection of `n_chars` —
    * the ONE transform qd61's batch histogram and qs43's STREAMING
    * histogram derive their buckets from (per-row shifts/bitlength
    * only, so it runs unchanged on a streaming DataFrame; the
    * downstream `groupBy(source, idx).count()` is the summable
    * histogram monoid with ≤ 8·60+1 state rows per source forever).
    *
    * Bucket index: v = 0 → 0; else e = bitlength(v)−1,
    * sub = ⌊v·8 / 2^e⌋ − 8 ∈ [0,7], idx = 8e + sub + 1.
    * Shift/bitlength only (BIN/LENGTH is the established
    * cross-engine bitlength, the qd59 rank construction); SQL-form
    * shiftright because the shift amount is a column.
    */
  def lengthBuckets(docs: DataFrame): DataFrame =
    docs.select(col("source"), when(col("n_chars") <= 0, lit(0L))
      .otherwise(expr(
        "8 * CAST(length(bin(n_chars)) - 1 AS BIGINT) + " +
          "shiftright(shiftleft(n_chars, 3), " +
          "CAST(length(bin(n_chars)) - 1 AS INT)) - 7"))
      .as("idx"))

  def quantileSketch(docs: DataFrame): DataFrame =
    quantileReport(
      lengthBuckets(docs).groupBy("source", "idx")
        .agg(count(lit(1)).as("n_in")),
      docs)

  /** The qd61 report over an EXPLICIT histogram (source, idx, n_in)
    * — shared by the batch sketch and qs43's drained streaming state:
    * per (source, percentile), the histogram's answer next to the
    * exact rank-k order statistic computed from `docs`.
    */
  def quantileReport(hist: DataFrame, docs: DataFrame): DataFrame = {
    val pcts = Seq(50, 90, 99)
    // cumulative over the ≤ buckets-per-source report grain (the
    // window partitions by source — never corpus-sized rows)
    val wcum = Window.partitionBy("source").orderBy("idx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("n_in")).over(wcum))
    val tot = docs.groupBy("source").agg(count(lit(1)).as("n"))
    // integer-exact k = ⌈p·n/100⌉ per percentile; smallest bucket
    // whose cumulative reaches k answers the query
    val ks = tot.select(col("source"), col("n"),
        explode(array(pcts.map(p => struct(lit(p).as("pct"),
          expr(s"CAST((n * $p + 99) div 100 AS BIGINT)").as("k"))): _*))
          .as("pk"))
      .select(col("source"), col("n"), col("pk.pct").as("pct"),
        col("pk.k").as("k"))
    val est = ks.join(cum, Seq("source"))
      .where(col("cum") >= col("k"))
      .groupBy("source", "n", "pct", "k").agg(min("idx").as("idx"))
      // bucket lower edge: idx ≥ 1 → e = (idx−1) div 8,
      // sub = (idx−1) mod 8, lo = ((8+sub)·2^e) div 8
      .withColumn("est_v", when(col("idx") === 0, lit(0L)).otherwise(expr(
        "shiftright(shiftleft((idx - 1) % 8 + 8, " +
          "CAST((idx - 1) div 8 AS INT)), 3)")))
    // exact rank-k order statistic: the value at position k of the
    // per-source sort — well-defined under ties regardless of their
    // permutation. THE state the sketch replaces: this side sorts
    // corpus rows, the histogram side never holds more than the
    // bucket grain.
    val ranked = docs.select(col("source"), col("n_chars").as("v"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy("v")))
    val exact = ks.as("q").join(ranked.as("r"),
        col("q.source") === col("r.source") && col("r.rn") === col("q.k"))
      .select(col("q.source").as("source"), col("q.pct").as("pct"),
        col("r.v").as("exact_v"))
    est.join(exact, Seq("source", "pct"))
      .withColumn("err_micro",
        when(col("exact_v") === 0, lit(0L)).otherwise(expr(
          "CAST(FLOOR((CAST(est_v AS DOUBLE) / CAST(exact_v AS DOUBLE) " +
            "- 1.0) * 1000000.0 + 0.5) AS BIGINT)")))
      .select(col("source"), col("pct"), col("n"),
        col("exact_v"), col("est_v"), col("err_micro"))
      .orderBy("source", "pct")
  }

  /** qd61 declared form. */
  def quantileQuery(s: SparkSession, dir: String): DataFrame =
    quantileSketch(Tables.documents(s, dir))

  // ---- count-min heavy hitters (qd62 / qs41) ---------------------

  /** Count-min geometry: 4 independent rows × 256 buckets — 1024
    * counters per (source), the third bounded-state profiling monoid
    * next to the HLL registers (qd59) and the log-bucket histogram
    * (qd61). SpaceSaving keeps O(k) state but is ORDER-DEPENDENT
    * (its summary depends on arrival order, so batch ≡ stream is
    * unprovable and no SQL oracle can recompute it); count-min
    * counters are plain sums — an order-free monoid, streamable,
    * shard-mergeable, and bit-recomputable by DuckDB. The classic
    * trade: est(item) ≥ true(item) always, with expected
    * overestimate ≤ e/width · N per row and the MIN over 4
    * independent rows driving the error toward the floor.
    */
  val CmDepth = 4
  val CmWidth = 256

  /** Per-row affine pre-mixes over the 31-bit fingerprint space
    * (mod 2147483647, the fingerprint modulus — the portablePerms
    * convention): row r hashes (fp·a + b) through the SAME two-round
    * avalanche as the HLL registers, bucket = top 8 bits. Row 0 is
    * the identity mix, so its buckets coincide with the HLL register
    * indexes — one shared derivation, spec-checkable against qd59.
    */
  val cmPerms: Seq[(Long, Long)] = Seq(
    (1L, 0L), (1299721L, 29L), (104729L, 868211L),
    (15485863L, 32452843L))

  /** The qd59 avalanche as a column function: 31-bit input → 8-bit
    * bucket (top bits of the mixed hash). Exact integer ops only.
    */
  private def avalancheBucket(mixed: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val h1 = (mixed * lit(2654435761L)) % lit(2147483648L)
    val ha = h1.bitwiseXOR(shiftright(h1, 15))
    val h3 = (ha * lit(2246822519L)) % lit(2147483648L)
    val h2 = h3.bitwiseXOR(shiftright(h3, 13))
    shiftright(h2, RankWidth)
  }

  /** The 4 (row, bucket) structs for a materialized `fp` column —
    * shared by the counter build and the estimate side so the two
    * cannot diverge. `fp` must be a materialized column, not an
    * expression (each struct references it; the array is not a
    * lambda HOF, so codegen evaluates fp once per row).
    */
  private def cmRowBuckets(): org.apache.spark.sql.Column =
    array(cmPerms.zipWithIndex.map { case ((a, b), r) =>
      struct(lit(r).as("r"),
        avalancheBucket((col("fp") * lit(a) + lit(b)) % lit(2147483647L))
          .as("b"))
    }: _*)

  /** Stateless (source, r, b) counter-event stream at the token
    * grain — the qs41 twin of [[tokenRegisters]]: every step is a
    * per-row projection (tokenize → explode → fingerprint → 4 bucket
    * rows), so it runs unchanged on a streaming DataFrame; the
    * downstream `groupBy(source, r, b).count()` is the counter-sum
    * monoid, whose streaming state is ≤ 4·256 rows per source
    * FOREVER (the qs40 boundedness argument, third member).
    */
  def tokenCmEvents(docs: DataFrame): DataFrame = {
    docs.where(col("text").isNotNull)
      .select(col("source"), explode(Dedup.tokens(col("text"))).as("item"))
      .withColumn("fp", DocFingerprint.of(col("item")))
      .select(col("source"), explode(cmRowBuckets()).as("rb"))
      .select(col("source"), col("rb.r").as("r"), col("rb.b").as("b"))
  }

  /** Fold a (source, item, tf) grain into the count-min counter
    * table (source, r, b, cnt) — ≤ 4·256 rows per source after one
    * map-side-combined aggregate, regardless of vocabulary size.
    */
  def cmCounters(tfc: DataFrame): DataFrame = {
    tfc.withColumn("fp", DocFingerprint.of(col("item")))
      .select(col("source"), col("tf"), explode(cmRowBuckets()).as("rb"))
      .groupBy(col("source"), col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(sum(col("tf")).as("cnt"))
  }

  /** Dialect-shared signed relative OVERestimate in micro-units
    * (count-min never underestimates, so this is ≥ 0). Expects
    * `cm_est`, `exact_tf` in scope.
    */
  val cmOverSql: String =
    "CAST(FLOOR((CAST(cm_est AS DOUBLE) / CAST(exact_tf AS DOUBLE) " +
      "- 1.0) * 1000000.0 + 0.5) AS BIGINT)"

  /** The heavy-hitter report over an explicit tf grain and counter
    * table — shared by qd62 (batch counters) and qs41 (counters
    * drained from the streaming aggregate): per source, the true
    * top-`k` tokens by exact count (rank ties to the lexically
    * smaller token), each with its count-min estimate
    * (min over the 4 row counters) and the signed overestimate.
    */
  def cmReport(tfc: DataFrame, counters: DataFrame, k: Int): DataFrame = {
    val top = tfc
      .withColumn("rnk", row_number().over(Window.partitionBy("source")
        .orderBy(col("tf").desc, col("item"))))
      .filter(col("rnk") <= k)
    // candidates are report-sized (k × sources); their 4 bucket rows
    // broadcast against the counter table (itself sources × 1024)
    val cand = top
      .withColumn("fp", DocFingerprint.of(col("item")))
      .select(col("source"), col("rnk"), col("item"),
        col("tf").as("exact_tf"), explode(cmRowBuckets()).as("rb"))
      .select(col("source"), col("rnk"), col("item"), col("exact_tf"),
        col("rb.r").as("r"), col("rb.b").as("b"))
    broadcast(cand).join(counters, Seq("source", "r", "b"))
      .groupBy("source", "rnk", "item", "exact_tf")
      .agg(min(col("cnt")).as("cm_est"))
      .withColumn("over_micro", expr(cmOverSql))
      .select(col("source"), col("rnk").cast("int").as("rnk"), col("item"),
        col("exact_tf"), col("cm_est"), col("over_micro"))
      .orderBy("source", "rnk")
  }

  /** qd62 — per-source heavy hitters: the true top-5 tokens (the
    * exact leg, a full (source, token) count — THE corpus-grain
    * shuffle the sketch replaces at 100 TB) reported next to their
    * count-min estimates from the 1024-counter-per-source table.
    * Like qd59/qd61, the exact leg exists as the measured truth
    * column; the production dashboard keeps only the kilobyte
    * counter state (plus a candidate tracker — at scale candidates
    * come from a previous window's report or a cheap per-partition
    * pre-top-k, not a full count).
    *
    * Scale shape: ONE tokenize pass → map-side-combined (source,
    * token, tf) grain feeding BOTH legs (localCheckpoint, the flat-
    * grain rule); the sketch side's exchange carries ≤ 4·256 rows
    * per source; the report join is broadcast × counter-table sized.
    */
  /** The batch (source, token, tf) truth grain — shared by qd62's two
    * legs and qs41's report tail (ADVICE r12: the two call sites used
    * to construct this expression independently and could diverge).
    * NOT checkpointed here: single-consumer callers (qs41) read it
    * once; qd62 checkpoints for its two legs.
    */
  def tokenTf(docs: DataFrame): DataFrame = {
    docs.where(col("text").isNotNull)
      .select(col("source"), explode(Dedup.tokens(col("text"))).as("item"))
      .groupBy("source", "item").agg(count(lit(1)).as("tf"))
  }

  def cmHeavyHitters(docs: DataFrame, k: Int = 5): DataFrame = {
    val tfc = tokenTf(docs)
      .localCheckpoint() // two consumers: counters + true-top-k legs
    cmReport(tfc, cmCounters(tfc), k)
  }

  /** qd62 declared form. */
  def cmQuery(s: SparkSession, dir: String): DataFrame =
    cmHeavyHitters(Tables.documents(s, dir))

  // ---- bottom-k sketch (qd63 / qs42) ------------------------------

  /** Bottom-k sample size: k = 16 smallest distinct hashes per
    * source. The k-th-minimum estimator's relative error is
    * ~1/√(k−2) ≈ 27% — honest and measured in the report; production
    * picks k for its error budget (k = 1024 → ~3%), the state stays
    * O(k) either way.
    */
  val BottomK = 16

  /** Dialect-shared k-th-minimum distinct estimator: hashes are
    * uniform on [0, 2³¹), so E[h_(k)] ≈ k/(n+1)·2³¹ and
    * n̂ = (k−1)·2³¹ / h_(k) (the classic bottom-k estimator, Cohen &
    * Kaplan); a source with fewer than k distinct hashes IS its
    * sample, so the "estimate" is exact there. GREATEST guards the
    * (astronomically unlikely) h_(k) = 0. Expects `n_kept`,
    * `kth_hash` in scope.
    */
  val bkEstSql: String =
    s"CAST(CASE WHEN n_kept < $BottomK THEN n_kept " +
      s"ELSE FLOOR(${BottomK - 1}.0 * 2147483648.0 " +
      "/ CAST(GREATEST(kth_hash, 1) AS DOUBLE) + 0.5) END AS BIGINT)"

  /** Dialect-shared signed relative error vs the exact count, in
    * integer micro-units. Expects `bk_est`, `exact_distinct`.
    */
  val bkErrSql: String =
    "CAST(FLOOR((CAST(bk_est AS DOUBLE) / CAST(exact_distinct AS DOUBLE) " +
      "- 1.0) * 1000000.0 + 0.5) AS BIGINT)"

  /** Stateless (source, h2) hash stream at the token grain — qs42's
    * input: per-row projections only, so it runs unchanged on a
    * streaming DataFrame. NOT de-duplicated (a streaming distinct
    * would hold every hash forever — the qs9 caveat); duplicate
    * absorption is the [[graft.functions.BottomKAggregator]] buffer's
    * job, at O(k) state.
    */
  def tokenHashEvents(docs: DataFrame): DataFrame = {
    withAvalanche(
      docs.where(col("text").isNotNull)
        .select(col("source"), explode(Dedup.tokens(col("text"))).as("item")),
      "item")
      .select(col("source"), col("h2"))
  }

  /** The (source, h2) DISTINCT avalanched-token-hash grain — the one
    * frame every bottom-k member starts from (ADVICE r12: qd63/qd64
    * used to re-inline this chain and could drift from the sample's).
    */
  private def distinctTokenHashes(docs: DataFrame): DataFrame = {
    withAvalanche(
        docs.where(col("text").isNotNull)
          .select(col("source"),
            explode(Dedup.tokens(col("text"))).as("item")),
        "item")
      .select(col("source"), col("h2")).distinct()
  }

  /** The rnk ≤ k step over a distinct-hash frame: one WindowGroupLimit
    * top-k (the qd62 plan shape: per-partition partial bottom-k BEFORE
    * the shuffle), never a full per-source sort at the executor grain.
    */
  private def sampleK(hashed: DataFrame, k: Int): DataFrame =
    hashed
      .withColumn("rnk", row_number().over(Window.partitionBy("source")
        .orderBy(col("h2"))))
      .filter(col("rnk") <= k)

  /** The per-source bottom-k hash sample: the k smallest DISTINCT
    * avalanched token hashes, ranked ascending.
    */
  def bottomkSample(docs: DataFrame, k: Int = BottomK): DataFrame =
    sampleK(distinctTokenHashes(docs), k)

  /** Fold a drained (source, h2-ascending-array) state — [[qs42]]'s
    * streaming aggregate output, or the batch sample regrouped — plus
    * the exact leg into the report: (source, n_kept, kth_hash,
    * exact_distinct, bk_est, err_micro).
    */
  def bottomkReport(sample: DataFrame, exact: DataFrame): DataFrame =
    sample.groupBy("source")
      .agg(count(lit(1)).as("n_kept"), max(col("h2")).as("kth_hash"))
      .join(exact, Seq("source"))
      .withColumn("bk_est", expr(bkEstSql))
      .withColumn("err_micro", expr(bkErrSql))
      .select(col("source"), col("n_kept"), col("kth_hash"),
        col("exact_distinct"), col("bk_est"), col("err_micro"))
      .orderBy("source")

  /** qd63 — per-source bottom-k distinct-token sketch: the k smallest
    * distinct hashes ARE a fixed-size deterministic sample (unlike
    * reservoir sampling, min-k is an order-free MONOID — merge =
    * union, take k smallest — so shards/streams/batches compose
    * provably), and the k-th minimum doubles as a distinct-count
    * estimator, reported here next to the exact count (the qd59
    * pattern; the HLL estimates cheaper at ~6.5% vs bottom-k's ~27%
    * at k=16, but the HLL keeps no exemplars). What the sample buys
    * at 100 TB: the hashes are COORDINATED across sources (same hash
    * function), so stored per-source bottom-k sketches support
    * audit-sample pulls and cross-source resemblance estimates with
    * no corpus rescan.
    *
    * Scale shape: one tokenize pass → (source, h2) distinct →
    * WindowGroupLimit bottom-k (partial top-k before the shuffle);
    * the exact leg rides the SAME distinct grain — one exchange
    * feeds both.
    */
  def bottomkProfile(docs: DataFrame, k: Int = BottomK): DataFrame = {
    val hashed = distinctTokenHashes(docs)
      .localCheckpoint() // two consumers: bottom-k + exact count
    val sample = sampleK(hashed, k)
    // exact distinct at the HASH grain — the same universe the
    // estimator lives in (fingerprint collisions are part of the
    // TOKENIZER's story, not the estimator's; both engines agree)
    val exact = hashed.groupBy("source")
      .agg(count(lit(1)).as("exact_distinct"))
    bottomkReport(sample, exact)
  }

  /** qd63 declared form. */
  def bottomkQuery(s: SparkSession, dir: String): DataFrame =
    bottomkProfile(Tables.documents(s, dir))

  /** Dialect-shared bottom-k resemblance estimate in micro-units:
    * |bk(A∪B) ∩ bk(A) ∩ bk(B)| / |bk(A∪B)| (Cohen & Kaplan's
    * coordinated-sample estimator — every member of the size-k union
    * sketch is a uniform sample of A∪B, and membership in both
    * sketches marks it as shared). `k_union` ≥ 1 whenever both
    * sources tokenize at all. Expects `shared_in_k`, `k_union`.
    */
  val bkResSql: String =
    "CAST(FLOOR(CAST(shared_in_k AS DOUBLE) / CAST(k_union AS DOUBLE) " +
      "* 1000000.0 + 0.5) AS BIGINT)"

  /** qd64 — pairwise cross-source RESEMBLANCE from the bottom-k
    * sketches alone, reported next to the exact distinct-hash
    * Jaccard (the qd60 pattern with the other sketch): because the
    * per-source samples are COORDINATED (one shared hash function),
    * bk(A∪B) is just the k smallest of bk(A) ∪ bk(B) — the monoid
    * merge — and the fraction of that union sketch present in BOTH
    * sides estimates Jaccard(A, B). This is the measured payoff of
    * qd63's coordination claim: at 100 TB every pairwise estimate
    * folds two stored k-row sketches (S²·2k report-sized work, no
    * corpus rescan); the exact equi-join leg exists only as the
    * truth column. k=16 quantizes the estimate to 1/16 steps —
    * honest and visible in the report; production picks k for its
    * resolution the same way qd63's scaladoc notes.
    */
  def bottomkResemblance(docs: DataFrame, k: Int = BottomK): DataFrame = {
    val hashed = distinctTokenHashes(docs)
      .localCheckpoint() // two consumers: sample + exact legs
    val sk = sampleK(hashed, k).select("source", "h2")
    val sizes = hashed.groupBy("source")
      .agg(count(lit(1)).as("exact_n"))
    // source-pair spine and sketch folds are REPORT-sized (S² and
    // S·k rows) — broadcast explicitly, the qd60 convention
    val spine = sizes.as("na").join(broadcast(sizes.as("nb")),
        col("na.source") < col("nb.source"))
      .select(col("na.source").as("src_a"), col("nb.source").as("src_b"),
        col("na.exact_n").as("exact_a"), col("nb.exact_n").as("exact_b"))
    val tagged = spine.select("src_a", "src_b")
      .join(broadcast(sk.withColumnRenamed("source", "src_a")), Seq("src_a"))
      .select(col("src_a"), col("src_b"), col("h2"),
        lit(1L).as("in_a"), lit(0L).as("in_b"))
      .unionAll(spine.select("src_a", "src_b")
        .join(broadcast(sk.withColumnRenamed("source", "src_b")),
          Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("h2"),
          lit(0L).as("in_a"), lit(1L).as("in_b")))
    val unionK = tagged
      .groupBy("src_a", "src_b", "h2")
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
      .withColumn("urnk", row_number().over(
        Window.partitionBy("src_a", "src_b").orderBy(col("h2"))))
      .filter(col("urnk") <= k)
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("k_union"),
        sum(col("in_a") * col("in_b")).as("shared_in_k"))
    val exactOv = hashed.as("x").join(hashed.as("y"),
        col("x.h2") === col("y.h2") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("ov"))
    spine
      .join(exactOv, Seq("src_a", "src_b"), "left")
      .withColumn("exact_overlap", coalesce(col("ov"), lit(0L)))
      .join(unionK, Seq("src_a", "src_b"))
      .withColumn("jacc_micro", expr(jaccMicroSql))
      .withColumn("jacc_est_micro", expr(bkResSql))
      .select(col("src_a"), col("src_b"), col("exact_a"), col("exact_b"),
        col("exact_overlap"), col("k_union"), col("shared_in_k"),
        col("jacc_micro"), col("jacc_est_micro"))
      .orderBy("src_a", "src_b")
  }

  /** qd64 declared form. */
  def bottomkResQuery(s: SparkSession, dir: String): DataFrame =
    bottomkResemblance(Tables.documents(s, dir))
}
