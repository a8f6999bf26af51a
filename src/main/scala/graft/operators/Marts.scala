package graft.operators

import graft.core.Tables
import graft.marts.RetailMarts
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's two data marts (SURVEY.md §3.3), re-expressed over
  * the shared star schema: `orders`/`lineitem` play the sales fact,
  * `customer`/`supplier`/`nation` the dimensions, and
  * substring(date,1,7) the month key; the mart rules live only in
  * [[graft.marts.RetailMarts]].
  *
  * customer mart: customer_mart_sql_tranform_write.py:9-23 — monthly
  * per-customer purchase totals with a concat'd full name (q13).
  * sales mart: sales_mart_sql_transform_write.py:8-33 — monthly
  * store×person totals + rank-1 incentive (Relational.q09; q14/qp1/qp2
  * write and read it back).
  */
object Marts {

  /** Duration of the most recent q14 partitioned write in this JVM —
    * Bench-only introspection so the disk-state-sensitive write phase
    * can be reported separately from the read-back (VERDICT r4 #3).
    */
  val lastWriteNanos = new java.util.concurrent.atomic.AtomicLong(0L)

  /** q13 — customer mart over the star schema: per-customer monthly
    * totals enriched with customer attributes (full_name concat X2,
    * month key X4, decimal money §7.4).
    */
  def customerMart(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val rows = o.join(c, o("o_custkey") === c("c_custkey"), "inner")
      .select(c("c_custkey").as("customer_id"),
        concat(c("c_name"), lit(" "), c("c_mktsegment")).as("full_name"),
        o("o_orderdate").as("date"), o("o_totalprice").as("money"))
    RetailMarts.monthlyTotals(rows, "customer_id", "full_name")
      .select(col("customer_id"), col("full_name"), col("month"),
        col("total").cast("double").as("total_sales"))
      .orderBy("customer_id", "month")
  }

  /** q14 — partitioned-write roundtrip (S6, main.py:360-365): write
    * the sales mart `partitionBy(month, store)`, read it back, and
    * return it in canonical shape. The roundtrip must hash-match the
    * never-written q09 result (oracle = q09's SQL). Exercises the
    * hive-partitioned layout that enables partition pruning on read.
    */
  def partitionedRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val mart = Relational.q09(s, dir)
    // One fixed scratch path, overwritten in place (static partition
    // overwrite truncates the previous tree) — no per-run temp dirs to
    // accumulate, and no tmp-root reaping inside a declared query
    // (VERDICT r3 #4; legacy trees are reaped by Bench/Verify setup
    // via graft.io.Scratch).
    val out = graft.io.Scratch.q14Dir
    // Cluster rows by the partition keys first: without this, every
    // task writes into every month×store directory (tasks × dirs tiny
    // files — the small-files problem at scale). With it, each
    // directory gets one file.
    val t0 = System.nanoTime()
    graft.io.Writers.writePartitioned(mart, out, Seq("month", "store"))
    lastWriteNanos.set(System.nanoTime() - t0)
    s.read.parquet(out)
      .select(col("store").cast("int").as("store"), col("person"),
        col("month"), col("total"), col("incentive"))
      .orderBy("store", "month", "person")
  }

  /** Publish the q09 mart in the same hive `month`/`store` layout q14
    * writes, once per stamp of q09's four source tables and program
    * ([[graft.io.ArtifactStore.publish]]); returns its path. The write
    * is one-time setup (the measured write cost is q14's job); qp1
    * itself measures the PRUNED READ.
    */
  def ensurePartitionedMart(s: SparkSession, dir: String): String =
    graft.io.ArtifactStore.publish(graft.io.Scratch.qp1Dir(dir) + "/mart",
        dir, Seq("lineitem", "orders", "supplier", "nation")) { out =>
      graft.io.Writers.writePartitioned(Relational.q09(s, dir), out,
        Seq("month", "store"))
    }

  /** qp1 — partition-pruned read: the payoff of S6's hive layout
    * (reference main.py:360-365 partitions the mart precisely so
    * downstream reads can prune). Predicates sit ONLY on the partition
    * columns, so Catalyst resolves them against directory names at
    * planning time (PartitionFilters) and the scan never opens the
    * other ~97% of files (one year x five stores ~ 60 of ~2000 dirs
    * at sf0.1) — the I/O shape that makes a partitioned layout worth
    * its write cost at 100 TB. PlanSpec pins the non-empty
    * PartitionFilters and the pruned file count; the oracle is q09's
    * SQL plus the same WHERE.
    */
  def prunedMartRead(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(ensurePartitionedMart(s, dir))
      .filter(col("month") >= "1996-01" && col("month") < "1997-01" &&
        col("store") < 5)
      .select(col("store").cast("int").as("store"), col("person"),
        col("month"), col("total"), col("incentive"))
      .orderBy("store", "month", "person")

  /** qp2 — DYNAMIC partition pruning: qp1 proves static pruning
    * (literal predicates on partition columns); this is the other
    * half — the pruning predicate is only knowable at RUNTIME because
    * it arrives through a join. The mart is partitioned by store, the
    * query joins store = n_nationkey against nation filtered to one
    * region (5 of 25 nations), and no literal store predicate exists
    * anywhere: Catalyst's DynamicPartitionPruning rule reuses the
    * dim side's broadcast as a subquery filter inside the scan's
    * PartitionFilters, so the fact scan opens only the ~20% of
    * store=... directories that can survive the join. At 100 TB this
    * is THE mechanism that makes "fact JOIN filtered dim" queries
    * read less than the whole fact table when the filter column
    * isn't a partition key itself. PlanSpec pins the dynamicpruning
    * expression in the scan and the pruned partition count; the
    * oracle is q09's SQL joined to the same filtered dim.
    */
  def dppMartRead(s: SparkSession, dir: String): DataFrame = {
    val mart = s.read.parquet(ensurePartitionedMart(s, dir))
    val dim = graft.core.Tables.nation(s, dir)
      .filter(col("n_regionkey") === 1)
      .select(col("n_nationkey"), col("n_name").as("nation"))
    mart.join(dim, mart("store") === dim("n_nationkey"))
      .select(col("store").cast("int").as("store"), col("nation"),
        col("person"), col("month"), col("total"), col("incentive"))
      .orderBy("store", "month", "person")
  }

  /** qp3 — runtime BLOOM-FILTER join pruning: the shuffle-join
    * counterpart of qp2's partition pruning. A selective dim filter
    * (one brand, ~4% of parts) can't prune the fact side's FILES
    * (l_partkey isn't a partition key), but Catalyst's
    * InjectRuntimeFilter can build a bloom filter over the filtered
    * dim's join keys and evaluate `bloom_filter_might_contain` at the
    * fact SCAN — ~96% of lineitem rows die before the exchange
    * instead of after it. At 100 TB this is the difference between
    * shuffling the whole fact table and shuffling the matching 4%;
    * with broadcast disabled (the big-big join shape this models) it
    * is the only pre-shuffle kill available.
    *
    * Scoped-conf mechanics: the injection rule reads its thresholds
    * at OPTIMIZATION time, which for a lazily-returned frame happens
    * after this function restores the session confs — so the result
    * is materialized eagerly (localCheckpoint) while the scope holds,
    * the same in-scope-materialization discipline as the streaming
    * gates (their micro-batches drain inside their conf scope). The
    * applicationSide threshold is lowered because the rule demands a
    * ≥ 10 GB fact scan before it bothers — the gate corpus is smaller,
    * the plan shape is what's declared; creation-side threshold is
    * untouched (the filtered dim must genuinely be small, and is).
    * Broadcast is disabled inside the scope only, to pin the
    * shuffle-join shape the operator exists for.
    */
  def bloomJoinRead(s: SparkSession, dir: String): DataFrame =
    withBloomConfs(s) {
      val out = bloomJoinPlan(s, dir).localCheckpoint(true)
      // bound the block-manager footprint to ONE checkpoint snapshot
      // across repeated invocations (Bench runs 3×) — the previous
      // result is consumed by then (same discipline as Similarity's
      // parity base, ADVICE r5); RDD-level unpersist because a
      // checkpointed frame's blocks bypass the CacheManager
      Option(lastBloomCheckpoint.getAndSet(out)).filter(_ ne out)
        .foreach(Dedup.unpersistCheckpointed)
      out
    }

  private val lastBloomCheckpoint =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  /** The unmaterialized qp3 frame — [[bloomJoinRead]] checkpoints it
    * inside the conf scope; PlanSpec optimizes it inside the same
    * scope to pin the injected `bloom_filter_might_contain`.
    */
  def bloomJoinPlan(s: SparkSession, dir: String): DataFrame = {
    val part = graft.core.Tables.part(s, dir)
      .filter(col("p_brand") === "Brand#12")
    val li = graft.core.Tables.lineitem(s, dir)
    li.join(part, li("l_partkey") === part("p_partkey"))
      .groupBy(col("p_partkey"))
      .agg(count(lit(1)).as("n_items"),
        graft.core.Fns.moneySum(col("l_quantity")).cast("double")
          .as("sum_qty"),
        graft.core.Fns.moneySum(col("l_extendedprice")).cast("double")
          .as("total_price"))
      .orderBy("p_partkey")
  }

  /** qp4 — small-file COMPACTION roundtrip: the layout-maintenance
    * job every partitioned data lake runs. Phase 1 deliberately
    * fragments the events table into a many-small-files hive layout
    * (64 writer tasks × 5 event_type dirs — the shape an unbatched
    * streaming ingest leaves behind); phase 2 compacts it with the
    * cluster-by-partition-keys write ([[graft.io.Writers.writePartitioned]]
    * with one writer task per target file), landing on ONE file per
    * directory. The declared result is the read-back of the COMPACTED
    * tree — hash-equal to the never-written projection (the oracle),
    * proving compaction is a pure layout change. File counts
    * (64×dirs → 1×dirs) are pinned in PipelineSpec, and at 100 TB
    * the same two-phase shape runs per-partition-subtree as a rolling
    * maintenance job (the small-files problem is a metadata+open-cost
    * tax on every subsequent scan — the reason this op exists).
    *
    * `ts` is excluded: the source column is nanos parquet, and a
    * write would silently micros-truncate it — the projection keeps
    * the roundtrip type-exact.
    */
  def compactionRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = graft.io.Scratch.qp4Dir(dir)
    val frag = s"$root/fragmented"
    val compact = s"$root/compacted"
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("user_id"),
        col("value"))
    // phase 1: the pathological layout — every writer task touches
    // every partition dir (round-robin repartition spreads rows
    // arbitrarily), yielding tasks×dirs files
    graft.io.Writers.sink(ev.repartition(64)).mode("overwrite")
      .partitionBy("event_type").parquet(frag)
    // phase 2: compact = re-cluster by the partition keys, one writer
    // per directory
    graft.io.Writers.writePartitioned(
      s.read.parquet(frag), compact, Seq("event_type"), numTasks = 5)
    s.read.parquet(compact)
      .select(col("event_id"), col("event_type"), col("user_id"),
        col("value"))
      .orderBy("event_id")
  }

  /** qp3's conf scope (see [[bloomJoinRead]] for why each key). */
  def withBloomConfs[A](s: SparkSession)(body: => A): A =
    graft.Session.withConfs(s, Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1"))(body)

  /** qp5 — Z-ORDER clustered layout + 2-D box read: lineitem written
    * along the Morton curve of (l_partkey, l_suppkey)
    * ([[graft.io.ZOrder.writeZOrdered]]), read back under a box
    * predicate on both keys. Each file holds a contiguous curve
    * segment = a compact rectangle of the key space, so the file- and
    * row-group-level min/max stats kill most of the layout before any
    * row is materialized (ZOrderSpec counts it: the same box
    * intersects ~every file of an orderkey-sorted layout). Content is
    * layout-invariant — the oracle is the plain filter on the source
    * table — while the gate's hash ALSO proves the clustered write
    * lost/duplicated nothing.
    *
    * Scale: the one-time clustering cost is a single range exchange;
    * every subsequent 2-D selective read prunes to ~√selectivity of
    * the files. The read-side filter is pushed to parquet
    * (PushedFilters pinned in PlanSpec), so pruning happens in the
    * scan, not in Spark.
    */
  def zorderBoxRead(s: SparkSession, dir: String): DataFrame = {
    val root = graft.io.Scratch.qp5Dir(dir)
    val li = Tables.lineitem(s, dir).select("l_orderkey", "l_linenumber",
      "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")
    graft.io.ZOrder.writeZOrdered(li, "l_partkey", "l_suppkey", root,
      numFiles = 16)
    s.read.parquet(root)
      // box bounds live inside EVERY sf's key range (sf0.001 tops out
      // at partkey 199 / suppkey 9) so the gate never goes vacuous
      .filter(col("l_partkey").between(100, 199) &&
        col("l_suppkey").between(1, 4))
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic
      // data — sort on every output column so ties can't reorder
      // non-identical rows between engines
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice")
  }

  /** qp8 — DYNAMIC partition overwrite: the incremental-mart-refresh
    * contract. A nightly pipeline recomputes only the partitions a new
    * batch touches; `partitionOverwriteMode=dynamic` makes an
    * overwrite-mode write replace EXACTLY the partitions present in
    * the written frame and leave every other partition's files
    * untouched — where static mode (the default, and what a naive
    * "overwrite" means) would truncate the whole table first. At
    * 100 TB this is the difference between rewriting 3 store
    * partitions and rewriting all of them.
    *
    * The gate proves the semantic end to end: v1 writes a PRE-CUTOFF
    * snapshot of the store×month sales mart for all stores; the
    * refresh batch holds FULL-history rows for stores 1–3 only and is
    * written overwrite+dynamic; the read-back must show full history
    * exactly for stores 1–3 and the old snapshot everywhere else —
    * rows only a correct partial replace can produce (a static
    * overwrite loses the other stores entirely; an append duplicates
    * stores 1–3). The conf is scoped-and-restored (the qp3
    * discipline). Both writes cluster by the partition key first
    * (one writer per directory — the q14 small-files rule).
    */
  def dynamicOverwriteRefresh(s: SparkSession, dir: String): DataFrame = {
    val root = graft.io.Scratch.qp8Dir(dir)
    def mart(pre: DataFrame => DataFrame): DataFrame = {
      val l = Tables.lineitem(s, dir)
      val o = pre(Tables.orders(s, dir))
      val sup = Tables.supplier(s, dir)
      val n = Tables.nation(s, dir)
      val rows = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(sup, l("l_suppkey") === sup("s_suppkey"))
        .join(n, sup("s_nationkey") === n("n_nationkey"))
        .select(n("n_nationkey").as("store"), o("o_orderdate").as("date"),
          l("l_extendedprice").as("money"))
      RetailMarts.monthlyTotals(rows, "store")
        .select(col("store"), col("month"), col("total").as("total_dec"))
    }
    // v1: the old snapshot — everything before the cutoff, every store
    graft.io.Writers.writePartitioned(
      mart(_.filter(col("o_orderdate") < to_timestamp(lit("1997-01-01")))),
      root, Seq("store"))
    // v2: the refresh batch — full history, stores 1-3 only; dynamic
    // mode replaces exactly those three partitions
    graft.Session.withConfs(s,
      Seq("spark.sql.sources.partitionOverwriteMode" -> "dynamic")) {
      graft.io.Writers.writePartitioned(
        mart(identity).filter(col("store").isin(1, 2, 3)),
        root, Seq("store"))
    }
    s.read.parquet(root)
      .select(col("store").cast("int").as("store"), col("month"),
        col("total_dec").cast("double").as("total"))
      .orderBy("store", "month")
  }
}
