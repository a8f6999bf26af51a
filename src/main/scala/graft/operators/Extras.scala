package graft.operators

import graft.core.{Fns, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational operators beyond the reference's surface (SURVEY.md §2
  * explicitly lists these as absent there): outer/semi/anti joins,
  * rollup/cube grouping sets, and intersect/except set ops. Included
  * so a user of this engine has the full relational vocabulary, each
  * oracle-backed.
  *
  * Null-ordering note: Spark sorts NULLS FIRST ascending by default,
  * DuckDB NULLS LAST — every oracle ORDER BY pins NULLS FIRST.
  */
object Extras {

  /** Left outer join: customers with and without orders; unmatched
    * rows keep NULL aggregates.
    */
  def leftJoinOrders(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val agg = Tables.orders(s, dir)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        Fns.moneySum(col("o_totalprice")).cast("double").as("total"))
    c.join(agg, c("c_custkey") === agg("o_custkey"), "left")
      .select(c("c_custkey"), col("n_orders"), col("total"))
      .orderBy("c_custkey")
  }

  /** Left semi join: customers that have at least one order. */
  def semiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Left anti join: customers that never placed a 400k+ order (the
    * plain "no orders at all" variant is empty on this corpus, which
    * would make the oracle check vacuous).
    */
  def antiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val big = Tables.orders(s, dir).filter(col("o_totalprice") > 400000)
    c.join(big, c("c_custkey") === big("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Rollup: order totals by (status, priority) with subtotals and a
    * grand total.
    */
  def rollupStatus(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"),
        Fns.moneySum(col("o_totalprice")).cast("double").as("total"))
      .orderBy(asc_nulls_first("o_orderstatus"),
        asc_nulls_first("o_orderpriority"))

  /** Cube over the same keys: all grouping-set combinations. */
  def cubeStatus(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("o_orderstatus"),
        asc_nulls_first("o_orderpriority"))

  /** Intersect: nations that have both customers and suppliers. */
  def intersectNations(s: SparkSession, dir: String): DataFrame = {
    val cn = Tables.customer(s, dir).select(col("c_nationkey").as("nk"))
    val sn = Tables.supplier(s, dir).select(col("s_nationkey").as("nk"))
    cn.intersect(sn).orderBy("nk")
  }

  /** Except: nations with customers but no high-balance supplier
    * (unfiltered it is empty on this corpus — vacuous oracle).
    */
  def exceptNations(s: SparkSession, dir: String): DataFrame = {
    val cn = Tables.customer(s, dir).select(col("c_nationkey").as("nk"))
    val sn = Tables.supplier(s, dir).filter(col("s_acctbal") > 8000)
      .select(col("s_nationkey").as("nk"))
    cn.except(sn).orderBy("nk")
  }

  /** qx12 — skew-salted join: enrich every event with its user's
    * total spend through [[Salting.saltedInnerJoin]] (saltFactor 8).
    * events.user_id is Zipf-ish, so the hot users that would pile one
    * shuffle partition high spread across 8 salted partitions instead;
    * the per-user totals side is replicated 8x (bounded — it is the
    * small side). The result provably equals the unsalted join: the
    * oracle IS the plain join SQL. PlanSpec pins the salt expansion.
    */
  def saltedEnrich(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select("event_id", "user_id")
    val totals = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(Fns.moneySum(col("value")).cast("double").as("user_total"))
    Salting.saltedInnerJoin(ev, totals, "user_id", saltFactor = 8)
      .select("event_id", "user_id", "user_total")
      .orderBy("event_id")
  }

  /** qx13 — bucketed co-located join, the batch-layout answer to "the
    * same join runs every day at 100 TB": orders and customer are
    * written ONCE as 8-bucket tables on the join key, so the join
    * needs no Exchange at all — both sides' bucketing already
    * satisfies the join's distribution requirement (the shuffle was
    * paid at layout time, never again per query). The merge hint
    * keeps the plan a sort-merge join at every SF (a broadcast pick
    * would hide the property being demonstrated); PlanSpec pins the
    * exchange-free shape. Oracle = q03's plain-join SQL verbatim.
    */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (oTab, cTab) = ensureBucketedTables(s, dir)
    val o = s.table(oTab)
    val c = s.table(cTab)
    o.hint("merge").join(c, o("o_custkey") === c("c_custkey"))
      .select(o("o_orderkey"), c("c_name"), o("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** Lay down (once per session and source key) and name the
    * 8-bucket orders / customer tables qx13 and qp7 read — returns
    * (ordersTable, customerTable). The catalog records each table's
    * path, so the tables are not renamed into place like a published
    * tree: their names and paths carry the source key
    * ([[graft.io.ArtifactStore.sourceKey]]) instead, and the session
    * catalog is the record of what was written.
    */
  def ensureBucketedTables(s: SparkSession, dir: String): (String, String) = {
    // hex hash keeps the table name injective per exact dir string —
    // sanitizing alone collapses '.' and '-' to '_', which would let
    // two different sf dirs share (and silently re-point) one table
    val key = graft.io.ArtifactStore.sourceKey(dir, Seq("orders", "customer"))
    val suffix = dir.replaceAll("[^A-Za-z0-9_]", "_") + "_" +
      java.lang.Integer.toHexString(dir.hashCode) + "_" + key
    val root = graft.io.Scratch.qx13Dir(dir) + "/" + key
    val oTab = s"graft_orders_b$suffix"
    val cTab = s"graft_customer_b$suffix"
    // a partial write (orders only) leaves cTab absent: both retry
    if (!s.catalog.tableExists(oTab) || !s.catalog.tableExists(cTab)) {
      graft.io.Bucketing.writeBucketed(
        Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_totalprice"),
        oTab, "o_custkey", buckets = 8, path = Some(s"$root/orders"))
      graft.io.Bucketing.writeBucketed(
        Tables.customer(s, dir).select("c_custkey", "c_name"),
        cTab, "c_custkey", buckets = 8, path = Some(s"$root/customer"))
    }
    (oTab, cTab)
  }

  /** qx27 — declarative data-quality CONSTRAINT suite (the
    * Deequ/dbt-test capability): six rules over the star schema —
    * uniqueness, non-null, value range, and two referential checks —
    * evaluated as per-table conditional AGGREGATES plus anti-join
    * counts, reported one row per rule with its violation count and
    * verdict. The point of the shape: a naive checker runs one job
    * per rule (6 table scans); here each table contributes ONE pass
    * (the three orders rules share a single aggregate) and the
    * referential rules are null-safe anti-joins — at 100 TB the suite
    * costs two fact scans + two dim joins, not six scans. All-pass on
    * the gate corpus is itself the assertion: the generator keeps
    * referential integrity, and the oracle recomputes every count.
    */
  def qualityChecks(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir)
    val c = Tables.customer(s, dir)
    val oAgg = o.agg(
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v1"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("v2"),
      sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L)).as("v3"))
    val refO = o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("v4"))
    val lAgg = l.agg(
      sum(when(col("l_quantity") < 1.0 || col("l_quantity") > 60.0, 1L)
        .otherwise(0L)).as("v5"))
    val refL = l.join(o, l("l_orderkey") === o("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("v6"))
    val rules = Seq(
      ("orders.o_orderkey is unique", "v1"),
      ("orders.o_custkey is non-null", "v2"),
      ("orders.o_totalprice is positive", "v3"),
      ("orders.o_custkey references customer", "v4"),
      ("lineitem.l_quantity in [1, 60]", "v5"),
      ("lineitem.l_orderkey references orders", "v6"))
    oAgg.crossJoin(refO).crossJoin(lAgg).crossJoin(refL)
      .select(explode(array(rules.map { case (name, v) =>
        struct(lit(name).as("rule"), col(v).as("violations"))
      }: _*)).as("r"))
      .select(col("r.rule").as("rule"),
        col("r.violations").as("violations"))
      .withColumn("pass", col("violations") === 0L)
      .orderBy("rule")
  }

  /** qx26 — nested-data ROUND-TRIP: denormalize lineitem into one
    * array-of-structs row per order (the export shape every
    * JSON/protobuf feed wants), then renormalize with explode and
    * prove the flat projection survives bit-for-bit. The reference's
    * dataflow is flat-relational only (SURVEY §1.4); this extends the
    * engine to the nested column types a real lake carries. The
    * in-array order is pinned by array_sort over the full struct
    * (collect_list order is shuffle-dependent — unsorted arrays would
    * be nondeterministic), which is also why the oracle can be the
    * plain flat projection: a correct round-trip is INVISIBLE.
    *
    * Scale shape: one groupBy(order) exchange to build the nests, one
    * map-only Generate to flatten; the struct payload rides the
    * shuffle once.
    */
  def nestedRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_linenumber", "l_quantity")
    val nested = li.groupBy("l_orderkey")
      .agg(array_sort(collect_list(
        struct(col("l_linenumber"), col("l_quantity")))).as("lines"))
    nested
      .select(col("l_orderkey"), explode(col("lines")).as("ln"))
      .select(col("l_orderkey"),
        col("ln.l_linenumber").as("l_linenumber"),
        col("ln.l_quantity").as("l_quantity"))
      // (l_orderkey, l_linenumber) is not unique in the synthetic
      // data — order by every column (the qp5 rule)
      .orderBy("l_orderkey", "l_linenumber", "l_quantity")
  }

  /** qp7 — BUCKET-pruned read: an equality/IN predicate on the bucket
    * column lets the scan skip every file of every non-matching
    * bucket BEFORE reading a byte — the layout-level complement to
    * qp1's partition pruning (directory skip) and qp5's Z-order
    * min/max skip (statistics skip): bucketing prunes by HASH, so it
    * works on high-cardinality keys no directory layout could hold.
    * Here 3 customer keys hash into ≤3 of 8 buckets, so ≥5/8 of the
    * table's files never open (the plan's SelectedBucketsCount;
    * PlanSpec pins it). At 100 TB this is the point-lookup path on a
    * bucketed fact table: per-key cost is 1/buckets of the table,
    * independent of table growth — and the same layout qx13 already
    * paid for serves both the co-located join and the pruned lookup.
    */
  def bucketPrunedRead(s: SparkSession, dir: String): DataFrame = {
    val (oTab, _) = ensureBucketedTables(s, dir)
    s.table(oTab)
      .filter(col("o_custkey").isin(1L, 2L, 3L))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(o_totalprice AS DECIMAL(18,2))")).as("_dec"))
      .select(col("o_custkey"), col("n_orders"),
        col("_dec").cast("double").as("total_spend"))
      .orderBy("o_custkey")
  }

  /** qx18 — EXPLICIT grouping sets with grouping_id(): the general
    * form behind qx4's rollup and qx5's cube — two independent
    * one-dimension aggregates plus the grand total in a single pass
    * (an Expand of 3 projections feeding one partial+final
    * aggregate), where computing them separately would scan orders
    * three times. grouping_id() (bit per column, 1 = aggregated-out)
    * disambiguates a NULL group key from an aggregated-out one; both
    * engines use the same bit convention (leftmost column = MSB).
    */
  def groupingSetsAgg(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n"),
        Fns.moneySum(col("o_totalprice")).cast("double").as("total"))
      .select("o_orderstatus", "o_orderpriority", "gid", "n", "total")
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** qx16 — the SQL surface: ONE ANSI SQL string planned by Spark's
    * parser over temp views AND run verbatim by DuckDB as its own
    * oracle. Every other declared query proves the DataFrame/Dataset
    * API; this one proves a reference user who writes SQL (the
    * reference drives its marts with spark.sql — SURVEY §2 P7/X4)
    * can hand the exact same text to this engine. The statement
    * deliberately crosses the dialect-risk spots our oracles usually
    * translate: decimal money sums, substring-over-cast month keys,
    * a rank window, and multi-join grouping — written once in the
    * common dialect.
    *
    * Catalyst plans it identically to the equivalent DataFrame
    * chain (same optimizer, same codegen), so the scale properties
    * are q06/q09's: dims broadcast under AQE, partial+final
    * aggregation, one shuffle on the group keys.
    */
  val sqlMartText: String =
    """WITH m AS (
      |  SELECT n.n_name AS nation,
      |    substring(CAST(CAST(o.o_orderdate AS DATE) AS STRING), 1, 7) AS month,
      |    count(*) AS n_orders,
      |    CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  GROUP BY 1, 2)
      |SELECT nation, month, n_orders, revenue,
      |  CAST(rank() OVER (PARTITION BY nation ORDER BY revenue DESC, month) AS INTEGER)
      |    AS rev_rank
      |FROM m
      |ORDER BY nation, month""".stripMargin

  def sqlMart(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    Tables.nation(s, dir).createOrReplaceTempView("nation")
    s.sql(sqlMartText)
  }

  /** qx29's declared text: the edit-distance near-dup join as ONE
    * ANSI-ish SQL string with the UNBOUNDED `levenshtein(a,b) <= 12`
    * predicate a SQL author would write — the
    * [[graft.plans.BandedLevenshteinRewrite]] optimizer rule (shipped
    * via GraftExtensions) turns it into the banded O(k·n) DP; the
    * author never learns the threshold form exists. Candidates come
    * from the same length-bucket neighbourhood as qd67, expressed
    * through LATERAL VIEW explode so the join stays an equi-join on
    * the bucket key (an `IN (b-1,b,b+1)` condition would plan as a
    * nested loop), and both prune signatures ride injected catalog
    * functions — `char_hist` builds the 37-bin histogram in one
    * codegen byte scan (the `transform(..., c -> length - replace)`
    * HOF it replaced was a CodegenFallback doing 37 replace-scans per
    * row, the last interpreted HOF on a gated hot path; VERDICT r13),
    * and `hist_l1` folds the L1 prune. One string, all three rungs
    * (rule + two functions): the user writes standard SQL plus two
    * catalog functions and gets qd67's plan economics (measured:
    * 9.9 s med without the prune, ~3 s with). PlanSpec pins the
    * rewritten Some(12) form; BandedLevRuleSpec pins the rule's
    * operator-by-operator semantics and qx29 ≡ qd67.
    */
  private val editSqlText: String =
    """WITH h AS (
      |  SELECT doc_id, text, length(text) AS len,
      |    length(text) DIV 16 AS bkt, char_hist(text) AS hist
      |  FROM documents),
      |e AS (
      |  SELECT doc_id, text, len, hist, nb
      |  FROM h LATERAL VIEW explode(array(bkt - 1, bkt, bkt + 1)) t AS nb)
      |SELECT a.doc_id AS doc_a, e.doc_id AS doc_b,
      |  CAST(levenshtein(a.text, e.text) AS INT) AS edit_dist
      |FROM h a JOIN e ON a.bkt = e.nb
      |  AND a.doc_id < e.doc_id
      |  AND abs(a.len - e.len) <= 12
      |  AND hist_l1(a.hist, e.hist) <= 24
      |  AND levenshtein(a.text, e.text) <= 12
      |ORDER BY doc_a, doc_b""".stripMargin

  def editSqlSurface(s: SparkSession, dir: String): DataFrame = {
    // char_hist and hist_l1 resolve through the session's
    // GraftExtensions (graft.Session installs it)
    Tables.documents(s, dir).createOrReplaceTempView("documents")
    s.sql(editSqlText)
  }

  /** qx20 — schema-evolution read: two parquet "eras" of the same
    * table written with DIFFERENT schemas (era 1 carries
    * o_totalprice, era 2 o_orderstatus — the column drift every
    * long-lived 100 TB lake accumulates), read back as ONE frame with
    * `mergeSchema`. Spark merges the footers into the union schema
    * and fills each file's missing columns with NULL — no rewrite of
    * historical data, which is the entire point at scale: the
    * alternative is recopying every era on every schema change.
    * (mergeSchema reads one footer per file at planning; production
    * keeps it off and pins the merged schema explicitly — the read
    * itself is identical.) Oracle: the same union-by-name, expressed
    * as per-era CASE projections over the source table. The eras are
    * setup, published once per orders stamp and program
    * ([[graft.io.ArtifactStore.publish]]); the query measures the
    * merged READ.
    */
  def schemaMergeRead(s: SparkSession, dir: String): DataFrame = {
    val root = graft.io.ArtifactStore.publish(
        graft.io.Scratch.qx20Dir(dir) + "/eras", dir, Seq("orders")) { out =>
      val o = Tables.orders(s, dir)
      graft.io.Writers.sink(o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice"))
        .mode("overwrite").parquet(s"$out/era1")
      graft.io.Writers.sink(o.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_orderstatus"))
        .mode("overwrite").parquet(s"$out/era2")
    }
    s.read.option("mergeSchema", "true").parquet(s"$root/era1", s"$root/era2")
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .orderBy("o_orderkey")
  }

  /** qx28 — ORC sink/source roundtrip: the SECOND columnar format
    * (Spark ships the ORC datasource in-box) through the exact scan
    * contracts the parquet tier is held to — the read-back filter
    * reaches the OrcScan as PushedFilters and the projection prunes
    * ReadSchema to the three referenced columns (PlanSpec pins both).
    * The documents table routes to ORC once per (sf, corpus stamp,
    * program) through [[orcDocuments]], then the declared query
    * reads ONLY the ORC tree: per-source doc counts and char sums
    * over the n_chars >= 200 slice. The oracle recomputes from the
    * parquet source, so the roundtrip must be lossless for every
    * type it carries (strings with full Unicode, BIGINTs).
    *
    * At scale this is the mart-interchange story: a warehouse whose
    * downstream reads ORC gets the same pushdown/pruning economics
    * as the parquet path, from the same declarative plan.
    */
  def orcRoundtrip(s: SparkSession, dir: String): DataFrame =
    s.read.orc(orcDocuments(s, dir))
      .filter(col("n_chars") >= 200)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        min("doc_id").as("first_doc"))
      .orderBy("source")

  /** The documents table as ORC, published once per corpus stamp and
    * program ([[graft.io.ArtifactStore.publish]]); returns its path.
    */
  private[graft] def orcDocuments(s: SparkSession, dir: String): String =
    graft.io.ArtifactStore.publish(graft.io.Scratch.qx28Dir(dir) + "/documents_orc",
        dir, Seq("documents")) { target =>
      graft.io.Writers.sink(Tables.documents(s, dir)).mode("overwrite").orc(target)
    }

  /** qx21 — NULL-SAFE equi-join (`<=>` / IS NOT DISTINCT FROM): the
    * join trap every warehouse hits — plain `=` silently DROPS rows
    * whose key is NULL (NULL = NULL is not true), so two aggregates
    * of the same table stop reconciling the moment a key is nullable.
    * Here both sides group orders by a nullable status key ('P'
    * masked to NULL, the "unknown status" shape); the null-safe
    * condition keeps the NULL group matched. Catalyst plans `<=>` as
    * a HASHABLE join key (EqualNullSafe is part of the equi-join key
    * extraction) — this stays a broadcast/shuffled HASH join, never
    * the nested-loop a non-equi condition would force, which is why
    * it is safe at any scale. PlanSpec pins the hash join.
    */
  def nullSafeJoin(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    def keyed(df: DataFrame): org.apache.spark.sql.RelationalGroupedDataset =
      df.groupBy(when(col("o_orderstatus") === "P", lit(null))
        .otherwise(col("o_orderstatus")).as("k"))
    val all = keyed(o).agg(count(lit(1)).as("n_all"))
    val big = keyed(o.filter(col("o_totalprice") > 200000))
      .agg(count(lit(1)).as("n_big"))
    all.join(big, all("k") <=> big("k"), "left")
      .select(all("k").as("status_key"), col("n_all"), col("n_big"))
      .orderBy(asc_nulls_first("status_key"))
  }

  /** qx19 — CORRELATED scalar subqueries, the SQL shape analysts
    * write first ("for each customer, how many big orders / the
    * biggest one"). Naively this is one subquery execution per outer
    * row — O(customers × orders) at scale. Catalyst's
    * RewriteCorrelatedScalarSubquery decorrelates both subqueries
    * into ONE aggregate over orders plus left-outer joins, so the
    * plan is the qx1 shape regardless of how the user phrased it —
    * that rewrite is what makes the phrasing survive 100 TB. The
    * filter empties 202 customers' groups, exercising the two
    * decorrelation edge cases: COUNT over an empty group must
    * resurface as 0 (the "COUNT bug" — a bare outer join would leave
    * NULL), while MAX stays NULL. Oracle: DuckDB runs the same text
    * verbatim (its own decorrelation produces the same values by
    * definition of the subquery semantics).
    */
  val corrSubqueryText: String =
    """SELECT c.c_custkey, c.c_name,
      |  (SELECT count(*) FROM orders o
      |   WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
      |    AS n_big,
      |  (SELECT max(o.o_totalprice) FROM orders o
      |   WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
      |    AS max_big
      |FROM customer c
      |ORDER BY c.c_custkey""".stripMargin

  def corrSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    s.sql(corrSubqueryText)
  }

  /** qx23 — `unionByName(allowMissingColumns = true)`: the API-level
    * schema-drift union, the in-memory sibling of qx20's mergeSchema
    * FILE read. Two "eras" of the orders feed carry different column
    * sets (the old one lacks status/priority, the new one dropped the
    * custkey); union-by-NAME aligns on column identity — a positional
    * union would silently pair custkey with status — and NULL-fills
    * what each era lacks. The operation is metadata-only per row
    * (project + null literals), so the union costs nothing beyond the
    * two scans; no shuffle until the output sort.
    */
  def unionByNameDrift(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val oldEra = o.filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val newEra = o.filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderpriority"))
    oldEra.unionByName(newEra, allowMissingColumns = true)
      .orderBy("o_orderkey")
  }
}
