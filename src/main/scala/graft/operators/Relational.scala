package graft.operators

import graft.core.Tables
import graft.marts.RetailMarts
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The declared relational query suite (SURVEY.md §2.9 Q1–Q12),
  * expressed with the DataFrame API so Catalyst handles pushdown,
  * pruning, and join selection. Each query carries a deterministic
  * total ORDER BY so the DuckDB oracle hash-compare is stable.
  *
  * Scale notes (100 TB design):
  *  - Scans project only needed columns → parquet column pruning.
  *  - Dimension joins leave strategy to Catalyst/AQE: `nation` /
  *    `region` are fixed-cardinality (25/5 rows at every SF) and are
  *    broadcast explicitly; `customer`/`supplier` scale with SF so
  *    they must stay shuffle-joinable (AQE picks BHJ when small).
  *  - Aggregations are groupBy (partial/final map-side combine), not
  *    window+distinct, except where reference parity demands (q07).
  */
object Relational {

  /** Q1 — scan + projection + sort (S2/S3, P1). */
  def q01(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  /** Q2 — filter predicate pushed to parquet (F-class). */
  def q02(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_quantity") > 30)
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")

  /** Q3 — inner equi-join orders×customer (J1). */
  def q03(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    o.join(c, o("o_custkey") === c("c_custkey"), "inner")
      .select(o("o_orderkey"), c("c_name"), o("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** Q4 — three-way dimension enrichment (J1+J2+J3), the reference's
    * `dimesions_table_join` shape (dimension_tables_join.py:16-53)
    * over the star schema.
    */
  def q04(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val sup = Tables.supplier(s, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"), "inner")
      .join(c, o("o_custkey") === c("c_custkey"), "inner")
      .join(sup, l("l_suppkey") === sup("s_suppkey"), "inner")
      .select(l("l_orderkey"), l("l_linenumber"), c("c_name"), sup("s_name"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Q5 — union by position (O3, main.py:258). */
  def q05(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val even = c.filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey").as("k"), col("c_name").as("n"))
    val odd = c.filter(col("c_custkey") % 2 === 1)
      .select(col("c_custkey").as("k"), col("c_name").as("n"))
    even.union(odd).orderBy("k")
  }

  /** q06/q07's rule input: orders as per-customer money by date. */
  private def orderRows(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(col("o_custkey"),
      col("o_orderdate").as("date"), col("o_totalprice").as("money"))

  /** Q6 — customer-mart aggregation in canonical groupBy form
    * (A1+A3 ≡ groupBy, SURVEY.md §2.5): the monthly-totals rule.
    */
  def q06(s: SparkSession, dir: String): DataFrame =
    RetailMarts.monthlyTotals(orderRows(s, dir), "o_custkey")
      .select(col("o_custkey"), col("month"),
        col("total").cast("double").as("total"))
      .orderBy("o_custkey", "month")

  /** Q7 — the literal reference form: windowed sum + distinct
    * (customer_mart_sql_tranform_write.py:10-19), the monthly-totals
    * rule's literal shape; must equal q06 (asserted in tests).
    */
  def q07(s: SparkSession, dir: String): DataFrame =
    RetailMarts.monthlyTotalsLiteral(orderRows(s, dir), "o_custkey")
      .select(col("o_custkey"), col("month"),
        col("total").cast("double").as("total"))
      .orderBy("o_custkey", "month")

  /** Q8 — rank window, top-3 per customer (A4,
    * sales_mart_sql_transform_write.py:18-22). Tie-broken on
    * o_orderkey for oracle determinism (SURVEY.md §7.4).
    */
  def q08(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= 3)
      .select("o_custkey", "o_orderkey", "rnk")
      .orderBy("o_custkey", "rnk", "o_orderkey")
  }

  /** Q9 — the sales-mart incentive query (A4+A5+X5/X6): monthly
    * store×person totals, rank within store-month, 1% incentive for
    * rank 1 (sales_mart_sql_transform_write.py:9-28). All money math
    * in decimal until the output boundary.
    */
  def q09(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val sup = Tables.supplier(s, dir)
    val n = Tables.nation(s, dir)
    val rows = l
      .join(o, l("l_orderkey") === o("o_orderkey"), "inner")
      .join(sup, l("l_suppkey") === sup("s_suppkey"), "inner")
      .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"), "inner")
      .select(n("n_nationkey").as("store"), sup("s_suppkey").as("person"),
        o("o_orderdate").as("date"), l("l_extendedprice").as("money"))
    RetailMarts.withIncentive(RetailMarts.monthlyTotals(rows, "store", "person"))
      .select(col("store"), col("person"), col("month"),
        col("total").cast("double").as("total"),
        col("incentive").cast("double").as("incentive"))
      .orderBy("store", "month", "person")
  }

  /** Q10 — string concat full_name (X2/X3,
    * customer_mart_sql_tranform_write.py:15). nation is tiny at any
    * SF → explicit broadcast.
    */
  def q10(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(s, dir)
    val n = Tables.nation(s, dir)
    sup.join(broadcast(n), sup("s_nationkey") === n("n_nationkey"), "inner")
      .select(sup("s_suppkey"),
        concat(sup("s_name"), lit(" "), n("n_name")).as("full_name"))
      .orderBy("s_suppkey")
  }

  /** Q11 — distinct (A3). */
  def q11(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select("o_orderstatus", "o_orderpriority")
      .distinct()
      .orderBy("o_orderstatus", "o_orderpriority")

  /** Q12 — top-k: sort + limit (O1/O2). Spark plans this as
    * TakeOrderedAndProject (no full sort at scale).
    */
  def q12(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)

  /** Q15 — empty-seed union fold (S4+O3, main.py:235-258): N
    * conformed slices folded over an empty seed DataFrame must equal
    * the plain scan. The fold is the reference's literal shape; the
    * multi-path read is the canonical form (SURVEY.md §4.3).
    */
  def q15(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select("c_custkey", "c_name", "c_nationkey")
    val seed = s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row], c.schema)
    val slices = (0 until 3).map(i => c.filter(col("c_custkey") % 3 === i))
    slices.foldLeft(seed)(_ union _).orderBy("c_custkey")
  }
}
