package graft.marts

import graft.core.Fns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's two data marts, and the only place their rules are
  * written: monthly totals (customer_mart_sql_tranform_write.py:10-19)
  * and the rank-1 incentive (sales_mart_sql_transform_write.py:9-28).
  *
  * Every mart is an adapter: it projects its input onto the rules'
  * columns (its keys, `date`, `money`, and `store` for the incentive),
  * calls them, and selects its own output names and types — the
  * pipeline's marts below, q06/q07/q09/q13 and qp8 over the star
  * schema. [[monthlyTotals]] is one partial/final hash aggregate;
  * [[monthlyTotalsLiteral]] is the reference's window-sum + distinct
  * (a pessimization, SURVEY.md §4.1), kept as the form EnrichMartsSpec
  * and RelationalSpec compare against, and declared by q07.
  */
object RetailMarts {

  /** One row per `keys` × `month` ('YYYY-MM' of `date`) with `total`,
    * the exact decimal sum of `money` ([[Fns.moneySum]]).
    */
  def monthlyTotals(rows: DataFrame, keys: String*): DataFrame =
    rows.withColumn("month", Fns.monthKey(col("date")))
      .groupBy((keys :+ "month").map(col): _*)
      .agg(Fns.moneySum(col("money")).as("total"))

  /** [[monthlyTotals]] as a window sum over keys × month + distinct. */
  def monthlyTotalsLiteral(rows: DataFrame, keys: String*): DataFrame = {
    val grain = (keys :+ "month").map(col)
    rows.withColumn("month", Fns.monthKey(col("date")))
      .select(grain :+
        Fns.moneySum(col("money")).over(Window.partitionBy(grain: _*)).as("total"): _*)
      .distinct()
  }

  /** Adds `incentive` (DECIMAL(18,2)): `rank()` over (`store`, `month`)
    * by `total` descending, with no tie-break so tied top totals all
    * earn it (SURVEY.md §7.4); rank 1 earns 1% rounded half-up to
    * cents in decimal, every other row 0.
    */
  def withIncentive(totals: DataFrame): DataFrame = {
    val w = Window.partitionBy("store", "month").orderBy(col("total").desc)
    totals.withColumn("incentive", when(rank().over(w) === 1,
      round(col("total") * lit(new java.math.BigDecimal("0.01")), 2))
      .otherwise(lit(java.math.BigDecimal.ZERO)).cast(Fns.Money))
  }

  private def fullName(first: String, last: String): Column =
    concat(col(first), lit(" "), col(last)).as("full_name")

  val customerKeys: Seq[String] =
    Seq("customer_id", "full_name", "address", "phone_number")

  /** The enriched fact (DimensionEnricher output) as customer-mart rows. */
  def customerRows(enriched: DataFrame): DataFrame =
    enriched.select(col("customer_id"), fullName("first_name", "last_name"),
      col("address"), col("phone_number"), col("sales_date").as("date"),
      col("total_cost").as("money"))

  /** Customer mart, F5 schema: customer_id, full_name, address,
    * phone_number, sales_date_month, total_sales.
    */
  def customerMart(enriched: DataFrame): DataFrame =
    monthlyTotals(customerRows(enriched), customerKeys: _*)
      .select(customerKeys.map(col) :+ col("month").as("sales_date_month") :+
        col("total").cast(Fns.Money).as("total_sales"): _*)

  val salesKeys: Seq[String] = Seq("store", "sales_person_id", "full_name")

  /** The enriched fact as sales-mart rows. */
  def salesRows(enriched: DataFrame): DataFrame =
    enriched.select(col("store_id").as("store"), col("sales_person_id"),
      fullName("sales_person_first_name", "sales_person_last_name"),
      col("sales_date").as("date"), col("total_cost").as("money"))

  /** Sales mart, F5 schema: store_id, sales_person_id, full_name,
    * sales_month, total_sales, incentive.
    */
  def salesMart(enriched: DataFrame): DataFrame =
    withIncentive(monthlyTotals(salesRows(enriched), salesKeys: _*))
      .select(col("store").as("store_id"), col("sales_person_id"),
        col("full_name"), col("month").as("sales_month"),
        col("total").cast(Fns.Money).as("total_sales"), col("incentive"))
}
