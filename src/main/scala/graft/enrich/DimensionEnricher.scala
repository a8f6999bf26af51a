package graft.enrich

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's three-join enrichment graph
  * (dimension_tables_join.py:4-55): fact × customer × store ×
  * sales_team, all inner equi-joins.
  *
  * Fidelity notes (SURVEY.md §7.4):
  *  - the reference's dotted `drop("s3_data.customer_id")` calls
  *    silently no-op; we drop with qualified Column objects so the
  *    result really is pruned;
  *  - inner joins silently discard unmatched fact rows — semantics
  *    kept, but [[EnrichmentAudit]] makes the loss observable.
  *
  * Scale: the join strategy comes from the inputs. Catalyst picks the
  * broadcast side by size estimate, and a JDBC relation has none: over
  * unhinted JDBC dimensions it broadcast the CSV fact and streamed the
  * one-partition dimension scan, so the join ran as one task.
  * `PipelineRunner.Dimensions.fromJdbc` therefore hints its whole-table
  * pulls `broadcast(...)`, which streams the fact with its scan's
  * tasks; `jdbcPartitioned` stays unhinted, so for a dimension far
  * beyond the broadcast threshold Catalyst/AQE choose the join from
  * runtime stats.
  */
object DimensionEnricher {

  final case class EnrichmentAudit(rowsIn: Long, rowsOut: Long) {
    def rowsLost: Long = rowsIn - rowsOut
  }

  /** Join the conformed fact with the three dimensions and project
    * the mart-facing columns. Inputs use the reference dimension
    * schemas (FIXTURES.md F4).
    */
  def enrich(fact: DataFrame, customer: DataFrame, store: DataFrame,
             salesTeam: DataFrame): DataFrame = {
    fact
      .join(customer, fact("customer_id") === customer("customer_id"), "inner")
      .join(store, store("id") === fact("store_id"), "inner")
      .join(salesTeam, salesTeam("id") === fact("sales_person_id"), "inner")
      .select(
        fact("customer_id"), fact("store_id"), fact("product_name"),
        fact("sales_date"), fact("sales_person_id"), fact("price"),
        fact("quantity"), fact("total_cost"), fact("additional_column"),
        customer("first_name"), customer("last_name"),
        customer("address"), customer("phone_number"),
        store("store_manager_name"),
        salesTeam("first_name").as("sales_person_first_name"),
        salesTeam("last_name").as("sales_person_last_name"))
  }

  /** enrich + row-loss audit via `observe()` metrics: the counts ride
    * the caller's FIRST action over the enriched frame instead of
    * running two extra count jobs over the join lineage (which, before
    * the caller's cache() is populated, computed the whole enrichment
    * twice — VERDICT r3 #2). The audit thunk blocks until an action
    * has flowed through the observed plan, so call it after the first
    * action (PipelineRunner's count that builds its cache).
    */
  def enrichWithAudit(fact: DataFrame, customer: DataFrame,
                      store: DataFrame, salesTeam: DataFrame)
      : (DataFrame, () => EnrichmentAudit) = {
    val inObs = org.apache.spark.sql.Observation()
    val outObs = org.apache.spark.sql.Observation()
    val out = enrich(fact.observe(inObs, count(lit(1)).as("rows")),
        customer, store, salesTeam)
      .observe(outObs, count(lit(1)).as("rows"))
    (out, () => EnrichmentAudit(
      inObs.get("rows").asInstanceOf[Long],
      outObs.get("rows").asInstanceOf[Long]))
  }
}
