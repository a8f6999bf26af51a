package graft.app

import graft.enrich.DimensionEnricher
import graft.fs.ObjectStore
import graft.ingest.CsvIngest
import graft.io.Writers
import graft.ledger.RunLedger
import graft.marts.RetailMarts
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** End-to-end batch run composing the modules into the reference's
  * §3.1 stage graph: failed-run check → list → validate/quarantine →
  * mark 'A' → conform+union → enrich → marts → write (flat +
  * partitioned) → archive → mark 'I'.
  *
  * Differences from the reference, on purpose (SURVEY.md §4.1):
  *  - one SparkSession;
  *  - headers are read on the driver and the landing is read with one
  *    CSV scan per distinct header, instead of the reference's per-file
  *    conform+union (main.py:235-258), so ingest costs no Spark job
  *    per file and the plan does not grow with the file count;
  *  - the enriched frame is cached before mart fan-out (the reference
  *    recomputes the whole lineage ≥6 times);
  *  - mart row counts are observed on the flat writes, not read back;
  *  - local mart writes set file modes in-process (`Writers.sink`),
  *    not with one forked `chmod` per file and directory;
  *  - S3 round-trip downloads are replaced by direct HCFS reads.
  */
object PipelineRunner {

  final case class PipelineConfig(
      inputDir: String, errorDir: String, processedDir: String,
      outputDir: String)

  final case class Dimensions(
      customer: DataFrame, store: DataFrame, salesTeam: DataFrame)

  object Dimensions {
    /** Load the dimension tables over JDBC as part of the run — the
      * reference reads its five MySQL tables inside the job
      * (main.py:272-289 via database_read.py:7-9); callers that
      * already hold DataFrames can keep passing them directly.
      *
      * Scale note: a plain `read.jdbc(table)` is a single-partition
      * pull, which is exactly right for broadcast-bound dimension
      * tables; a dimension too large to broadcast should come in
      * through a partitioned read (predicates / bounds) instead.
      */
    def fromJdbc(spark: SparkSession, url: String,
                 props: java.util.Properties,
                 customerTable: String = "customer",
                 storeTable: String = "store",
                 salesTeamTable: String = "sales_team"): Dimensions =
      Dimensions(
        customer = spark.read.jdbc(url, customerTable, props),
        store = spark.read.jdbc(url, storeTable, props),
        salesTeam = spark.read.jdbc(url, salesTeamTable, props))

    /** Partitioned JDBC scan for a dimension too large to broadcast:
      * `numPartitions` concurrent range queries split on a numeric
      * `partitionColumn` between the bounds — the scale path the
      * reference's whole-table `database_read.py:7-9` pull lacks.
      * Bounds only shape the split points; rows OUTSIDE them still
      * arrive (Spark's first/last partitions are unbounded), so the
      * read is always complete.
      */
    def jdbcPartitioned(spark: SparkSession, url: String,
                        props: java.util.Properties, table: String,
                        partitionColumn: String,
                        lowerBound: Long, upperBound: Long,
                        numPartitions: Int): DataFrame =
      spark.read.jdbc(url, table, partitionColumn, lowerBound, upperBound,
        numPartitions, props)
  }

  final case class RunReport(
      staleActiveFiles: Seq[String],
      goodFiles: Seq[String],
      quarantined: Seq[(String, Set[String])],
      audit: DimensionEnricher.EnrichmentAudit,
      customerMartRows: Long,
      salesMartRows: Long)

  private def fileName(p: String): String =
    new org.apache.hadoop.fs.Path(p).getName

  def run(spark: SparkSession, cfg: PipelineConfig, dims: Dimensions,
          ledger: RunLedger): RunReport = {
    val store = new ObjectStore(spark.sparkContext.hadoopConfiguration)

    // stage 2 — failed-run detection (main.py:41-64)
    val candidates = store.list(cfg.inputDir).filter(_.endsWith(".csv"))
    val stale = ledger.activeFiles(candidates.map(fileName))

    // stage 4/5 — validate, quarantine error files (main.py:136-178)
    val (goodHeaders, bad) = CsvIngest.triage(spark, candidates)
    val good = goodHeaders.map(_._1)
    bad.foreach { case (p, _) => store.move(p, cfg.errorDir) }

    // stage 6 — mark in-flight (main.py:184-219)
    good.foreach(p => ledger.markActive(fileName(p), p))

    if (good.isEmpty) {
      return RunReport(stale, Nil, bad,
        DimensionEnricher.EnrichmentAudit(0, 0), 0, 0)
    }

    // stage 7 — conform + union; cache before multi-action fan-out
    val fact = CsvIngest.read(spark, goodHeaders).cache()

    // stages 8-10 — enrich with audit (observe() metrics: the counts
    // ride the first mart write below, zero extra jobs)
    val (enriched, auditOf) = DimensionEnricher.enrichWithAudit(
      fact, dims.customer, dims.store, dims.salesTeam)
    enriched.cache()

    // stages 10-11 — marts + writes (flat + partitioned, main.py:313-365);
    // the flat writes' row counts ride them as observe() metrics
    val cmRows = Observation()
    val smRows = Observation()
    val customerMart = RetailMarts.customerMart(enriched)
    val salesMart = RetailMarts.salesMart(enriched)
    Writers.writeFlat(customerMart.observe(cmRows, count(lit(1)).as("rows")),
      s"${cfg.outputDir}/customers_data_mart")
    Writers.writeFlat(salesMart.observe(smRows, count(lit(1)).as("rows")),
      s"${cfg.outputDir}/sales_team_data_mart")
    Writers.writePartitioned(salesMart,
      s"${cfg.outputDir}/sales_team_data_mart_partitioned",
      Seq("sales_month", "store_id"))

    // stage 14 — archive + flip to 'I' (main.py:396-443)
    good.foreach(p => store.move(p, cfg.processedDir))
    ledger.markInactive(good.map(fileName))
    fact.unpersist()
    enriched.unpersist()

    // the mart writes above flowed through the observed plans, so the
    // metrics are already collected — this never triggers a job
    RunReport(stale, good, bad, auditOf(),
      cmRows.get("rows").asInstanceOf[Long], smRows.get("rows").asInstanceOf[Long])
  }
}
