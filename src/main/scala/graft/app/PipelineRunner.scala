package graft.app

import graft.enrich.DimensionEnricher
import graft.fs.ObjectStore
import graft.ingest.CsvIngest
import graft.io.Writers
import graft.ledger.RunLedger
import graft.marts.RetailMarts
import java.util.concurrent.{Callable, ExecutionException, Executors}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{broadcast, count, lit}

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
  *  - the JDBC dimensions are broadcast into the streamed fact, so the
  *    enrichment keeps the fact scan's tasks (the reference leaves the
  *    join to Catalyst, which, with no size estimate for a JDBC
  *    relation, broadcasts the fact and runs the join in one task);
  *  - the enriched frame is cached and materialized by one count
  *    before the mart fan-out (the reference recomputes the whole
  *    lineage ≥6 times), and the three mart writes run concurrently;
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
      * Each is a single-partition `read.jdbc(table)` pull wrapped in
      * `broadcast(...)`: a JDBC relation carries no size estimate, so
      * without the hint Catalyst broadcasts the (estimated) fact
      * instead and streams the one-partition dimension scan, which
      * leaves the enrichment and everything after it one task wide.
      * Only for dimensions that fit a broadcast; a larger one comes in
      * through [[jdbcPartitioned]], which carries no hint.
      */
    def fromJdbc(spark: SparkSession, url: String,
                 props: java.util.Properties,
                 customerTable: String = "customer",
                 storeTable: String = "store",
                 salesTeamTable: String = "sales_team"): Dimensions =
      Dimensions(
        customer = broadcast(spark.read.jdbc(url, customerTable, props)),
        store = broadcast(spark.read.jdbc(url, storeTable, props)),
        salesTeam = broadcast(spark.read.jdbc(url, salesTeamTable, props)))

    /** Partitioned JDBC scan for a dimension too large to broadcast:
      * `numPartitions` concurrent range queries split on a numeric
      * `partitionColumn` between the bounds — the scale path the
      * reference's whole-table `database_read.py:7-9` pull lacks.
      * Bounds only shape the split points; rows OUTSIDE them still
      * arrive (Spark's first/last partitions are unbounded), so the
      * read is always complete. No broadcast hint: Catalyst and AQE
      * choose the join from the scan's runtime size.
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

  /** Run `writes` on a pool of their own and wait until every one has
    * settled, then rethrow the first failure (in `writes` order; later
    * ones ride along as suppressed). The pool's threads are started
    * from the calling thread, so they inherit its SparkContext local
    * properties: job group, job description, scheduler pool.
    */
  private def writeConcurrently(writes: (() => Unit)*): Unit = {
    val pool = Executors.newFixedThreadPool(writes.size)
    try {
      val pending = writes.map(w => pool.submit(new Callable[Unit] { def call(): Unit = w() }))
      val failures = pending.flatMap { f =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally pool.shutdown()
  }

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

    // stage 7 — conform + union
    val fact = CsvIngest.read(spark, goodHeaders)

    // stages 8-10 — enrich with audit (observe() metrics). One count
    // builds the cache, which the three writes below read, and
    // completes the audit before they fan out
    val (enriched, auditOf) = DimensionEnricher.enrichWithAudit(
      fact, dims.customer, dims.store, dims.salesTeam)
    enriched.cache()
    try {
      enriched.count()

      // stages 10-11 — marts + writes (flat + partitioned,
      // main.py:313-365), run concurrently; the flat writes' row counts
      // ride them as observe() metrics
      val cmRows = Observation()
      val smRows = Observation()
      val customerMart = RetailMarts.customerMart(enriched)
      val salesMart = RetailMarts.salesMart(enriched)
      writeConcurrently(
        () => Writers.writeFlat(customerMart.observe(cmRows, count(lit(1)).as("rows")),
          s"${cfg.outputDir}/customers_data_mart"),
        () => Writers.writeFlat(salesMart.observe(smRows, count(lit(1)).as("rows")),
          s"${cfg.outputDir}/sales_team_data_mart"),
        () => Writers.writePartitioned(salesMart,
          s"${cfg.outputDir}/sales_team_data_mart_partitioned",
          Seq("sales_month", "store_id")))

      // stage 14 — archive + flip to 'I' (main.py:396-443)
      good.foreach(p => store.move(p, cfg.processedDir))
      ledger.markInactive(good.map(fileName))

      // the count and the writes above flowed through the observed
      // plans, so the metrics are already collected — no job here
      RunReport(stale, good, bad, auditOf(),
        cmRows.get("rows").asInstanceOf[Long], smRows.get("rows").asInstanceOf[Long])
    } finally enriched.unpersist()
  }
}
