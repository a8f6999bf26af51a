package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.app.PipelineRunner
import graft.app.PipelineRunner.{Dimensions, PipelineConfig, RunReport}
import graft.ledger.{JdbcRunLedger, RunLedger}

/** The benchmark's JVM side. It calls the program the way its users
  * do: the ETL workloads call `PipelineRunner.run` as a scheduled
  * batch would, and the query workloads call `SparkEntry.queries`.
  *
  * Arguments are `key=value` pairs (see `run.py`, which launches it):
  * the JVM sets up `setups` times (the last set-up is kept), lays down
  * what the queries read once, then repeats the workload's operation
  * `min_iterations` times and on until `seconds` have passed, and
  * writes one result JSON. With
  * `trace=1` every iteration is traced and every trace event is
  * written to `events.jsonl`.
  */
object Harness {

  private def arg(args: Map[String, String], k: String): String =
    args.getOrElse(k, sys.error(s"missing argument $k"))

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = arg(args, "workload")
    val data = arg(args, "data")
    val work = arg(args, "work")
    val seconds = arg(args, "seconds").toDouble
    val minIterations = arg(args, "min_iterations").toInt
    val traced = arg(args, "trace") == "1"
    val setups = arg(args, "setups").toInt
    val cpus = arg(args, "cpus")
    val launchedMs = arg(args, "launched_ms").toLong
    val out = new Harness(workload, data, work, cpus, traced)

    val setupSecs = (0 until setups).map { i =>
      val startMs = if (i == 0) launchedMs else System.currentTimeMillis()
      out.setUp(i)
      (System.currentTimeMillis() - startMs) / 1e3
    }
    val t = System.nanoTime()
    out.prebuild()
    val prebuildSecs = (System.nanoTime() - t) / 1e9
    val runs = out.measure(seconds, minIterations)
    out.writeOracles()
    out.spark.stop()
    out.writeResult(arg(args, "result"), setupSecs, prebuildSecs, runs)
  }

  private val gcBeans =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  def gcMillis: Long = gcBeans.map(_.getCollectionTime).sum

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete(): Unit
  }

  def vmHwmKb: Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    finally src.close()
  }
}

final class Harness(workload: String, data: String, work: String,
                    cpus: String, traced: Boolean) {
  import Harness._

  val tracer = new Tracer
  var spark: SparkSession = _
  private val errors = ArrayBuffer.empty[String]

  // ETL state
  private val props = new java.util.Properties()
  props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
  private var jdbcUrl = ""
  private val cfg = PipelineConfig(s"$work/etl/in", s"$work/etl/err",
    s"$work/etl/done", s"$work/etl/out")

  // star state: the query names, in the order Bench runs them
  private lazy val queryNames: Seq[String] =
    Files.readAllLines(Paths.get(s"$work/queries.txt")).asScala.toSeq.filter(_.nonEmpty)

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "25")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def span[A](kind: String, name: String)(body: => A): A =
    if (traced) tracer.span(kind, name)(body) else body

  /** One set-up: a new session, plus for ETL the dimension tables and
    * the ledger table in a new in-memory Derby database.
    */
  def setUp(i: Int): Unit = {
    if (spark != null) {
      spark.stop()
      if (jdbcUrl.nonEmpty) dropDerby(jdbcUrl)
    }
    spark = newSession()
    if (workload != "star") {
      jdbcUrl = s"jdbc:derby:memory:perfbench$i;create=true"
      Seq("customer", "store", "sales_team").foreach { t =>
        graft.io.Writers.writeJdbcAppend(spark.read.parquet(s"$data/dims/$t.parquet"),
          jdbcUrl, t, props)
      }
      jdbc(_.createStatement().execute(
        "CREATE TABLE product_staging_table (id INT GENERATED ALWAYS AS IDENTITY, " +
          "file_name VARCHAR(255), file_location VARCHAR(1024), created_date TIMESTAMP, " +
          "updated_date TIMESTAMP, status VARCHAR(1))"))
    }
  }

  /** The hive-partitioned mart (qp1, qp2) and the bucketed tables
    * (qp7) the query workload reads, laid down once per run as Bench's
    * prebuilds are.
    */
  def prebuild(): Unit = if (workload == "star") {
    span("prebuild", "qp1_hive_mart")(graft.operators.Marts.ensurePartitionedMart(spark, data))
    span("prebuild", "qp7_bucketed_tables")(graft.operators.Extras.ensureBucketedTables(spark, data))
  }

  private def jdbc[A](f: java.sql.Connection => A): A = {
    val c = java.sql.DriverManager.getConnection(jdbcUrl, props)
    try f(c) finally c.close()
  }

  private def dropDerby(url: String): Unit =
    try java.sql.DriverManager.getConnection(url.replace(";create=true", ";drop=true"))
    catch { case _: java.sql.SQLException => } // a successful drop reports as an exception

  final case class Iteration(i: Int, runS: Double, gcS: Double,
                             ok: Boolean, detail: Map[String, Any])

  /** Repeat the workload's operation `minIterations` times, and on
    * until `seconds` have passed. Set-up between iterations (a fresh
    * copy of the landing, an empty ledger, a reset block manager) is
    * outside the timed region.
    */
  def measure(seconds: Double, minIterations: Int): Seq[Iteration] = {
    val t0 = System.nanoTime()
    val out = ArrayBuffer.empty[Iteration]
    var i = 0
    while (i < minIterations || (System.nanoTime() - t0) / 1e9 < seconds) {
      prepare()
      if (traced) tracer.install(spark)
      tracer.startIteration(i)
      val gc0 = gcMillis
      val start = System.nanoTime()
      val (runS, ok, detail) =
        try {
          val (secs, d) = runOnce()
          val problem = check(d)
          problem.foreach(e => errors += s"iteration $i: $e")
          (secs, problem.isEmpty, d)
        } catch { case e: Throwable =>
          errors += s"iteration $i: ${e.getClass.getName}: ${e.getMessage}"
          ((System.nanoTime() - start) / 1e9, false, Map.empty[String, Any])
        }
      val gcS = (gcMillis - gc0) / 1e3
      if (traced) tracer.uninstall(spark)
      out += Iteration(i, runS, gcS, ok, detail)
      i += 1
    }
    out.toSeq
  }

  private def prepare(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    if (workload != "star") {
      Seq(cfg.inputDir, cfg.errorDir, cfg.processedDir, cfg.outputDir)
        .foreach(d => deleteTree(new File(d)))
      Files.createDirectories(Paths.get(cfg.inputDir))
      new File(s"$data/landing").listFiles().sortBy(_.getName).foreach { f =>
        Files.copy(f.toPath, Paths.get(cfg.inputDir, f.getName),
          StandardCopyOption.REPLACE_EXISTING)
      }
      jdbc(_.createStatement().executeUpdate("DELETE FROM product_staging_table"))
    }
    System.gc()
  }

  /** The timed operation: its wall time and what the checks need. A
    * query pass writes each result to Parquet (the oracle reads the
    * last pass's) and resets Spark state between queries, as Bench does.
    */
  private def runOnce(): (Double, Map[String, Any]) =
    if (workload == "star") {
      val failed = ArrayBuffer.empty[String]
      val secs = queryNames.map { name =>
        val fn = graft.SparkEntry.queries(name)
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        spark.catalog.clearCache()
        val t = System.nanoTime()
        try span("query", name)(fn(spark, data).write.mode("overwrite").parquet(s"$work/results/$name"))
        catch { case e: Exception => failed += s"$name: ${e.getMessage}" }
        name -> (System.nanoTime() - t) / 1e9
      }.toMap
      (secs.values.sum, Map("failed" -> failed.toSeq, "query_s" -> secs))
    } else {
      val jdbcLedger: RunLedger = new JdbcRunLedger(jdbcUrl, props)
      val ledger = if (traced) new TracedLedger(jdbcLedger, tracer) else jdbcLedger
      val dims = span("call", "Dimensions.fromJdbc")(Dimensions.fromJdbc(spark, jdbcUrl, props))
      val start = System.nanoTime()
      val report = span("call", "run")(PipelineRunner.run(spark, cfg, dims, ledger))
      ((System.nanoTime() - start) / 1e9, reportDetail(report))
    }

  private def name(p: String): String = new File(new java.net.URI(p).getPath).getName

  private def reportDetail(r: RunReport): Map[String, Any] = Map(
    "stale" -> r.staleActiveFiles.map(name),
    "good" -> r.goodFiles.map(name).sorted,
    "quarantined" -> r.quarantined.map { case (p, m) => name(p) + ":" + m.toSeq.sorted.mkString("|") },
    "rows_in" -> r.audit.rowsIn, "rows_out" -> r.audit.rowsOut,
    "customer_rows" -> r.customerMartRows, "sales_rows" -> r.salesMartRows)

  /** Checks that need the JVM's view (the Python side checks the marts
    * and query results against the DuckDB oracle).
    */
  private def check(d: Map[String, Any]): Option[String] =
    if (workload == "star") {
      val failed = d("failed").asInstanceOf[Seq[String]]
      if (failed.isEmpty) None else Some(s"queries failed: ${failed.mkString("; ")}")
    } else {
      val expect = Files.readAllLines(Paths.get(s"$work/expect.txt")).asScala
        .map { l => val k = l.indexOf('='); l.take(k) -> l.drop(k + 1) }.toMap
      val good = expect("good").split(",").toSeq.sorted
      val facts = expect("fact_rows").toLong
      def files(dir: String) =
        Option(new File(dir).list()).map(_.toSeq.sorted).getOrElse(Nil)
      val ledgerRows = jdbc { c =>
        val rs = c.createStatement().executeQuery(
          "SELECT status, COUNT(*) FROM product_staging_table GROUP BY status")
        val b = ArrayBuffer.empty[(String, Long)]
        while (rs.next()) b += rs.getString(1) -> rs.getLong(2)
        b.toMap
      }
      Seq(
        (d("stale") == Nil) -> s"stale active files ${d("stale")}",
        (d("good") == good) -> "accepted files differ from the landing's good files",
        (d("quarantined") == Seq(expect("crafted") + ":store_id")) ->
          s"quarantined ${d("quarantined")}",
        (d("rows_in") == facts && d("rows_out") == facts) ->
          s"audit ${d("rows_in")} in, ${d("rows_out")} out, expected $facts",
        (ledgerRows == Map("I" -> good.size.toLong)) -> s"ledger rows $ledgerRows",
        (files(cfg.processedDir) == good) -> "processed/ does not hold exactly the good files",
        (files(cfg.errorDir) == Seq(expect("crafted"))) -> "error/ does not hold the crafted file",
        files(cfg.inputDir).isEmpty -> "input directory not emptied"
      ).collectFirst { case (false, msg) => msg }
    }

  /** The oracle SQL of the query workload's queries, for `oracle.py`. */
  def writeOracles(): Unit = if (workload == "star") {
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => queryNames.contains(k) }
    Files.writeString(Paths.get(s"$work/oracle_sql.json"), Json.value(oracles))
  }

  def writeResult(path: String, setupSecs: Seq[Double], prebuildSecs: Double,
                  runs: Seq[Iteration]): Unit = {
    if (traced) Files.write(Paths.get(s"$work/events.jsonl"), tracer.lines.asJava)
    val json = Json.obj(
      "setup_s" -> setupSecs,
      "prebuild_s" -> prebuildSecs,
      "iterations" -> runs.map(r => Json.raw(Json.obj("i" -> r.i,
        "run_s" -> r.runS, "gc_s" -> r.gcS, "ok" -> r.ok, "detail" -> r.detail))),
      "errors" -> errors.toSeq,
      "vmhwm_kb" -> vmHwmKb)
    Files.writeString(Paths.get(path), json)
  }
}
