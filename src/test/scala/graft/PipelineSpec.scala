package graft

import graft.app.PipelineRunner
import graft.app.PipelineRunner.{Dimensions, PipelineConfig}
import graft.enrich.DimensionEnricher
import graft.fs.ObjectStore
import graft.ingest.CsvIngest
import graft.ledger.InMemoryRunLedger
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
import org.apache.spark.sql.execution.{FileSourceScanExec, RowDataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

class PipelineSpec extends SparkSpec {

  /** Spark jobs started by `body`, and how many of them were still
    * running when it returned, seen by a listener on the jobs of a job
    * group set around it. The listener bus is asynchronous, so a
    * marker job in the same group, started after `body`, flushes it:
    * once the listener has seen the marker, it has seen every job
    * `body` started and the end of every one that had ended.
    */
  private def jobsOf(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val group = s"job-count-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val active = ConcurrentHashMap.newKeySet[Int]()
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty("spark.job.description") == group) marker.countDown()
          else { jobs.incrementAndGet(); active.add(e.jobId) }
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = active.remove(e.jobId)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "")
    try {
      body
      sc.setJobDescription(group)
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, TimeUnit.SECONDS), "the listener never saw the marker job")
      (jobs.get, active.size)
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  private def jobsStartedBy(body: => Unit): Int = jobsOf(body)._1

  private val derbyProps = {
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    props
  }

  /** The F4 dimensions appended to a fresh in-memory Derby database;
    * returns its URL.
    */
  private def derbyDims(db: String): String = {
    val url = s"jdbc:derby:memory:$db;create=true"
    val (c, s, st) = Fixtures.dims(spark)
    graft.io.Writers.writeJdbcAppend(c, url, "customer", derbyProps)
    graft.io.Writers.writeJdbcAppend(s, url, "store", derbyProps)
    graft.io.Writers.writeJdbcAppend(st, url, "sales_team", derbyProps)
    url
  }

  private def config(prefix: String): PipelineConfig = {
    val root = tempDir(prefix)
    val cfg = PipelineConfig(s"$root/in", s"$root/err", s"$root/done",
      s"$root/out")
    Files.createDirectories(Paths.get(cfg.inputDir))
    cfg
  }

  /** Every node of an executed plan, through adaptive plans, query
    * stages and reused exchanges.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case _ => p.children
  }).flatMap(nodes)

  test("ObjectStore.list returns a landing's files sorted by name") {
    val root = tempDir("objstore_list_")
    val names = new scala.util.Random(7).shuffle((1 to 40).map(i => s"f$i.csv"))
    names.foreach(n => Files.writeString(Paths.get(root, n), n))
    Files.createDirectory(Paths.get(root, "subdir"))
    val listed = new ObjectStore(spark.sparkContext.hadoopConfiguration).list(root)
    assert(listed.map(new org.apache.hadoop.fs.Path(_).getName) == names.sorted)
  }

  test("ingest starts no Spark job per file: triage none, a run as many for 12 files as for 3") {
    def landing(good: Int): PipelineConfig = {
      val root = tempDir(s"pipeline_jobs_${good}_")
      val cfg = PipelineConfig(s"$root/in", s"$root/err", s"$root/done",
        s"$root/out")
      Files.createDirectories(Paths.get(cfg.inputDir))
      // the same two-header mix at both sizes: two F1 files per F2 file
      (0 until good).foreach { i =>
        if (i % 3 == 2) Fixtures.writeF2(cfg.inputDir, name = s"f2_$i.csv", seed = i)
        else Fixtures.writeF1(cfg.inputDir, name = s"f1_$i.csv", seed = i)
      }
      Fixtures.writeF3(cfg.inputDir)
      cfg
    }
    val (small, large) = (landing(3), landing(12))
    val store = new ObjectStore(spark.sparkContext.hadoopConfiguration)
    assert(jobsStartedBy(CsvIngest.triage(spark, store.list(large.inputDir))) == 0)
    val (c, s, st) = Fixtures.dims(spark)
    def runJobs(cfg: PipelineConfig): Int = jobsStartedBy {
      val report = PipelineRunner.run(spark, cfg, Dimensions(c, s, st), new InMemoryRunLedger)
      assert(report.quarantined.size == 1)
    }
    val (smallJobs, largeJobs) = (runJobs(small), runJobs(large))
    assert(smallJobs > 0 && smallJobs == largeJobs,
      s"$smallJobs jobs over 3 files, $largeJobs over 12")
  }

  test("S9: copyFromLocal/copyToLocal round-trip a file, source kept") {
    val root = tempDir("objstore_")
    val src = new java.io.File(s"$root/payload.txt")
    Files.writeString(src.toPath, "graft-roundtrip-123")
    val store = new graft.fs.ObjectStore(spark.sparkContext.hadoopConfiguration)
    val up = store.copyFromLocal(src.getAbsolutePath, s"$root/remote")
    assert(store.exists(up))
    assert(src.exists(), "upload must copy, not move")
    val down = store.copyToLocal(up, s"$root/local")
    assert(Files.readString(Paths.get(s"$root/local/payload.txt"))
      == "graft-roundtrip-123")
    assert(store.exists(up), "download must copy, not move")
    assert(down.endsWith("payload.txt"))
    // a second round trip over the same targets replaces them
    Files.writeString(src.toPath, "graft-roundtrip-456")
    assert(store.copyFromLocal(src.getAbsolutePath, s"$root/remote") == up)
    assert(store.copyToLocal(up, s"$root/local") == down)
    assert(Files.readString(Paths.get(s"$root/local/payload.txt"))
      == "graft-roundtrip-456")
  }

  test("ensureEventsLanding repairs dangling and re-pointed symlinks") {
    import java.nio.file.{Files, Paths, LinkOption}
    val fake = tempDir("landing_src_")
    val srcA = Paths.get(fake, "a"); Files.createDirectory(srcA)
    val fileA = srcA.resolve("events.parquet")
    Files.writeString(fileA, "a")
    // first ensure: creates the link
    val landing = graft.io.Scratch.ensureEventsLanding(srcA.toString)
    val link = Paths.get(landing, "events.parquet")
    assert(Files.isSymbolicLink(link) && Files.exists(link))
    // dangling: delete the target — a naive Files.exists check would
    // see "absent" and then die on createSymbolicLink forever
    Files.delete(fileA)
    Files.writeString(fileA, "a2")
    assert(graft.io.Scratch.ensureEventsLanding(srcA.toString) == landing)
    assert(Files.exists(link), "dangling link must be recreated")
    // a link left pointing at an OLD path must be re-pointed, not kept
    val srcB = Paths.get(fake, "b"); Files.createDirectory(srcB)
    Files.writeString(srcB.resolve("events.parquet"), "b")
    Files.delete(link)
    Files.createSymbolicLink(link, srcB.resolve("events.parquet"))
    graft.io.Scratch.ensureEventsLanding(srcA.toString)
    assert(Files.readSymbolicLink(link) == fileA,
      "re-pointed link must come back to this sf dir's events file")
    assert(Files.exists(link, LinkOption.NOFOLLOW_LINKS))
  }

  test("end-to-end run: quarantine, marts, archive, ledger lifecycle") {
    val root = tempDir("pipeline_")
    val cfg = PipelineConfig(s"$root/in", s"$root/err", s"$root/done",
      s"$root/out")
    Files.createDirectories(Paths.get(cfg.inputDir))
    Fixtures.writeF1(cfg.inputDir)
    Fixtures.writeF2(cfg.inputDir)
    Fixtures.writeF3(cfg.inputDir)
    val (c, s, st) = Fixtures.dims(spark)
    val ledger = new InMemoryRunLedger

    val report = PipelineRunner.run(spark, cfg, Dimensions(c, s, st), ledger)

    assert(report.staleActiveFiles.isEmpty)
    assert(report.goodFiles.size == 2)
    assert(report.quarantined.map(_._2) == Seq(Set("store_id")))
    assert(report.audit.rowsIn == 1500 && report.audit.rowsOut == 1500)
    assert(report.customerMartRows > 0 && report.salesMartRows > 0)

    // quarantined file moved to err/, good files archived to done/
    assert(Files.list(Paths.get(cfg.errorDir)).count() == 1)
    assert(Files.list(Paths.get(cfg.processedDir)).count() == 2)
    assert(Files.list(Paths.get(cfg.inputDir)).count() == 0)

    // ledger: both good files flipped A -> I
    assert(ledger.all.toSet ==
      Set(("f1_sales.csv", "I"), ("f2_extra.csv", "I")))

    // partitioned mart readable and hive-partitioned by month/store
    val part = spark.read
      .parquet(s"${cfg.outputDir}/sales_team_data_mart_partitioned")
    assert(part.count() == report.salesMartRows)
    assert(spark.read.parquet(s"${cfg.outputDir}/customers_data_mart").count()
      == report.customerMartRows)
    val dirs = Files.list(
      Paths.get(s"${cfg.outputDir}/sales_team_data_mart_partitioned"))
      .toArray.map(_.toString).filter(_.contains("sales_month="))
    assert(dirs.nonEmpty)
  }

  test("end-to-end run with JDBC-sourced dimensions (Derby)") {
    val cfg = config("pipeline_jdbc_")
    Fixtures.writeF1(cfg.inputDir)
    val dims = PipelineRunner.Dimensions.fromJdbc(spark, derbyDims("graftdims"), derbyProps)
    val report = PipelineRunner.run(spark, cfg, dims, new InMemoryRunLedger)

    assert(report.goodFiles.size == 1)
    assert(report.audit.rowsIn == 500 && report.audit.rowsOut == 500)
    assert(report.customerMartRows > 0 && report.salesMartRows > 0)
  }

  test("JDBC dimensions are broadcast into the streamed fact, which keeps its scan's tasks") {
    val root = tempDir("pipeline_plan_")
    (0 until 8).foreach(i => Fixtures.writeF1(root, name = s"f1_$i.csv", seed = i))
    val url = derbyDims("graftdimsplan")
    val dims = Dimensions.fromJdbc(spark, url, derbyProps)
    val store = new ObjectStore(spark.sparkContext.hadoopConfiguration)
    val fact = CsvIngest.read(spark, CsvIngest.triage(spark, store.list(root))._1)
    val enriched = DimensionEnricher.enrich(fact, dims.customer, dims.store, dims.salesTeam)
    enriched.collect() // settles the adaptive plan
    val plan = nodes(enriched.queryExecution.executedPlan)

    val joins = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(joins.size == 3, s"broadcast joins: ${joins.size}")
    joins.foreach { j =>
      val build = nodes(if (j.buildSide == BuildRight) j.right else j.left)
      assert(build.exists(_.isInstanceOf[RowDataSourceScanExec]) &&
        !build.exists(_.isInstanceOf[FileSourceScanExec]),
        s"build side is not a JDBC dimension:\n${j.treeString}")
    }
    val broadcastInputs = plan.collect { case b: BroadcastExchangeExec => nodes(b) }.flatten
    assert(!broadcastInputs.exists(_.isInstanceOf[FileSourceScanExec]),
      "the CSV fact is broadcast")
    val factTasks = fact.rdd.getNumPartitions
    assert(factTasks > 1 && enriched.rdd.getNumPartitions == factTasks,
      s"fact scan $factTasks tasks, enrichment ${enriched.rdd.getNumPartitions}")

    // the partitioned read is for dimensions too large to broadcast
    val split = Dimensions.jdbcPartitioned(spark, url, derbyProps, "customer",
      partitionColumn = "customer_id", lowerBound = 1L, upperBound = 25L,
      numPartitions = 4)
    assert(split.queryExecution.analyzed.collect { case h: ResolvedHint => h }.isEmpty)
  }

  test("a failed mart write is rethrown after the others settle; nothing archived, ledger stays 'A'") {
    val cfg = config("pipeline_fail_")
    Fixtures.writeF1(cfg.inputDir)
    Fixtures.writeF2(cfg.inputDir)
    // the customer mart's target resolves through a regular file, so
    // its write cannot create it
    val blocker = Paths.get(cfg.inputDir).resolveSibling("blocker")
    Files.writeString(blocker, "")
    Files.createDirectories(Paths.get(cfg.outputDir))
    Files.createSymbolicLink(Paths.get(cfg.outputDir, "customers_data_mart"),
      blocker.resolve("mart"))
    val (c, s, st) = Fixtures.dims(spark)
    val ledger = new InMemoryRunLedger

    // the write threads inherit the job group from the run's thread
    var failure: Throwable = null
    val (started, active) = jobsOf {
      failure = intercept[Exception](PipelineRunner.run(spark, cfg, Dimensions(c, s, st), ledger))
    }
    assert(Iterator.iterate(failure)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("customers_data_mart")),
      s"not the customer mart's failure: $failure")
    assert(started > 0 && active == 0,
      s"$active of $started jobs still active when run threw: $failure")
    Seq("sales_team_data_mart", "sales_team_data_mart_partitioned").foreach { m =>
      assert(Files.exists(Paths.get(cfg.outputDir, m, "_SUCCESS")), s"$m did not finish")
    }
    assert(!Files.exists(Paths.get(cfg.processedDir)) ||
      Files.list(Paths.get(cfg.processedDir)).count() == 0)
    assert(Files.list(Paths.get(cfg.inputDir)).count() == 2)
    assert(ledger.all.toSet == Set(("f1_sales.csv", "A"), ("f2_extra.csv", "A")))
  }

  test("repeated runs of one landing: the audit and mart counts hold every time") {
    val dims = Dimensions.fromJdbc(spark, derbyDims("graftdimsrepeat"), derbyProps)
    (1 to 4).foreach { i =>
      val cfg = config(s"pipeline_repeat_${i}_")
      Fixtures.writeF1(cfg.inputDir)
      Fixtures.writeF2(cfg.inputDir)
      val report = PipelineRunner.run(spark, cfg, dims, new InMemoryRunLedger)
      assert(report.audit.rowsIn == 1500 && report.audit.rowsOut == 1500,
        s"run $i: ${report.audit}")
      def rows(m: String): Long = spark.read.parquet(s"${cfg.outputDir}/$m").count()
      assert(report.customerMartRows == rows("customers_data_mart"), s"run $i")
      assert(report.salesMartRows == rows("sales_team_data_mart"), s"run $i")
      assert(report.salesMartRows == rows("sales_team_data_mart_partitioned"), s"run $i")
    }
  }

  test("a crashed run leaves 'A' rows that the next run detects") {
    val root = tempDir("pipeline_stale_")
    val cfg = PipelineConfig(s"$root/in", s"$root/err", s"$root/done",
      s"$root/out")
    Files.createDirectories(Paths.get(cfg.inputDir))
    Fixtures.writeF1(cfg.inputDir)
    val (c, s, st) = Fixtures.dims(spark)
    val ledger = new InMemoryRunLedger
    ledger.markActive("f1_sales.csv", "previous/location") // simulated crash

    val report = PipelineRunner.run(spark, cfg, Dimensions(c, s, st), ledger)
    assert(report.staleActiveFiles == Seq("f1_sales.csv"))
  }

  test("empty input dir yields an empty report, no side effects") {
    val root = tempDir("pipeline_empty_")
    val cfg = PipelineConfig(s"$root/in", s"$root/err", s"$root/done",
      s"$root/out")
    Files.createDirectories(Paths.get(cfg.inputDir))
    val (c, s, st) = Fixtures.dims(spark)
    val report = PipelineRunner.run(spark, cfg, Dimensions(c, s, st),
      new InMemoryRunLedger)
    assert(report.goodFiles.isEmpty && report.quarantined.isEmpty)
    assert(report.customerMartRows == 0)
  }

  test("qp4: compaction collapses the fragmented layout to one file per partition dir") {
    val sf = "/root/testdata/sf0.001"
    graft.operators.Marts.compactionRoundtrip(spark, sf).count()
    val root = new java.io.File(graft.io.Scratch.qp4Dir(sf))
    def parquetFiles(tree: String): Map[String, Int] = {
      val dirs = new java.io.File(root, tree).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("event_type="))
      dirs.map(d => d.getName ->
        d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    }
    val frag = parquetFiles("fragmented")
    val compact = parquetFiles("compacted")
    assert(frag.keySet == compact.keySet, "same partition dirs")
    assert(frag.values.forall(_ > 1),
      s"phase 1 must fragment (files per dir: $frag)")
    assert(frag.values.sum > 10 * compact.values.sum,
      "compaction must collapse an order of magnitude of files")
    assert(compact.values.forall(_ == 1),
      s"one writer per dir -> one file per dir, got $compact")
  }
}
