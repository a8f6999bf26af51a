package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.RawLocalFileSystem

/** [[graft.Session]] is the one place a session is configured: its
  * config is what every main and suite runs with, its reset leaves no
  * Spark-side state behind, and no other source builds a session.
  */
class SessionSpec extends SparkSpec {

  test("the seam's config is the suites' session config") {
    val conf = spark.sparkContext.getConf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.extensions") == classOf[GraftExtensions].getName)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.ui.enabled") == "false")
    // what Writers.sink reads to pick the fork-free twin
    assert(spark.sessionState.newHadoopConf().get("fs.file.impl") ==
      classOf[RawLocalFileSystem].getName)
    assert(Seq("spark.ui.retainedJobs", "spark.ui.retainedStages",
      "spark.ui.retainedTasks", "spark.sql.ui.retainedExecutions")
      .map(conf.get) == Seq("50", "100", "5000", "25"))
  }

  test("Session.reset leaves no persistent RDD and an empty cache") {
    val cached = spark.range(0, 100).selectExpr("id * 2 AS x").cache()
    assert(cached.count() == 100)
    val checkpointed = spark.range(0, 100).localCheckpoint()
    assert(checkpointed.count() == 100)
    spark.sparkContext.parallelize(1 to 10).persist().count()
    assert(spark.sparkContext.getPersistentRDDs.size >= 3)
    assert(!spark.sharedState.cacheManager.isEmpty)
    Session.reset(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("no source outside Session.scala builds a session") {
    val builder = "SparkSession" + ".builder"
    val offenders = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Session.scala")
      .filter(p => Files.readString(p).contains(builder))
      .map(_.toString).toSeq
    assert(offenders.isEmpty, s"build the session with graft.Session: $offenders")
    assert(Files.readString(Paths.get("src/main/scala/graft/Session.scala"))
      .contains(builder), "the scan must see the one builder")
  }
}
