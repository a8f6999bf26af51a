package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.RawLocalFileSystem

/** [[graft.Session]] is the one place a session is configured: its
  * config is what every main and suite runs with, its reset leaves no
  * Spark-side state behind, its conf scope restores what it changed,
  * and no other source builds a session or changes its state.
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

  /** Every source file under src/main with its text. */
  private lazy val mainSources =
    Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toSeq

  test("no source in src/main outside Session.scala sets a conf or a temp function") {
    def holding(needles: String*): Seq[String] = mainSources.collect {
      case (p, text) if needles.exists(text.contains) => p.getFileName.toString
    }
    assert(holding("conf.set(", "conf.unset(") == Seq("Session.scala"),
      "scope a conf override with graft.Session.withConfs")
    assert(holding("createOrReplaceTempFunction", "registerOnce").isEmpty,
      "graft functions come from GraftExtensions only")
  }

  test("every streaming query in src/main drains through streaming/Drain.scala") {
    Seq("Trigger.AvailableNow", ".writeStream", ".queryName(").foreach { n =>
      val holders = mainSources.collect {
        case (p, text) if text.contains(n) => p.toString
      }
      assert(holders == Seq("src/main/scala/graft/streaming/Drain.scala"),
        s"$n: start and drain a stream with graft.streaming.Drain")
    }
    val slots = mainSources.collect {
      case (p, text) if (p.startsWith("src/main/scala/graft/streaming") ||
          p.startsWith("src/main/scala/graft/ingest")) &&
        text.contains("AtomicReference[String]") => p.toString
    }
    assert(slots.isEmpty, s"Drain drops its own views: $slots")
  }

  test("every driver-side model in src/main is memoized through io/StampMemo.scala") {
    Seq("computeIfAbsent", "tableStamp(").foreach { n =>
      val outside = mainSources.collect {
        case (p, text) if text.contains(n) &&
          !p.startsWith("src/main/scala/graft/io") => p.toString
      }
      assert(outside.isEmpty, s"$n: memoize a model with graft.io.StampMemo")
    }
    // an overflow guard: `if (<map>.size > <bound> ...) <map>.clear()`
    val guard = raw"(?s)\.size\s*>.{0,80}?\.clear\(\)".r
    val guards = mainSources.collect {
      case (p, text) if guard.findFirstIn(text).nonEmpty => p.toString
    }
    assert(guards == Seq("src/main/scala/graft/io/StampMemo.scala"),
      "the memo owns the one bound")
  }

  test("every derived tree in src/main is published through io/ArtifactStore.scala") {
    Seq("stampedOnce", "landedOnce", "landed-", "newKeySet").foreach { n =>
      val holders = mainSources.collect {
        case (p, text) if text.contains(n) => p.toString
      }
      assert(holders.isEmpty,
        s"$n: publish a derived tree with graft.io.ArtifactStore.publish")
    }
    val keyed = mainSources.collect {
      case (p, text) if text.contains("stampKey(") => p.toString
    }
    assert(keyed == Seq("src/main/scala/graft/io/ArtifactStore.scala"),
      "ArtifactStore owns the one key")
  }

  test("every exact-cosine top-k in src/main scores through operators/CosineTopK.scala") {
    val kernel = "src/main/scala/graft/operators/CosineTopK.scala"
    Seq("""\*\s*col\("q_nrm"\)""", """\*\s*col\("n_nrm"\)""",
        """sqrt\(graft\.functions\.VecDot\.of\(""").foreach { n =>
      val outside = mainSources.collect {
        case (p, text) if n.r.findFirstIn(text).nonEmpty &&
          p.toString != kernel => p.toString
      }
      assert(outside.isEmpty,
        s"$n: score and rank with graft.operators.CosineTopK: $outside")
    }
    assert(mainSources.exists { case (p, text) =>
        p.toString == kernel && text.contains("sqrt(graft.functions.VecDot.of(")
      }, "the scan must see the one norm")
  }

  test("Session.withConfs sets in order, then restores or unsets, also on throw") {
    val (set, unset) = ("spark.sql.shuffle.partitions", "graft.spec.scoped")
    val before = spark.conf.get(set)
    assert(spark.conf.getOption(unset).isEmpty)
    def untouched(): Unit = {
      assert(spark.conf.get(set) == before)
      assert(spark.conf.getOption(unset).isEmpty)
    }
    // a repeated key: the last value wins inside, the first prior value after
    assert(Session.withConfs(spark, Seq(set -> "7", unset -> "a", set -> "9")) {
      (spark.conf.get(set), spark.conf.get(unset))
    } == ("9", "a"))
    untouched()
    intercept[IllegalStateException] {
      Session.withConfs(spark, Seq(set -> "7", unset -> "b")) {
        throw new IllegalStateException("body failed")
      }
    }
    untouched()
    // a static conf cannot be set at runtime: the keys set before it
    // are restored and the failure propagates
    intercept[Exception] {
      Session.withConfs(spark,
        Seq(set -> "7", unset -> "c", "spark.sql.extensions" -> "x"))(())
    }
    untouched()
  }
}
