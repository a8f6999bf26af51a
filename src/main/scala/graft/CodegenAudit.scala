package graft

/** Codegen-health audit: execute declared queries and fail loudly if
  * any generated Java fails to compile. Spark's fallback on a Janino
  * CompileException is SILENT (the subtree drops to interpreted eval
  * and only an ERROR log line records it) — round 5 found qd4's
  * MarkerWordCounts running interpreted for two rounds this way.
  *
  * Detection: a log4j2 appender on the CodeGenerator logger counts
  * "Failed to compile" ERROR events while the queries execute.
  *
  * Usage: `sbt "runMain graft.CodegenAudit [query...]"` — no args
  * runs every declared query at sf0.001. Exit code 1 on any compile
  * failure.
  */
object CodegenAudit {

  private val failCount = new java.util.concurrent.atomic.AtomicInteger(0)
  private val failed =
    java.util.Collections.synchronizedSet(new java.util.HashSet[String]())
  @volatile private var current: String = ""

  private final class CountingAppender
      extends org.apache.logging.log4j.core.appender.AbstractAppender(
        "graft-codegen-audit", null, null, false,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
    override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
      val msg = e.getMessage.getFormattedMessage
      if (msg.contains("Failed to compile")) {
        failCount.incrementAndGet()
        failed.add(current)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    SparkEntry.requireDeclared(names)
    val spark = Session.local(Session.cpusFromEnv)
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    val appender = new CountingAppender
    appender.start()
    val loggerName =
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val cfg = ctx.getConfiguration
    cfg.addLoggerAppender(ctx.getLogger(loggerName), appender)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      loggerName, org.apache.logging.log4j.Level.ERROR)

    names.foreach { name =>
      current = name
      SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
    if (failCount.get() > 0) {
      System.err.println(s"[codegen-audit] FAIL: ${failCount.get()} generated" +
        s" compile failures in: ${failed.toArray.mkString(", ")}")
      sys.exit(1)
    } else {
      System.err.println(s"[codegen-audit] OK: ${names.size} queries, " +
        "all generated code compiled")
    }
  }
}
