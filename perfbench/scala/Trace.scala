package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ledger.RunLedger

/** In-memory span recorder for the traced run.
  *
  * Spans are recorded only around calls the benchmark makes into the
  * program (the pipeline run, the dimension load, each ledger call,
  * each query, each prebuild). Spark jobs become child spans through
  * a local property set while a span is open, so a job started on the
  * driver thread carries the id of the span that caused it, plus its
  * call site; the benchmark's Python side maps the call site's file to
  * a module. Every event is kept as one JSON line and written out when
  * the run ends.
  */
final class Tracer {
  private val events = ArrayBuffer.empty[String]
  private val nextId = new AtomicLong(1)
  private var stack: List[Long] = Nil
  @volatile private var iteration = -1

  // call spans use nanoTime; Spark's listener events carry epoch
  // millis, so keep both on one epoch-millisecond axis
  private val epochBaseNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def nowMs: Double = (epochBaseNs + System.nanoTime()) / 1e6

  def record(json: String): Unit = events.synchronized { events += json }

  def startIteration(i: Int): Unit = iteration = i

  def span[A](kind: String, name: String)(body: => A): A = {
    val sc = SparkSession.active.sparkContext
    val id = nextId.getAndIncrement()
    val parent = stack.headOption.getOrElse(0L)
    val previous = sc.getLocalProperty(Tracer.SpanProperty)
    stack = id :: stack
    sc.setLocalProperty(Tracer.SpanProperty, id.toString)
    val start = nowMs
    try body
    finally {
      val end = nowMs
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanProperty, previous)
      record(Json.obj("type" -> "span", "id" -> id, "parent" -> parent,
        "iter" -> iteration, "kind" -> kind, "name" -> name,
        "start_ms" -> start, "end_ms" -> end))
    }
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      record(Json.obj("type" -> "job_start", "job" -> e.jobId,
        "iter" -> iteration,
        "span" -> p.flatMap(x => Option(x.getProperty(Tracer.SpanProperty))).getOrElse("0"),
        // a job's call site is the name of its result stage, the
        // stage with the highest id among those it creates
        "callsite" -> (if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name),
        // adaptive execution submits a query's stages from a thread
        // pool, so their call sites name no program file; the SQL
        // execution they belong to does (see onOtherEvent)
        "sql" -> p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).getOrElse(""),
        "stages" -> e.stageIds.mkString(","), "start_ms" -> e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      record(Json.obj("type" -> "job_end", "job" -> e.jobId,
        "ok" -> (e.jobResult == JobSucceeded), "end_ms" -> e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      record(Json.obj("type" -> "stage", "stage" -> s.stageId,
        "attempt" -> s.attemptNumber(), "tasks" -> s.numTasks,
        "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
        "run_ms" -> (if (m == null) 0L else m.executorRunTime),
        "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
        "input_bytes" -> (if (m == null) 0L else m.inputMetrics.bytesRead),
        "spill_bytes" -> (if (m == null) 0L else m.diskBytesSpilled + m.memoryBytesSpilled)))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        record(Json.obj("type" -> "sql_start", "sql" -> x.executionId.toString,
          "root" -> x.rootExecutionId.getOrElse(x.executionId).toString,
          "callsite" -> x.description))
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo.attemptNumber > 0 || e.taskInfo.failed || e.taskInfo.killed)
        record(Json.obj("type" -> "task_retry", "stage" -> e.stageId))
  }

  /** SQL metrics of every executed plan node, once per node: a cached
    * plan (the pipeline caches its conformed and enriched frames) is
    * reached from every later execution that scans the cache, and its
    * metrics must count once.
    */
  private val seen = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      walk(qe.executedPlan)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def walk(p: SparkPlan): Unit = if (seen.add(p)) {
    val metrics = p.metrics.collect { case (k, v) if v.value != 0L => k -> v.value }
    if (metrics.nonEmpty)
      record(Json.obj("type" -> "node", "iter" -> iteration,
        "node" -> p.getClass.getSimpleName, "name" -> p.nodeName,
        "metrics" -> Json.raw(metrics.toSeq.sortBy(_._1)
          .map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}"))))
    val inner: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => Nil
    }
    (p.children ++ p.subqueries ++ inner).foreach(walk)
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def uninstall(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    seen.clear()
  }

  def lines: Seq[String] = events.synchronized(events.toList)
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** RunLedger decorator: one span per ledger call. */
final class TracedLedger(inner: RunLedger, tracer: Tracer) extends RunLedger {
  override def activeFiles(fileNames: Seq[String]): Seq[String] =
    tracer.span("ledger", "activeFiles")(inner.activeFiles(fileNames))
  override def markActive(fileName: String, location: String): Unit =
    tracer.span("ledger", "markActive")(inner.markActive(fileName, location))
  override def markInactive(fileNames: Seq[String]): Unit =
    tracer.span("ledger", "markInactive")(inner.markInactive(fileNames))
}

/** Just enough JSON writing for flat event records. */
object Json {
  final case class Raw(text: String)
  def raw(text: String): Raw = Raw(text)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case Raw(t) => t
    case s: String => str(s)
    case d: Double => String.format(java.util.Locale.ROOT, "%.6f", Double.box(d))
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case m: Map[_, _] => m.toSeq.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case other => str(String.valueOf(other))
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
