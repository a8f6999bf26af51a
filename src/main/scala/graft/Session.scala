package graft

import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.sql.SparkSession

/** The one place a graft session is configured. Every main and the
  * test suites build their session here, so they all run with the
  * same settings: operators rely on the functions [[GraftExtensions]]
  * injects and register none themselves. A scoped conf override goes
  * through [[withConfs]]; no other code in `src/main` sets or unsets
  * a session conf (SessionSpec scans for it).
  */
object Session {

  /** Cores for `local[n]`: `SPARK_GRAFT_CPUS`, default 4. */
  def cpusFromEnv: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** The `local[cpus]` session (`getOrCreate`: a live session is
    * returned as it is).
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // graft functions and the banded-levenshtein rule, installed at
      // construction (and so in every newSession()/foreachBatch clone)
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // no .crc sidecars written or verified on file://. Writers.sink
      // already spares batch writes the chmod fork, so this saves the
      // checksums: Bench on q14's partitioned write + read-back at
      // sf0.1 (4 cores, 3 sessions x 3 runs) took 8.4 s median with
      // it, 9.9 s without; qd49 0.63 vs 0.77 s; other writing queries
      // within noise. Cost: FileSystem.getLocal casts `file` to
      // LocalFileSystem and throws here, so Spark's RocksDB state
      // store cannot checkpoint to file:// on this session.
      .config("spark.hadoop.fs.file.impl", classOf[RawLocalFileSystem].getName)
      // status-store retention: even with the UI disabled,
      // AppStatusListener + SQLAppStatusListener retain up to 1000
      // jobs/stages/executions, and the retained SQL executions carry
      // the plan-graph strings of unrolled-DP oracles and literal-heavy
      // scorers. Across ~600 query executions a full Bench sweep's heap
      // crept 350 MB -> 1 GB of exactly such state, charged as old-gen
      // pressure to whatever query ran late. Keep a debugging-sized
      // window instead.
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "5000")
      .config("spark.sql.ui.retainedExecutions", "25")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` with `confs` set on the session in order, then restore
    * each key to its previous value, or unset it if it had none, also
    * when `body` throws. A lazily returned frame plans after the
    * restore, so a body whose plan depends on the confs materializes
    * its result inside the scope. If a set fails part way, the keys
    * already set are restored before the failure propagates.
    */
  def withConfs[A](spark: SparkSession, confs: Seq[(String, String)])
      (body: => A): A = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    var applied = 0
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v); applied += 1 }
      body
    } finally prev.take(applied).foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Drop every persistent RDD and the SQL cache: no query reuses
    * Spark state from an earlier one (cross-query reuse is driver-side
    * models and parquet artifacts, which this does not touch).
    *
    * CONTRACT (ADVICE r12): this unpersists ALL persistent RDDs, which
    * also drops the blocks BACKING localCheckpoint'd frames —
    * driver-side caches (TrainingOps models, any CHM) must therefore
    * NEVER hold a DataFrame backed by checkpoint blocks across
    * queries/runs: only collected objects or parquet paths (the
    * ArtifactStore seam). A cached checkpointed frame would fail with
    * 'block not found' on the next run.
    */
  def reset(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
  }
}
