package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The one way a streaming query runs here: start it with
  * `Trigger.AvailableNow`, consume what has landed, wait for it to
  * stop (SURVEY.md §2.8's batch file lifecycle, and the same code
  * keeps running when files keep arriving under another trigger).
  *
  * Each drain runs inside one conf scope ([[graft.Session.withConfs]]):
  *
  *  - 8 shuffle partitions, so 8 state-store instances per stateful
  *    operator. At drain scale the store fleet, not the data, is the
  *    bill: qs15's stream-stream join (four stores per partition)
  *    took 7.0 s at the session's 32 partitions. A production
  *    deployment sizes this to cluster cores;
  *  - under `RocksDBStateStoreProvider`, the checksummed local
  *    filesystem ([[graft.fs.ChecksumLocalFs]], uncached): RocksDB
  *    uploads snapshots with `copyFromLocalFile`, which casts the
  *    `file` filesystem to `LocalFileSystem` and so fails under the
  *    session's `RawLocalFileSystem`. The default provider drains on
  *    the session's filesystem;
  *  - the caller's confs, such as [[graft.core.Tables.eventReadConfs]].
  *
  * The frame is built inside the scope (it is by-name), so a source
  * whose schema depends on the confs sees them, and every micro-batch
  * plans under them.
  */
object Drain {

  private val Partitions = "spark.sql.shuffle.partitions" -> "8"

  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Sink names must be unique per start: a memory sink registers a
    * view under its query's name.
    */
  private val runs = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Drain `frame` into a memory sink and return the drained rows as
    * a local frame. The sink's table is collected inside the scope (a
    * driver-side `LocalTableScan`, no job) and its view dropped before
    * returning, so a drain leaves no view or active query behind, and
    * the frame stays valid whatever runs next.
    */
  def memory(s: SparkSession, frame: => DataFrame, outputMode: String,
             confs: Seq[(String, String)] = Nil): DataFrame = {
    val name = s"drain_${runs.incrementAndGet()}"
    val table = scoped(s, confs) {
      try {
        run(frame.writeStream.outputMode(outputMode).format("memory"), name)
        val t = s.table(name)
        (t.schema, t.collect().toSeq)
      } finally s.catalog.dropTempView(name)
    }
    s.createDataFrame(table._2.asJava, table._1)
  }

  /** Drain `frame`, handing each micro-batch and its id to `fn`: the
    * per-batch-id sinks, where a retried batch overwrites its own
    * output.
    */
  def foreachBatch(s: SparkSession, frame: => DataFrame,
                   confs: Seq[(String, String)] = Nil)
                  (fn: (DataFrame, Long) => Unit): Unit =
    scoped(s, confs) {
      run(frame.writeStream.foreachBatch(fn),
        s"drain_${runs.incrementAndGet()}")
    }

  /** The scope every drain runs in, for a caller that runs several
    * drains concurrently: nested inside it, each drain's own set and
    * restore rewrites the same values, so the first drain to finish
    * cannot restore the session defaults under a sibling still
    * planning.
    */
  private[streaming] def scoped[A](s: SparkSession,
                                   confs: Seq[(String, String)])
                                  (body: => A): A = {
    val rocksDbFs =
      if (s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
            .contains(RocksDb))
        Seq("fs.file.impl" -> classOf[graft.fs.ChecksumLocalFs].getName,
          "fs.file.impl.disable.cache" -> "true")
      else Nil
    graft.Session.withConfs(s, (Partitions +: rocksDbFs) ++ confs)(body)
  }

  private def run(w: DataStreamWriter[Row], name: String): Unit =
    w.queryName(name).trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
}
