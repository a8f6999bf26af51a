package graft.io

import graft.fs.{ChecksumLocalFs, LocalFs}
import org.apache.hadoop.fs.{LocalFileSystem, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}
import org.apache.spark.sql.functions.col

/** Sink operators (SURVEY.md §2.1 S5–S7).
  *
  * Parquet writers mirror the reference's two layouts
  * (parquet_writer.py:10-14 flat; main.py:360-365 partitioned). The
  * partitioned writer clusters by the partition keys first so each
  * hive directory receives one file instead of one-per-task — at
  * 1000 executors × thousands of partitions the naive form melts the
  * namenode/object store with tiny files.
  */
object Writers {

  private val twins = Map(
    classOf[RawLocalFileSystem].getName -> classOf[LocalFs].getName,
    classOf[LocalFileSystem].getName -> classOf[ChecksumLocalFs].getName)

  /** `df.write` on the fork-free twin of the session's local
    * filesystem ([[graft.fs.LocalFs]]), set as per-write Hadoop
    * options: `RawLocalFileSystem` → `LocalFs`; unset or
    * `LocalFileSystem` → `ChecksumLocalFs` (same `.crc` sidecars); any
    * other `fs.file.impl` → no option. `fs.file.impl.disable.cache` is
    * required: the FileSystem cache is keyed by scheme, not class.
    * Only the `file` scheme reads these keys, and the bytes, files and
    * modes written are unchanged (LocalFsSpec).
    *
    * Every program-side batch path write goes through here, except
    * `Bucketing.writeBucketed` (`saveAsTable` stores write options in
    * the catalog) and streaming queries (their checkpoint and sink
    * logs use the session's filesystem whatever the options say).
    */
  def sink(df: DataFrame): DataFrameWriter[Row] = {
    val impl = df.sparkSession.sessionState.newHadoopConf()
      .getTrimmed("fs.file.impl", classOf[LocalFileSystem].getName)
    twins.get(impl).fold(df.write)(twin => df.write
      .option("fs.file.impl", twin).option("fs.file.impl.disable.cache", "true"))
  }

  /** S5 — flat overwrite. */
  def writeFlat(df: DataFrame, path: String): Unit =
    sink(df).mode("overwrite").parquet(path)

  /** S6 — hive-partitioned overwrite, small-files-safe. Uses the
    * default v1 committer: with rows clustered by partition key each
    * hive directory lives in exactly one task's output, so the driver
    * merge is one rename per directory (on S3A prefer the magic
    * committer). Locally the per-file cost is neither the disk nor the
    * committer's renames. [[sink]] removes the forked `chmod` per
    * created file and directory; what is left is CPU-bound per-file
    * Parquet set-up. In a cold etl_monthly run on 4 vCPU, the
    * 1,997-file mart write's last stage took 2.6–3.1 s of wall time on
    * 4.8 s of CPU and 9–12 s of task time. A 1 ms JFR profile of it has
    * 563 of 622 task samples in closing one file and opening the next.
    * 111 of those are `ColumnConfigParser.parseConfig`, which copies and
    * prefix-scans the whole job `Configuration` for every file. 46 are
    * the schema JSON parse in `ParquetWriteSupport.init`, and 22 are
    * building a `FileSystem` per file, since this write disables the
    * cache.
    */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String],
                       numTasks: Int = 0): Unit = {
    // Explicit partition count: with repartition(cols) alone AQE
    // coalesces the (byte-wise tiny) shuffle to 1-2 tasks, which then
    // write thousands of partition directories serially — the cost of
    // a hive-partitioned write is per-FILE, not per-byte, so keep the
    // writer task count pinned. Default = cluster parallelism.
    val n = if (numTasks > 0) numTasks
            else df.sparkSession.sparkContext.defaultParallelism
    sink(df.repartition(n, partitionCols.map(col): _*))
      .mode("overwrite")
      // snappy: per-file cost is writer+codec init when partitions are
      // fine-grained; zstd's context setup is ~2x snappy's per file.
      .option("compression", "snappy")
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** S7 — JDBC append (database_write.py:11-14). JdbcSpec and
    * PipelineSpec run it against embedded Derby, as does perfbench's
    * ETL set-up.
    */
  def writeJdbcAppend(df: DataFrame, url: String, table: String,
                      props: java.util.Properties): Unit =
    df.write.mode("append").jdbc(url, table, props)
}
