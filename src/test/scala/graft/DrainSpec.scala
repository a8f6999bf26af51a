package graft

/** [[graft.streaming.Drain]] leaves nothing behind: a memory-sink
  * drain returns its rows as a local frame and drops the sink's view,
  * so a repeated gate neither keeps one view per family nor breaks a
  * frame an earlier run returned.
  */
class DrainSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val memoryDrainGates = Seq(
    "qs7_stream_sessionize", "qs8_stream_hourly", "qs9_stream_dedup",
    "qs12_stream_session_window", "qs14_stream_segment",
    "qs15_stream_stream_join", "qs20_stream_dedup_ww", "qs38_jsonl_stream",
    "qs40_stream_hll", "qs41_stream_cm", "qs42_stream_bottomk",
    "qs43_stream_quantile")

  private def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .map(_.name).toSet

  memoryDrainGates.foreach { name =>
    test(s"$name twice: no view or active query left, the first frame still collects") {
      val gate = SparkEntry.queries(name)
      val views = tempViews
      def runOnce() = {
        val df = gate(spark, sf)
        val rows = df.collect().toSeq
        assert(tempViews == views, s"a drain of $name left a view behind")
        assert(spark.streams.active.isEmpty)
        (df, rows)
      }
      val (first, firstRows) = runOnce()
      val (_, secondRows) = runOnce()
      assert(secondRows == firstRows)
      assert(first.collect().toSeq == firstRows,
        s"$name's first frame must outlive the second run")
    }
  }
}
