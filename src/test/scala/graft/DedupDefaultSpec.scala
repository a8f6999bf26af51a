package graft

import graft.streaming.EventStream

/** VERDICT r6 #5: the operator-level streaming dedup DEFAULT must be
  * the bounded-state form. qs9's plain `dropDuplicates` (id-keyed
  * state that never expires) stays available as the documented
  * contrast, but only behind an explicit opt-out.
  */
class DedupDefaultSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("dedupStream defaults to the bounded-state contract") {
    assert(EventStream.dedupDefaultBounded,
      "the library default must be bounded state (opt OUT of it, not in)")
  }

  test("bounded flag compiles to DeduplicateWithinWatermark; plain to Deduplicate") {
    val evDir = s"$sf/events.parquet"
    val bounded = EventStream.dedupFrame(spark, evDir, bounded = true)
      .queryExecution.analyzed.toString
    assert(bounded.contains("DeduplicateWithinWatermark"),
      s"bounded frame missing WithinWatermark operator:\n$bounded")
    val unbounded = EventStream.dedupFrame(spark, evDir, bounded = false)
      .queryExecution.analyzed.toString
    assert(unbounded.contains("Deduplicate") &&
      !unbounded.contains("DeduplicateWithinWatermark"),
      s"unbounded frame should be plain Deduplicate:\n$unbounded")
  }

  test("default drain equals the explicit WithinWatermark drain") {
    val landing = graft.io.Scratch.ensureEventsLanding(sf)
    val byDefault = EventStream.dedupStream(spark, landing)
      .orderBy("event_id").collect().toSeq
    val explicit = EventStream.dedupWithinWatermarkAvailableNow(
      spark, landing).orderBy("event_id").collect().toSeq
    assert(byDefault == explicit)
  }
}
