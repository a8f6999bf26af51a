package graft.io

/** The fixed scratch roots under java.io.tmpdir, one per query and
  * source dir, and their clean-up at main startup (Bench/Verify).
  *
  * Two kinds of tree live under them. A tree derived once from the
  * source tables and reused (the JSONL landings, qx28's ORC copy,
  * qp1's hive layout, qx20's schema eras) is published by
  * [[ArtifactStore.publish]] under a root of its own below its
  * query's root, keyed by the source stamps and the program. A
  * query's own output (q14's roundtrip, the verdict sinks, qp8's
  * refreshable mart) is overwritten at a fixed path on every run:
  * a query must be side-effect free beyond its own scratch write
  * (VERDICT r3 #4), so no declared query reaps the tmp root.
  */
object Scratch {

  /** Fixed q14 scratch root: overwritten in place on every run, so
    * repeated bench/verify invocations never accumulate directory
    * trees (~2100 hive dirs each at sf0.1).
    */
  def q14Dir: String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_q14_scratch").getAbsolutePath

  /** `<tmpdir>/graft_<tag>_<hash>_<sfDir>`, named like an artifact
    * root ([[ArtifactStore.keyedName]]): one fixed root per query and
    * source dir.
    */
  private def keyed(tag: String, sfDir: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      ArtifactStore.keyedName(s"graft_$tag", sfDir)).getAbsolutePath

  /** qp1's partitioned-mart root, one fixed path per sf dir (its
    * content is a function of the source data, so the path must key
    * on it — a Bench-at-sf0.1 run after a Verify-at-sf0.01 run must
    * not read the smaller mart).
    */
  def qp1Dir(sfDir: String): String = keyed("qp1", sfDir)

  /** qx13's bucketed-table root, keyed like [[qp1Dir]]. */
  def qx13Dir(sfDir: String): String = keyed("qx13", sfDir)

  /** qx20's schema-era roots (two parquet trees with DIFFERENT
    * schemas, read back via mergeSchema), keyed like [[qp1Dir]].
    */
  def qx20Dir(sfDir: String): String = keyed("qx20", sfDir)

  /** qs16's foreachBatch sink root (one subdir per micro-batch id),
    * keyed like [[qp1Dir]].
    */
  def qs16Dir(sfDir: String): String = keyed("qs16", sfDir)

  /** qp5's z-ordered lineitem layout, keyed like [[qp1Dir]]. */
  def qp5Dir(sfDir: String): String = keyed("qp5", sfDir)

  /** qx24's federation scratch (csv leg), keyed like [[qp1Dir]]. */
  def qx24Dir(sfDir: String): String = keyed("qx24", sfDir)

  /** qp4's compaction roots (fragmented + compacted trees), keyed
    * like [[qp1Dir]].
    */
  def qp4Dir(sfDir: String): String = keyed("qp4", sfDir)

  /** qp8's refreshable-mart root (v1 snapshot then dynamic partition
    * overwrite), keyed like [[qp1Dir]].
    */
  def qp8Dir(sfDir: String): String = keyed("qp8", sfDir)

  /** qd49's JSONL export/ingest roots (good + planted-corrupt
    * files), keyed like [[qp1Dir]].
    */
  def qd49Dir(sfDir: String): String = keyed("qd49", sfDir)

  /** qs38's streaming-JSONL landing root (good export + planted
    * corrupt file in ONE directory — the file-stream source lists a
    * single landing path), keyed like [[qp1Dir]].
    */
  def qs38Dir(sfDir: String): String = keyed("qs38", sfDir)

  /** qs39's admission-gate roots (the qs39 and qs48 JSONL landings +
    * the per-batch verdict sinks), keyed like [[qp1Dir]].
    */
  def qs39Dir(sfDir: String): String = keyed("qs39", sfDir)

  /** The sketch family's SHARED streaming landing root (round 13):
    * qs40–qs43 all drain the same corpus arrival, so they share one
    * landed JSONL tree (the per-gate qs40–qs43 roots this replaces
    * held four identical copies). Keyed like [[qp1Dir]].
    */
  def sketchDir(sfDir: String): String = keyed("sketch", sfDir)

  /** qx28's ORC roundtrip root, keyed like [[qp1Dir]]. */
  def qx28Dir(sfDir: String): String = keyed("qx28", sfDir)

  /** qd50's sharded-export root, keyed like [[qp1Dir]]. */
  def qd50Dir(sfDir: String): String = keyed("qd50", sfDir)

  /** Streaming landing dir (symlink to the single-file events table),
    * keyed like [[qp1Dir]]; shared by the streaming gate queries
    * (qs7/qs8/qs9).
    */
  def eventsLandingDir(sfDir: String): String = keyed("stream", sfDir)

  /** The file-stream source lists a DIRECTORY; testdata ships events
    * as one parquet file — expose it through a symlinked landing dir.
    * Pass-through when the table is already a directory.
    */
  def ensureEventsLanding(sfDir: String): String = {
    val src = java.nio.file.Paths.get(sfDir, "events.parquet")
    if (java.nio.file.Files.isDirectory(src)) src.toString
    else {
      val landing = java.nio.file.Paths.get(eventsLandingDir(sfDir))
      java.nio.file.Files.createDirectories(landing)
      val link = landing.resolve("events.parquet")
      // a dangling or re-pointed link must be recreated: Files.exists
      // FOLLOWS symlinks, so a stale link from a removed/regenerated
      // testdata tree reads as absent and createSymbolicLink would
      // throw FileAlreadyExists forever after
      if (java.nio.file.Files.isSymbolicLink(link) &&
          (!java.nio.file.Files.exists(link) ||
            java.nio.file.Files.readSymbolicLink(link) != src))
        java.nio.file.Files.delete(link)
      if (!java.nio.file.Files.exists(link,
          java.nio.file.LinkOption.NOFOLLOW_LINKS))
        java.nio.file.Files.createSymbolicLink(link, src)
      landing.toString
    }
  }

  /** Delete graft scratch trees under java.io.tmpdir: legacy
    * random-suffix dirs from earlier rounds and the fixed roots whose
    * prefixes are listed below. Two kinds of tree are left in place:
    * the published trees of qp1, qx20, qx28, qs38, qs39 and the
    * sketch family, whose key moves with their sources and the
    * program so they cannot go stale, and the roots that qp8, qd49
    * and qd50 overwrite on every run.
    */
  def reapTmp(): Unit = {
    val tmpRoot = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    // graft_qs7_ covers legacy round-6 landing trees (now graft_stream_);
    // graft_qs40_..43_ cover the per-gate sketch landings replaced by
    // the shared graft_sketch_ tree in round 13
    val prefixes = Seq("graft_q14_", "graft_qx13_", "graft_qs16_",
      "graft_qs7_", "graft_stream_", "graft_qx24_", "graft_qp4_",
      "graft_qp5_", "graft_qs40_", "graft_qs41_", "graft_qs42_",
      "graft_qs43_")
    if (java.nio.file.Files.isDirectory(tmpRoot)) {
      val it = java.nio.file.Files.list(tmpRoot)
      try it.forEach { p =>
        if (prefixes.exists(p.getFileName.toString.startsWith))
          org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
      } finally it.close()
    }
  }
}
