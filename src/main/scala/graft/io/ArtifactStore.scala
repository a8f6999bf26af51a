package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Stamp-keyed PARQUET artifact cache — the storage-backed member of
  * the amortization family (VERDICT r8 #2-4). The driver-side models
  * (`TrainingOps.ivfModel` et al.) hold kilobyte-sized arrays in the
  * JVM through [[StampMemo]]; artifacts that are CORPUS-grain — the
  * kNN edge list (k·N rows), the SQ8 packed-code table (N rows), the Hamming
  * signature table — are what production materializes ONCE to storage
  * and then reads per query, exactly like any other table. This
  * helper is that shape on a local scratch disk: build → write
  * parquet → read back, keyed by the source tables' file stamps plus
  * the program that builds it ([[programDigest]], Spark's version),
  * so a regenerated corpus or a changed build invalidates the
  * artifact instead of silently serving stale derived data. Nothing
  * is bumped by hand; the first use after any code change rebuilds
  * each artifact once.
  *
  * Publication protocol (round 10, hardening the r9 design): the
  * stamp IS the directory name — each build writes to a private
  * `tmp-*` dir and atomically renames it to `data-<stampHash>`, so a
  * reader (in THIS process or any other sharing the scratch root)
  * either sees a complete tree or no tree; there is no
  * mutate-in-place window and no separate `_stamp` file to tear. A
  * build that loses the rename race discards its own tmp tree and
  * reads the winner's. Stale stamp dirs are reaped lazily with an
  * age guard so a concurrent reader of a just-replaced artifact is
  * not unlinked mid-scan.
  *
  * The scratch root is USER-OWNED (`$GRAFT_ARTIFACT_DIR` override,
  * default `~/.cache/graft-artifacts`) rather than the shared
  * world-writable java.io.tmpdir, so another local user cannot
  * pre-create or symlink the artifact paths.
  *
  * At 100 TB the artifact lives on the object store next to the
  * source tables and the build is a scheduled job; the read side —
  * `spark.read.parquet` of a derived table — is identical, and the
  * rename-publish protocol maps onto any store with atomic
  * rename/commit semantics.
  */
object ArtifactStore {

  /** File-stat stamp for a table under the sf dir: RELATIVE PATH +
    * size + mtime of every regular file, walked recursively in
    * sorted order — a pure filesystem stat, no Spark job. Recursion
    * (round 10, ADVICE r9) covers partitioned sources: an in-place
    * rewrite of a nested leaf changes neither the top-level subdir
    * name nor its length, which the old one-level listing missed.
    */
  def tableStamp(dir: String, table: String): String = {
    val root = new java.io.File(s"$dir/$table.parquet")
    val base = root.toPath
    walk(root).map { f =>
      val rel =
        if (f == root) f.getName else base.relativize(f.toPath).toString
      s"$rel:${f.length}:${f.lastModified}"
    }.mkString(",")
  }

  /** The stamp of several source tables: each [[tableStamp]] in
    * argument order — the source half of every stored artifact's key
    * and of every [[StampMemo]] key.
    */
  private[io] def sourceStamp(dir: String, tables: Seq[String]): String =
    tables.map(tableStamp(dir, _)).mkString(";")

  /** `f` itself, or every file below it in sorted name order. */
  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty)
        .sortBy(_.getName).toSeq.flatMap(walk)
    else Seq(f)

  /** SHA-256 of the compiled program, computed once per JVM on first
    * use: the code source of this class — its class directory (sbt,
    * perfbench), or the jar that holds it. A change to any builder,
    * UDF, Catalyst expression or driver-side trainer moves it, which
    * a per-builder plan hash could not see. Throws when the class has
    * no code source: an artifact is never keyed on nothing.
    */
  lazy val programDigest: String = {
    val src = Option(getClass.getProtectionDomain.getCodeSource)
      .flatMap(cs => Option(cs.getLocation)).getOrElse(
        throw new IllegalStateException(
          s"${getClass.getName} has no code source to digest"))
    digestOf(new java.io.File(src.toURI))
  }

  /** Digest of a class directory (every file's relative path and
    * bytes, walked like [[tableStamp]]) or of one jar's bytes.
    */
  private[graft] def digestOf(root: java.io.File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(bytes: Array[Byte]): Unit = {
      md.update(java.nio.ByteBuffer.allocate(8).putLong(bytes.length).array)
      md.update(bytes)
    }
    walk(root).foreach { f =>
      if (f != root)
        add(root.toPath.relativize(f.toPath).toString.getBytes("UTF-8"))
      add(java.nio.file.Files.readAllBytes(f.toPath))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** The one key every stored artifact and landing is named by: a
    * 64-bit hash of (program digest, Spark version, source stamp).
    */
  private[io] def stampKey(digest: String, stamp: String): String = {
    val key = s"$digest;${org.apache.spark.SPARK_VERSION};$stamp"
    java.lang.Long.toHexString(
      (scala.util.hashing.MurmurHash3.stringHash(key).toLong << 32)
        | (scala.util.hashing.MurmurHash3
            .stringHash(key.reverse).toLong & 0xffffffffL))
  }

  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** User-owned artifact root: `$GRAFT_ARTIFACT_DIR` when set, else
    * `~/.cache/graft-artifacts`, falling back to a tmpdir subdir only
    * when no home directory exists.
    */
  private[graft] def scratchRoot: java.io.File =
    sys.env.get("GRAFT_ARTIFACT_DIR").map(new java.io.File(_)).getOrElse {
      sys.props.get("user.home").filter(h => h.nonEmpty && h != "?")
        .map(h => new java.io.File(h, ".cache/graft-artifacts"))
        .getOrElse(new java.io.File(
          System.getProperty("java.io.tmpdir"), "graft-artifacts"))
    }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete(): Unit
  }

  /** Read the artifact `name` derived from `dir/table.parquet`,
    * building it iff no tree exists for the current key.
    *
    * The key is (source file stats, [[programDigest]], Spark version):
    * artifacts OUTLIVE the JVM, so a change to the BUILD LOGIC must
    * move the key as surely as a regenerated source does. It is
    * computed INSIDE the per-artifact lock (a pre-lock stamp could
    * publish over a newer build after losing a regeneration race).
    * The artifact root embeds a hash of the RAW dir string —
    * sanitizing alone can collapse distinct dirs onto one root and
    * thrash rebuilds.
    */
  def parquetArtifact(s: SparkSession, dir: String, table: String,
                      name: String)(build: => DataFrame): DataFrame =
    parquetArtifact(s, dir, Seq(table), name)(build)

  /** Multi-source variant (round 14): an artifact derived from a JOIN
    * of several source tables (qe25's corpus index reads embeddings
    * AND the documents split) must move when ANY of them regenerates
    * — the stamp concatenates every table's file stats in argument
    * order.
    */
  def parquetArtifact(s: SparkSession, dir: String, tables: Seq[String],
                      name: String)(build: => DataFrame): DataFrame =
    parquetArtifactUnder(programDigest, s, dir, tables, name)(build)

  /** [[parquetArtifact]] under an explicit program digest — the seam
    * a spec uses to stand in for a code change.
    */
  private[graft] def parquetArtifactUnder(digest: String, s: SparkSession,
                                          dir: String, tables: Seq[String],
                                          name: String)
                                         (build: => DataFrame): DataFrame = {
    val dirHash = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(dir).toLong & 0xffffffffL)
    val root = new java.io.File(scratchRoot,
      name + "_" + dirHash + "_" +
        dir.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(32))
    val lock = locks.computeIfAbsent(root.getAbsolutePath, _ => new Object)
    lock.synchronized {
      val stampHash = stampKey(digest, sourceStamp(dir, tables))
      val dataDir = new java.io.File(root, s"data-$stampHash")
      if (!dataDir.isDirectory) {
        java.nio.file.Files.createDirectories(root.toPath)
        val tmp = new java.io.File(root,
          "tmp-" + java.util.UUID.randomUUID.toString.take(13))
        Writers.sink(build).mode("overwrite").parquet(tmp.getAbsolutePath)
        try
          java.nio.file.Files.move(tmp.toPath, dataDir.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch {
          // lost a cross-process race: the winner's tree is complete
          // (rename is atomic), ours is surplus
          case _: java.nio.file.FileAlreadyExistsException
               | _: java.nio.file.DirectoryNotEmptyException
            if dataDir.isDirectory => deleteRec(tmp)
        }
        // reap superseded stamp dirs and orphaned tmp trees, with an
        // age guard so another process still scanning a just-replaced
        // artifact is not unlinked mid-read. The guard must run off
        // the SUPERSESSION time, not the dir's own mtime (its BUILD
        // time — ADVICE r10): a tree built an hour ago would
        // otherwise be unlinked the instant a new stamp publishes,
        // exactly when a lazy DataFrame may still be scanning it. A
        // zero-byte `stale-<dir>` marker records when the tree was
        // FIRST seen superseded; deletion happens only on a later
        // pass once the marker itself has aged past the cutoff.
        val cutoff = System.currentTimeMillis - 15L * 60 * 1000
        Option(root.listFiles()).getOrElse(Array.empty)
          .filter(f => f.getName != dataDir.getName &&
            (f.getName.startsWith("data-") || f.getName.startsWith("tmp-")))
          .foreach { f =>
            val marker = new java.io.File(root, "stale-" + f.getName)
            if (!marker.exists) marker.createNewFile(): Unit
            else if (marker.lastModified < cutoff) {
              deleteRec(f); marker.delete(): Unit
            }
          }
        // markers whose tree is already gone (deleted above, or by an
        // earlier process) are themselves litter
        Option(root.listFiles()).getOrElse(Array.empty)
          .filter(f => f.getName.startsWith("stale-") &&
            !new java.io.File(root, f.getName.stripPrefix("stale-")).exists)
          .foreach(_.delete(): Unit)
      }
      s.read.parquet(dataDir.getAbsolutePath)
    }
  }
}
