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
  * Every derived tree that outlives the JVM is published through
  * [[publish]], parquet artifact or not: the JSONL landings of qs38,
  * qs39, qs48 and the sketch family, qx28's ORC copy, qp1's hive
  * layout and qx20's schema eras. The key IS the directory name —
  * each build writes a private `tmp-*` dir and atomically renames it
  * to `data-<key>`, so there is no mutate-in-place window and no
  * separate marker to tear.
  *
  * The parquet artifacts' scratch root is USER-OWNED
  * (`$GRAFT_ARTIFACT_DIR` override, default `~/.cache/graft-artifacts`)
  * rather than the shared world-writable java.io.tmpdir, so another
  * local user cannot pre-create or symlink the artifact paths. The
  * other trees keep their [[Scratch]] roots under java.io.tmpdir.
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

  /** `<tag>_<hash of the raw dir>_<last 32 chars of the sanitized
    * dir>`: the name of a root keyed on one source dir. Sanitizing
    * alone maps `/a/b c` and `/a/b_c` to one name, and the reaper
    * would then thrash between the two sources' trees.
    */
  private[io] def keyedName(tag: String, dir: String): String =
    tag + "_" + java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(dir).toLong & 0xffffffffL) +
      "_" + dir.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(32)

  /** Read the artifact `name` derived from `dir/table.parquet`,
    * building it iff no tree exists for the current key.
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
                                         (build: => DataFrame): DataFrame =
    s.read.parquet(publishUnder(digest,
        new java.io.File(scratchRoot, keyedName(name, dir)).getPath,
        dir, tables) { tmp =>
      Writers.sink(build).mode("overwrite").parquet(tmp)
    })

  /** The key of a tree derived from `dir`'s `tables` by this program:
    * what [[publish]] names its tree by, for a layout that cannot be
    * renamed into place (qx13's catalog tables record their paths).
    */
  def sourceKey(dir: String, tables: Seq[String]): String =
    stampKey(programDigest, sourceStamp(dir, tables))

  /** Publish the tree `write` lays down from `dir`'s `tables` under
    * `root` and return its path, building it iff no tree exists for
    * the current key ([[stampKey]]). The key is computed INSIDE the
    * per-root lock (a pre-lock stamp could publish over a newer build
    * after losing a regeneration race). `write` gets a private
    * `tmp-*` path; a `write` that throws publishes nothing, and a
    * build that loses the rename race to another process discards
    * its own tree. The root records `dir`; see [[reap]].
    */
  def publish(root: String, dir: String, tables: Seq[String])
             (write: String => Unit): String =
    publishUnder(programDigest, root, dir, tables)(write)

  /** [[publish]] under an explicit program digest. */
  private[graft] def publishUnder(digest: String, root: String, dir: String,
                                  tables: Seq[String])
                                 (write: String => Unit): String = {
    val rootDir = new java.io.File(root).getAbsoluteFile
    val lock = locks.computeIfAbsent(rootDir.getPath, _ => new Object)
    lock.synchronized {
      val dataDir = new java.io.File(rootDir,
        "data-" + stampKey(digest, sourceStamp(dir, tables)))
      if (!dataDir.isDirectory) {
        java.nio.file.Files.createDirectories(rootDir.toPath)
        val record = new java.io.File(rootDir, SourceRecord)
        if (!record.isFile)
          java.nio.file.Files.write(record.toPath, dir.getBytes("UTF-8")): Unit
        val tmp = new java.io.File(rootDir,
          "tmp-" + java.util.UUID.randomUUID.toString.take(13))
        try write(tmp.getPath)
        catch { case e: Throwable => deleteRec(tmp); throw e }
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
        reap(rootDir, dataDir)
      }
      dataDir.getPath
    }
  }

  /** The file in each published root that records its source dir. */
  private val SourceRecord = "source-dir"

  /** Reap, after `dataDir` is published: the root's superseded
    * `data-*` trees and orphaned `tmp-*` trees, then every sibling
    * root whose recorded source dir no longer exists (a root with no
    * record is left alone). Both go through one age guard, so another
    * process still scanning a just-replaced tree is not unlinked
    * mid-read. The guard runs off the SUPERSESSION time, not the
    * tree's own mtime (its BUILD time — ADVICE r10): a tree built an
    * hour ago would otherwise be unlinked the instant a new stamp
    * publishes, exactly when a lazy DataFrame may still be scanning
    * it. A zero-byte marker records when the tree was FIRST seen
    * superseded (`stale-<tree>` beside it) or orphaned (`orphaned`
    * inside the root); deletion happens only on a later pass once
    * the marker itself has aged past the cutoff.
    */
  private def reap(root: java.io.File, dataDir: java.io.File): Unit = {
    val cutoff = System.currentTimeMillis - 15L * 60 * 1000
    def ageOut(tree: java.io.File, marker: java.io.File): Unit =
      if (!marker.exists) marker.createNewFile(): Unit
      else if (marker.lastModified < cutoff) {
        deleteRec(tree); marker.delete(): Unit
      }
    def list(f: java.io.File) =
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
    list(root)
      .filter(f => f.getName != dataDir.getName &&
        (f.getName.startsWith("data-") || f.getName.startsWith("tmp-")))
      .foreach(f => ageOut(f, new java.io.File(root, "stale-" + f.getName)))
    // markers whose tree is already gone (deleted above, or by an
    // earlier process) are themselves litter
    list(root)
      .filter(f => f.getName.startsWith("stale-") &&
        !new java.io.File(root, f.getName.stripPrefix("stale-")).exists)
      .foreach(_.delete(): Unit)
    list(root.getParentFile).filter(_ != root).foreach { sib =>
      val record = new java.io.File(sib, SourceRecord)
      if (record.isFile) {
        val marker = new java.io.File(sib, "orphaned")
        val src = new String(
          java.nio.file.Files.readAllBytes(record.toPath), "UTF-8")
        // a source regenerated at the same path revives its root
        if (new java.io.File(src).exists) marker.delete(): Unit
        else ageOut(sib, marker)
      }
    }
  }
}
