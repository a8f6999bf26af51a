package graft.fs

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}

/** Object-store file management around the job (SURVEY.md §2.1
  * S9/S10; reference aws_read.py / aws_file_download.py /
  * move_files.py / aws_delete.py, ~80 LoC of boto3).
  *
  * One implementation over the Hadoop FileSystem API covers both
  * worlds: `file://` in tests, `s3a://` (or any HCFS) in production —
  * Spark reads those URIs directly, so there is no separate
  * download/upload step like the reference's boto3 round-trips.
  */
final class ObjectStore(conf: Configuration) {

  private def fs(p: Path): FileSystem = p.getFileSystem(conf)

  /** S9 list — files under a prefix, non-recursive, sorted by name
    * (`listStatus` order is unspecified on local FS and HDFS), so every
    * run processes a landing in the same order on every filesystem.
    */
  def list(dir: String): Seq[String] = {
    val p = new Path(dir)
    val f = fs(p)
    if (!f.exists(p)) Nil
    else f.listStatus(p).filter(_.isFile).map(_.getPath.toString).toSeq.sorted
  }

  /** S9 copy+delete — the reference's "move to processed/" archive
    * step (move_files.py:26-57).
    */
  def move(src: String, dstDir: String): String = {
    val s = new Path(src)
    val f = fs(s)
    val d = new Path(dstDir, s.getName)
    f.mkdirs(new Path(dstDir))
    if (!f.rename(s, d))
      throw new java.io.IOException(s"move failed: $src -> $d")
    d.toString
  }

  /** Remote → local copy (aws_file_download.py:12-25). Spark jobs
    * read HCFS URIs directly, so this exists for the side artifacts
    * the reference round-trips — control files, small lookups.
    */
  def copyToLocal(src: String, localDstDir: String): String = {
    val s = new Path(src)
    val dstDir = new java.io.File(localDstDir)
    dstDir.mkdirs()
    val d = new java.io.File(dstDir, s.getName)
    copy(s, local(d))
    d.getAbsolutePath
  }

  /** Local → remote copy (upload_to_s3.py:11-18). */
  def copyFromLocal(localSrc: String, dstDir: String): String = {
    val s = local(new java.io.File(localSrc))
    val d = new Path(dstDir, s.getName)
    val f = fs(d)
    f.mkdirs(new Path(dstDir))
    copy(s, d)
    d.toString
  }

  /** The local side as a `file:` path: it resolves to the local
    * filesystem whatever `fs.defaultFS` is, without
    * `FileSystem.getLocal`. Hadoop's copyFromLocalFile/copyToLocalFile
    * go through that, and it casts the `file` filesystem to
    * LocalFileSystem, which fails under graft.Session's
    * RawLocalFileSystem.
    */
  private def local(f: java.io.File): Path = new Path(f.getAbsoluteFile.toURI)

  /** Copy that keeps the source, replaces an existing target, and
    * fails loudly (FileUtil.copy reports some failures as `false`).
    */
  private def copy(s: Path, d: Path): Unit =
    if (!FileUtil.copy(fs(s), s, fs(d), d, false, true, conf))
      throw new java.io.IOException(s"copy failed: $s -> $d")

  /** S9/S10 delete — scratch cleanup (local_file_delete.py:5-19). */
  def delete(path: String): Boolean = {
    val p = new Path(path)
    fs(p).delete(p, true)
  }

  def exists(path: String): Boolean = {
    val p = new Path(path)
    fs(p).exists(p)
  }
}
