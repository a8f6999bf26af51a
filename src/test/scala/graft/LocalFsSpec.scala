package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.fs.{ChecksumLocalFs, LocalFs}
import graft.io.Writers
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A `file` implementation the write routing must not replace. */
class CustomLocalFs extends RawLocalFileSystem

/** The fork-free local filesystem and the write routing onto it:
  * `LocalFs` leaves the bits `RawLocalFileSystem` (a forked `chmod`)
  * leaves; a routed write lays down the same files, modes and `.crc`
  * sidecars as a plain one; and the routing really reaches `LocalFs`.
  */
class LocalFsSpec extends SparkSpec {

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & oct("7777")

  private def mode(p: Path): Int = mode(Paths.get(p.toUri))

  private def oct(digits: String): Int = Integer.parseInt(digits, 8)

  private def local[F <: FileSystem](fs: F, conf: Configuration = new Configuration())
      : F = {
    fs.initialize(java.net.URI.create("file:///"), conf)
    fs
  }

  /** A child session whose `file` scheme resolves to `impl`, uncached
    * so a plain write sees it too.
    */
  private def sessionWith(impl: Class[_ <: FileSystem]): SparkSession = {
    val s = spark.newSession()
    s.conf.set("fs.file.impl", impl.getName)
    s.conf.set("fs.file.impl.disable.cache", "true")
    s
  }

  private def frame(s: SparkSession): DataFrame =
    s.range(0, 60).selectExpr("id", "id % 5 AS p", "id % 2 AS q")

  /** Per directory under `root`: (normalised file name, mode) of every
    * entry, part-file names reduced to their role.
    */
  private def layout(root: String): Map[String, Seq[(String, Int)]] = {
    val base = Paths.get(root)
    val files = Files.walk(base).iterator().asScala.toSeq
    files.filter(_ != base).groupBy(p => base.relativize(p.getParent).toString)
      .map { case (dir, ps) =>
        dir -> ps.map(p => (p.getFileName.toString
          .replaceAll("part-\\d+-[0-9a-f-]+\\.c\\d+", "part"), mode(p))).sorted
      }
  }

  test("LocalFs.setPermission leaves chmod's bits for every mode and under umask 077") {
    val root = tempDir("localfs_bits")
    val raw = local(new RawLocalFileSystem)
    val fast = local(new LocalFs)
    for (m <- 0 to oct("777"); dir <- Seq(false, true)) {
      val perm = new FsPermission(m.toShort)
      val Seq(a, b) = Seq("raw", "fast").map { side =>
        val p = Paths.get(root, f"$side$m%03o$dir")
        if (dir) Files.createDirectory(p) else Files.createFile(p)
      }
      raw.setPermission(new Path(a.toUri), perm)
      fast.setPermission(new Path(b.toUri), perm)
      assert(mode(a) == m && mode(b) == m, f"mode $m%03o, directory $dir")
    }
    val umask = new Configuration()
    umask.set("fs.permissions.umask-mode", "077")
    Seq[(FileSystem, FileSystem)](
      local(new RawLocalFileSystem, umask) -> local(new LocalFs, umask),
      local(new LocalFileSystem, umask) -> local(new ChecksumLocalFs, umask)
    ).zipWithIndex.foreach { case ((ref, twin), i) =>
      val a = new Path(s"file://$root/umask$i/ref/f")
      val b = new Path(s"file://$root/umask$i/twin/f")
      ref.create(a).close()
      twin.create(b).close()
      assert(mode(a) == oct("600") && mode(b) == oct("600"))
      assert(Files.exists(Paths.get(s"$root/umask$i/twin/.f.crc")) ==
        Files.exists(Paths.get(s"$root/umask$i/ref/.f.crc")))
    }
  }

  test("LocalFs leaves a sticky bit and a setgid directory to chmod") {
    val root = tempDir("localfs_dirs")
    val raw = local(new RawLocalFileSystem)
    val fast = local(new LocalFs)
    def dirPair(name: String): Seq[java.nio.file.Path] = Seq("raw", "fast")
      .map(side => Files.createDirectories(Paths.get(root, side, name)))
    // sticky: no NIO flag for it, so only the chmod fallback sets it
    val sticky = new FsPermission(oct("1777").toShort)
    val Seq(r1, f1) = dirPair("sticky")
    raw.setPermission(new Path(r1.toUri), sticky)
    fast.setPermission(new Path(f1.toUri), sticky)
    assert(mode(r1) == oct("1777") && mode(f1) == oct("1777"))
    // setgid: chmod 0750 keeps a directory's setgid bit, NIO would not
    val Seq(r2, f2) = dirPair("setgid")
    Seq(r2, f2).foreach(Files.setAttribute(_, "unix:mode", Integer.valueOf(oct("2755"))))
    raw.setPermission(new Path(r2.toUri), new FsPermission(oct("750").toShort))
    fast.setPermission(new Path(f2.toUri), new FsPermission(oct("750").toShort))
    assert(mode(r2) == oct("2750") && mode(f2) == oct("2750"))
  }

  test("writePartitioned lays down a plain write's files, modes and .crc (Raw and default)") {
    Seq(sessionWith(classOf[LocalFileSystem]) -> true,
        sessionWith(classOf[RawLocalFileSystem]) -> false)
      .foreach { case (s, checksummed) =>
        val df = frame(s)
        val plain = tempDir("localfs_plain")
        val routed = tempDir("localfs_routed")
        df.repartition(1).write.mode("overwrite").partitionBy("p", "q")
          .parquet(plain)
        Writers.writePartitioned(df, routed, Seq("p", "q"), numTasks = 1)
        val want = layout(plain)
        assert(want.size == 16, "root, 5 p dirs, 10 p/q dirs")
        assert(want("p=0/q=0").map(_._1) == (
          if (checksummed) Seq(".part.snappy.parquet.crc", "part.snappy.parquet")
          else Seq("part.snappy.parquet")))
        assert(layout(routed) == want)
      }
  }

  test("a custom fs.file.impl is left untouched") {
    val s = sessionWith(classOf[CustomLocalFs])
    val custom = FileSystem.getStatistics("file", classOf[CustomLocalFs])
    val fast = FileSystem.getStatistics("file", classOf[LocalFs])
    val (c0, f0) = (custom.getBytesWritten, fast.getBytesWritten)
    Writers.writeFlat(frame(s), tempDir("localfs_custom"))
    assert(custom.getBytesWritten > c0)
    assert(fast.getBytesWritten == f0)
  }

  test("routed writes reach LocalFs: its statistics count the bytes written") {
    // `spark` (Raw under graft.Session) keeps the FileSystem cache on:
    // the cached `file` instance is Raw, so only a write that disables
    // the cache reaches LocalFs
    Seq(spark, sessionWith(classOf[LocalFileSystem])).foreach { s =>
      val stats = FileSystem.getStatistics("file", classOf[LocalFs])
      val before = stats.getBytesWritten
      val out = tempDir("localfs_stats")
      Writers.writePartitioned(frame(s), out, Seq("p"), numTasks = 2)
      val written = Files.walk(Paths.get(out)).iterator().asScala
        .filter(Files.isRegularFile(_)).map(Files.size).sum
      assert(written > 0 && stats.getBytesWritten - before >= written)
    }
  }
}
