package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session via
  * getOrCreate; suites must not stop() it). Four cores whatever
  * `SPARK_GRAFT_CPUS` says, so plan and partition-count assertions
  * see the same session on every host.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Session.local(4)

  private val tempDirs = scala.collection.mutable.ListBuffer.empty[java.io.File]

  /** A fresh directory under `java.io.tmpdir`, deleted with everything
    * in it when the suite ends.
    */
  def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs.synchronized(tempDirs += dir)
    dir.toString
  }

  override def afterAll(): Unit =
    try tempDirs.synchronized(
      tempDirs.foreach(org.apache.commons.io.FileUtils.deleteQuietly))
    finally super.afterAll()

  /** Run `body` with an artifact name unique to this call, then delete
    * every artifact root built under that name, also when `body`
    * throws. An artifact of a `tempDir` source is keyed on that dir,
    * so no later publish would ever reap its root.
    */
  def withArtifactName[A](prefix: String)(body: String => A): A = {
    val name = s"${prefix}_${System.nanoTime()}"
    try body(name)
    finally Option(graft.io.ArtifactStore.scratchRoot.listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.startsWith(name + "_"))
      .foreach(org.apache.commons.io.FileUtils.deleteDirectory)
  }
}
