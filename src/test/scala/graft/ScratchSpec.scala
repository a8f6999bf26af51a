package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.io.Scratch

/** The keyed scratch roots:
  * `<tmpdir>/graft_<tag>_<dir hash>_<sanitized sf dir>`.
  */
class ScratchSpec extends AnyFunSuite {

  test("every keyed scratch root is tmpdir/graft_<tag>_<dir hash>_<sanitized sf dir>") {
    assert(Scratch.qp1Dir("/data/sf0.01").matches(".*/graft_qp1_[0-9a-f]+__data_sf0.01"))
    val sf = "/data/sf 0.1+x"
    val hash = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(sf).toLong & 0xffffffffL)
    val roots = Seq(
      Scratch.qp1Dir(sf) -> "qp1", Scratch.qx13Dir(sf) -> "qx13",
      Scratch.qx20Dir(sf) -> "qx20", Scratch.qs16Dir(sf) -> "qs16",
      Scratch.qp5Dir(sf) -> "qp5", Scratch.qx24Dir(sf) -> "qx24",
      Scratch.qp4Dir(sf) -> "qp4", Scratch.qp8Dir(sf) -> "qp8",
      Scratch.qd49Dir(sf) -> "qd49", Scratch.qs38Dir(sf) -> "qs38",
      Scratch.qs39Dir(sf) -> "qs39", Scratch.sketchDir(sf) -> "sketch",
      Scratch.qx28Dir(sf) -> "qx28", Scratch.qd50Dir(sf) -> "qd50",
      Scratch.eventsLandingDir(sf) -> "stream")
    val tmp = System.getProperty("java.io.tmpdir")
    roots.foreach { case (dir, tag) =>
      assert(dir == new java.io.File(tmp, s"graft_${tag}_${hash}__data_sf_0.1_x").getAbsolutePath)
    }
  }

  test("two sf dirs that sanitize alike get two roots") {
    // both sanitize to _a_b_c: without the raw-dir hash they would
    // share one root, and each publish would reap the other's tree
    assert(Scratch.qp1Dir("/a/b c") != Scratch.qp1Dir("/a/b_c"))
    assert(Scratch.qs39Dir("/a/b c") != Scratch.qs39Dir("/a/b_c"))
  }
}
