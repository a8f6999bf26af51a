package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.io.StampMemo

/** [[StampMemo]]'s key, bound and failure handling. A table's stamp
  * is a file stat, so plain files stand in for the parquet tables and
  * no Spark job runs.
  */
class MemoSpec extends AnyFunSuite {

  private def sfDir(): String = Files.createTempDirectory("memo").toString

  /** (Re)write `table` under `dir` as `n` bytes: a new length moves
    * the stamp whatever the file clock's resolution.
    */
  private def write(dir: String, table: String, n: Int): Unit =
    Files.write(Paths.get(dir, s"$table.parquet"), Array.fill[Byte](n)(1)): Unit

  test("a two-table memo retrains when either table is rewritten") {
    val dir = sfDir()
    write(dir, "a", 1); write(dir, "b", 1)
    val memo = new StampMemo[Object]("a", "b")
    var builds = 0
    def model(): Object = memo(dir) { builds += 1; new Object }
    val m1 = model()
    assert((model() eq m1) && builds == 1)
    write(dir, "b", 2)
    val m2 = model()
    assert(!(m2 eq m1) && builds == 2)
    write(dir, "a", 2)
    val m3 = model()
    assert(!(m3 eq m2) && builds == 3)
    assert((model() eq m3) && builds == 3)
  }

  test("distinct dirs and params give distinct entries") {
    val (dir, other) = (sfDir(), sfDir())
    write(dir, "a", 1); write(other, "a", 1)
    val memo = new StampMemo[String]("a")
    assert(memo(dir, 10, 0.8)("k10") == "k10")
    assert(memo(dir, 20, 0.8)("k20") == "k20")
    assert(memo(dir, 10, 0.9)("k10 at 0.9") == "k10 at 0.9")
    assert(memo(dir)("no params") == "no params")
    assert(memo(other, 10, 0.8)("other dir") == "other dir")
    assert(memo(dir, 10, 0.8)("retrained") == "k10")
  }

  test("a build that calls other memos completes (the UnigramLm chain)") {
    val dir = sfDir()
    write(dir, "documents", 1)
    val Seq(chars, kept, kept2, kept3) =
      Seq.fill(4)(new StampMemo[String]("documents"))
    def charsOf = chars(dir)("c")
    def keptOf = kept(dir)(charsOf + "1")
    def kept2Of = kept2(dir)(keptOf + charsOf + "2")
    def kept3Of = kept3(dir)(kept2Of + charsOf + "3")
    assert(kept3Of == "c1c2c3")
    assert(kept3(dir)("retrained") == "c1c2c3")
  }

  test("the 17th key clears the memo") {
    assert(StampMemo.Bound == 16)
    val dir = sfDir()
    val memo = new StampMemo[Object]("a")
    var builds = 0
    def model(i: Int): Object = memo(dir, i) { builds += 1; new Object }
    val first = model(1)
    (2 to 16).foreach(model)
    assert((model(1) eq first) && builds == 16)
    val seventeenth = model(17)
    assert(builds == 17)
    assert(model(17) eq seventeenth)
    assert(!(model(1) eq first) && builds == 18)
  }

  test("a build that throws stores nothing and is retried on the next call") {
    val dir = sfDir()
    val memo = new StampMemo[String]("a")
    var builds = 0
    val e = intercept[IllegalStateException] {
      memo(dir) { builds += 1; throw new IllegalStateException("trainer failed") }
    }
    assert(e.getMessage == "trainer failed")
    assert(memo(dir) { builds += 1; "trained" } == "trained" && builds == 2)
    assert(memo(dir) { builds += 1; "again" } == "trained" && builds == 2)
  }
}
