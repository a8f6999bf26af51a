package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry.{Oracle, Query, RowsOnly}

/** The query registry: one declaration per query, from which the
  * driver's `queries`, `oracleSql` and `rowsOnly` views are derived.
  */
class RegistrySpec extends AnyFunSuite {

  private val noRun: (SparkSession, String) => DataFrame = (_, _) => ???

  test("declare throws on a duplicate name, naming it") {
    val q = Query(noRun, Oracle("SELECT 1"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.declare("qa" -> q, "qb" -> q, "qa" -> q.copy(check = RowsOnly("r"))))
    assert(e.getMessage.contains("qa"))
    assert(!e.getMessage.contains("qb"))
    assert(SparkEntry.declare("qa" -> q, "qb" -> q).keySet == Set("qa", "qb"))
  }

  test("oracleSql and rowsOnly are disjoint and together cover queries") {
    assert(SparkEntry.queries.size == SparkEntry.registry.size)
    assert((SparkEntry.oracleSql.keySet intersect SparkEntry.rowsOnly).isEmpty)
    assert((SparkEntry.oracleSql.keySet union SparkEntry.rowsOnly) ==
      SparkEntry.queries.keySet)
  }

  test("every RowsOnly reason is non-empty") {
    val reasons = SparkEntry.registry.collect {
      case (name, Query(_, RowsOnly(reason))) => name -> reason }
    assert(reasons.keySet == SparkEntry.rowsOnly)
    reasons.foreach { case (name, reason) =>
      assert(reason.trim.nonEmpty, s"$name has an empty rows-only reason") }
  }

  test("the tools' inventory regex over SparkEntry.scala finds exactly the queries") {
    // the regex of declared_inventory() in tools/bars.py, which
    // tools/record_gate.py imports
    val file = new java.io.File("src/main/scala/graft/SparkEntry.scala")
    assert(file.isFile, s"run from the repo root (no ${file.getPath})")
    val src = new String(java.nio.file.Files.readAllBytes(file.toPath), "UTF-8")
    val found = "\"(q[a-z0-9_]+)\"\\s*->".r.findAllMatchIn(src).map(_.group(1)).toSeq
    assert(found.toSet == SparkEntry.queries.keySet)
    assert(found.size == found.distinct.size, "a query name is declared twice")
  }

  test("requireDeclared throws naming each unknown name") {
    SparkEntry.requireDeclared(Seq("q09_incentive_mart", "qs47_calibrated_admission"))
    SparkEntry.requireDeclared(Nil)
    val e = intercept[IllegalArgumentException](SparkEntry.requireDeclared(
      Seq("q09_incentve_mart", "q01_scan_project", "qx_nope")))
    assert(e.getMessage.contains("q09_incentve_mart"))
    assert(e.getMessage.contains("qx_nope"))
    assert(!e.getMessage.contains("q01_scan_project"))
  }
}
