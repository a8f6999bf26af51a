package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Optional trailing args select a subset of queries (the dumped
  * oracle_sql.json is filtered to match, so tools/compare.py checks
  * exactly that subset) — a debugging aid; the driver passes none. An
  * undeclared name throws, naming it, before the session is built.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    SparkEntry.requireDeclared(args.drop(2).toSeq)
    val selected: Set[String] = args.drop(2).toSet
    val spark = Session.local(Session.cpusFromEnv)
    // q14 scratch: reap legacy trees; the query overwrites a fixed path
    graft.io.Scratch.reapTmp()
    new java.io.File(outDir).mkdirs()
    val queries =
      if (selected.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter(q => selected(q._1))
    queries.foreach { case (name, fn) =>
      try graft.io.Writers.sink(fn(spark, sfDir).coalesce(1))
        .mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // inter-query hygiene: queries that persist corpus-grain frames
      // (qd10/qd48's gram grain, the components checkpoints) must not
      // accumulate across a 160+-query session
      Session.reset(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val oracles =
      if (selected.isEmpty) SparkEntry.oracleSql
      else SparkEntry.oracleSql.filter(o => selected(o._1))
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
