package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSONL (newline-delimited JSON) ingestion — the de-facto delivery
  * format for LLM training corpora (one document object per line),
  * the CSV contract's ([[CsvIngest]]) modern sibling. Same
  * three-layer discipline as the reference's CSV path re-expressed
  * for JSON: explicit schema (never inference — a schema-inference
  * pass reads the data twice and a drifting corpus silently changes
  * types), PERMISSIVE parse with a `_corrupt_record` column so
  * malformed or type-mismatched lines are QUARANTINED as data
  * instead of killing the job (a 100 TB crawl always contains
  * broken lines), and a per-partition parse that keeps ingestion
  * map-only until the first real aggregate.
  */
object JsonlIngest {

  /** The documents-corpus schema, explicit (the qd49 contract). */
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Read JSONL under `paths` against `schema` + quarantine column;
    * PERMISSIVE: a malformed line (or one whose field can't meet the
    * schema's type) yields a row with the raw line in
    * `_corrupt_record` and NULL data fields.
    */
  def readQuarantined(spark: SparkSession, schema: StructType,
                      paths: String*): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record", StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(paths: _*)

  /** The two planted corrupt lines — one unparseable, one
    * type-mismatched: the two failure modes PERMISSIVE distinguishes
    * from good data (shared by qd49 and qs38).
    */
  private val PlantedBad = Seq(
    "{\"doc_id\": 1, \"text\": \"truncated",          // unparseable
    "{\"doc_id\": 4, \"text\": \"t\", \"lang\": \"en\"," +
      " \"source\": \"s\", \"n_chars\": \"not-a-number\"}")

  /** The per-language ingest ledger over a quarantined parse — the
    * ONE transform both the batch (qd49) and streaming (qs38) gates
    * aggregate, so batch ≡ stream holds by construction on the plan
    * side and the two queries share an oracle.
    */
  private def ledger(parsed: DataFrame): DataFrame =
    parsed
      .withColumn("bucket",
        when(col("_corrupt_record").isNotNull, "_corrupt")
          .otherwise(col("lang")))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("total_chars"))

  /** qd49 — JSONL round-trip with quarantine: export the documents
    * corpus as JSONL (`to_json` over the typed struct — map-only),
    * plant two corrupt lines beside it (one unparseable, one
    * type-mismatched — the two failure modes PERMISSIVE
    * distinguishes from good data), read everything back under the
    * explicit schema, and report the per-language ingest ledger with
    * the quarantined count as its own `_corrupt` row — the JSONL
    * twin of the reference's CSV triage (bad files aside, good data
    * conformed, nothing dropped silently).
    *
    * Scale shape: export and parse are both map-only; the only
    * exchange is the final small-key rollup. The corrupt lines are
    * planted deterministically, so the DuckDB oracle recomputes the
    * whole ledger from the source table.
    */
  def jsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = graft.io.Scratch.qd49Dir(dir)
    val docs = graft.core.Tables.documents(s, dir)
    graft.io.Writers.sink(docs.select(to_json(struct(col("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))).as("value")))
      .mode("overwrite").text(s"$root/good")
    // NOTE the Spark subtlety the spec pins: corruption is detected
    // relative to the PARSED PROJECTION — a type clash on a column
    // the downstream query never references is invisible (the column
    // pruner keeps the parser from ever touching it). The planted
    // clash therefore sits on n_chars, which the ledger aggregates;
    // a doc_id clash would sail through this query as a "good" row.
    // Full-contract validation parses every column (cache/write the
    // parse first — the spec's path).
    graft.io.Writers.sink(PlantedBad.toDF("value").coalesce(1))
      .mode("overwrite").text(s"$root/bad")
    val parsed = readQuarantined(s, DocSchema,
      s"$root/good", s"$root/bad")
    ledger(parsed).orderBy("bucket")
  }

  /** The documents corpus landed as JSONL under `landing`, as a
    * stream under the explicit [[DocSchema]], one micro-batch per
    * landed file.
    */
  def docStream(s: SparkSession, landing: String): DataFrame =
    s.readStream
      .schema(DocSchema)
      .option("maxFilesPerTrigger", 1)
      .json(landing)

  /** Streaming twin of [[readQuarantined]]: the same explicit schema
    * + PERMISSIVE quarantine contract over a watched landing
    * directory, one micro-batch per arriving file — the unit a
    * production drop-folder actually delivers.
    */
  def readQuarantinedStream(s: SparkSession, schema: StructType,
                            landing: String): DataFrame =
    s.readStream
      .schema(schema.add("_corrupt_record", StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("maxFilesPerTrigger", 1)
      .json(landing)

  /** qs38 — STREAMING JSONL corpus ingest with quarantine: the qd49
    * contract on the production ARRIVAL path (VERDICT r10 #10). The
    * corpus lands as JSONL files in a watched directory; a file-source
    * `readStream` parses each arriving file under the same explicit
    * schema + PERMISSIVE `_corrupt_record` quarantine, and the same
    * ledger aggregate runs INCREMENTALLY (complete-mode state, one
    * row per language bucket) instead of as a batch rescan.
    * `maxFilesPerTrigger = 1` forces one micro-batch per landed file —
    * the result provably cannot depend on batch boundaries because
    * counts and long-sums are order-free monoids, which is why qd49's
    * DuckDB oracle carries over verbatim.
    *
    * Scale shape: the parse is map-only per micro-batch; the only
    * exchange is the small-key ledger rollup whose state is bounded by
    * language cardinality, not corpus size. At 100 TB/day the same
    * plan runs with a real trigger and a durable sink; an AvailableNow
    * memory-sink drain is the drain-what's-there gate harness every qs
    * streaming query uses. The downstream continuation — folding each
    * micro-batch's GOOD rows into the standing dedup index — is
    * [[graft.operators.Dedup.publishRefresh]] per batch; the composed
    * arrival path (quarantine → refresh → labels ≡ full rebuild) is
    * pinned in Round11StreamSpec.
    */
  def streamLedgerAvailableNow(s: SparkSession, landing: String): DataFrame =
    graft.streaming.Drain.memory(s,
      ledger(readQuarantinedStream(s, DocSchema, landing)), "complete")

  /** Land the corpus export + planted corrupt file in qs38's single
    * watched directory (file names sort the corrupt file LAST — the
    * quarantine rows arrive in the final micro-batches, so the ledger
    * state visibly absorbs them incrementally). Returns the landing
    * path. Also the spec harness's entry for building a landing tree.
    * Published once per corpus stamp and program
    * ([[graft.io.ArtifactStore.publish]]).
    */
  def landJsonl(s: SparkSession, dir: String): String =
    graft.io.ArtifactStore.publish(graft.io.Scratch.qs38Dir(dir) + "/landing",
        dir, Seq("documents")) { landing =>
      graft.io.Writers.sink(graft.core.Tables.documents(s, dir)
        .select(to_json(struct(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))).as("value")))
        .mode("overwrite").text(landing)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(landing, "zz-corrupt.jsonl"),
        PlantedBad.mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    }

  /** qs38's gate form: land, drain, present qd49's exact output shape
    * (shared oracle — see [[streamLedgerAvailableNow]]).
    */
  def jsonlStreamGate(s: SparkSession, dir: String): DataFrame =
    streamLedgerAvailableNow(s, landJsonl(s, dir)).orderBy("bucket")
}
