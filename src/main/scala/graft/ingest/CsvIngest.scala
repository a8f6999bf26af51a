package graft.ingest

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CSV ingestion with the reference's three-layer schema handling
  * (SURVEY.md §1.5; reference main.py:136-178, 223-258):
  *
  *  1. header probe (S1) — read on the driver with Spark's own CSV
  *     header rules: no Spark job, no data scan;
  *  2. mandatory-column contract check (F2) — files missing any
  *     contract column are rejected (quarantine path);
  *  3. conform (P1/X1) — one multi-path scan per distinct header;
  *     extras fold into `additional_column` via concat_ws(", ", …),
  *     and the groups, projected to the same 9 columns, are unioned:
  *     ingest cost scales with distinct headers, not with files.
  *
  * Divergence from the reference (documented, SURVEY.md §7.4): money
  * is DECIMAL(10,2) not float, and types come from explicit casts of
  * an all-string read, not from inferSchema — deterministic at any
  * scale and under ANSI mode.
  */
object CsvIngest {

  /** The mandatory-column contract (resources/dev/config.py:40). */
  val mandatoryColumns: Seq[String] = Seq(
    "customer_id", "store_id", "product_name", "sales_date",
    "sales_person_id", "price", "quantity", "total_cost")

  val Money: DecimalType = DecimalType(10, 2)

  /** Canonical 9-column fact schema (main.py:223-233). */
  val factSchema: StructType = StructType(Seq(
    StructField("customer_id", IntegerType),
    StructField("store_id", IntegerType),
    StructField("product_name", StringType),
    StructField("sales_date", DateType),
    StructField("sales_person_id", IntegerType),
    StructField("price", Money),
    StructField("quantity", IntegerType),
    StructField("total_cost", Money),
    StructField("additional_column", StringType)))

  private def csvOptions(spark: SparkSession): CSVOptions = new CSVOptions(
    Map("header" -> "true"), false, spark.sessionState.conf.sessionLocalTimeZone)

  /** A file's header cells: its first non-blank line, tokenized on the
    * driver (main.py:139-141); empty for a zero-byte file.
    */
  private def headerCells(spark: SparkSession, path: String): Seq[String] = {
    val opts = csvOptions(spark)
    CSVUtils.readHeaderLine(new Path(path), opts, spark.sessionState.newHadoopConf())
      .fold(Seq.empty[String])(new CsvParser(opts.asParserSettings).parseLine(_).toSeq)
  }

  /** Header cells → Spark's column names (index-suffixed if empty or duplicate). */
  private def columnNames(spark: SparkSession, cells: Seq[String]): Seq[String] =
    CSVUtils.makeSafeHeader(cells.toArray,
      spark.sessionState.conf.caseSensitiveAnalysis, csvOptions(spark)).toSeq

  /** S1 — header probe: a `header=true` read's `columns`, with no Spark job. */
  def probeColumns(spark: SparkSession, path: String): Seq[String] =
    columnNames(spark, headerCells(spark, path))

  /** Contract check: Left(missing columns) if the file violates the
    * contract, Right(extra columns) otherwise (main.py:146-153).
    */
  def validate(spark: SparkSession, path: String): Either[Set[String], Seq[String]] =
    triage(spark, Seq(path)) match {
      case (Seq((_, cells)), _) =>
        Right(columnNames(spark, cells).filterNot(mandatoryColumns.contains))
      case (_, bad) => Left(bad.head._2)
    }

  /** Split candidate files into (good with header cells, bad with missing cols). */
  def triage(spark: SparkSession, paths: Seq[String])
      : (Seq[(String, Seq[String])], Seq[(String, Set[String])]) = {
    val checked = paths.map { p =>
      val cells = headerCells(spark, p)
      (p, cells, mandatoryColumns.toSet -- columnNames(spark, cells))
    }
    (checked.collect { case (p, cells, m) if m.isEmpty => (p, cells) },
      checked.collect { case (p, _, m) if m.nonEmpty => (p, m) })
  }

  /** O3/S4 — conform validated files to the 9-column contract: one
    * all-string multi-path read per distinct header, unioned in
    * first-seen order (main.py:235-258). `enforceSchema=false` makes
    * Spark re-check each file's header, so a file changed since
    * [[triage]] fails the read instead of landing in the wrong columns;
    * a header Spark renames (empty or duplicate cells) cannot match and
    * is read positionally, as a plain `header=true` read is.
    */
  def read(spark: SparkSession, files: Seq[(String, Seq[String])]): DataFrame = {
    require(files.nonEmpty, "read needs at least one file")
    files.map(_._2).distinct.map { cells =>
      val names = columnNames(spark, cells)
      val raw = spark.read
        .schema(StructType(names.map(StructField(_, StringType))))
        .option("header", "true")
        .option("enforceSchema", names != cells)
        .csv(files.collect { case (p, `cells`) => p }: _*)
      val extras = names.filterNot(mandatoryColumns.contains)
      val additional =
        if (extras.nonEmpty) concat_ws(", ", extras.map(col): _*) else lit(null)
      raw.select(factSchema.fields.toIndexedSeq.map { f =>
          val c = if (f.name == "additional_column") additional else col(f.name)
          c.cast(f.dataType).as(f.name) }: _*)
        // .to() relaxes concat_ws's non-null output to the contract
        .to(factSchema)
    }.reduce(_ union _)
  }

  /** Conform one validated file (main.py:245-256): a one-file [[read]]. */
  def conform(spark: SparkSession, path: String): DataFrame =
    read(spark, Seq(path -> headerCells(spark, path)))
}
