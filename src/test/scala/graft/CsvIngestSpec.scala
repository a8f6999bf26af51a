package graft

import graft.ingest.CsvIngest
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class CsvIngestSpec extends SparkSpec {

  lazy val dir: String = tempDir("csv_ingest_")
  lazy val f1: String = Fixtures.writeF1(dir)
  lazy val f2: String = Fixtures.writeF2(dir)
  lazy val f3: String = Fixtures.writeF3(dir)

  private def write(name: String, lines: Seq[String]): String = {
    val p = Paths.get(dir, name)
    Files.writeString(p, lines.mkString("\n"))
    p.toString
  }

  private def f1Lines: Seq[String] = Files.readAllLines(Paths.get(f1)).asScala.toSeq

  /** F1's header and rows with its columns permuted to `order`. */
  private def f1Permuted(order: Seq[String]): Seq[String] = {
    val lines = f1Lines
    val idx = order.map(lines.head.split(",").indexOf(_))
    lines.map(l => { val cells = l.split(","); idx.map(cells(_)).mkString(",") })
  }

  /** F1 with `extras` appended to the header and `values` to each row. */
  private def f1With(extras: String, values: String): Seq[String] =
    (f1Lines.head + "," + extras) +: f1Lines.tail.map(_ + "," + values)

  private val contract = CsvIngest.mandatoryColumns.mkString(",")

  test("header probe returns the contract columns for F1") {
    assert(CsvIngest.probeColumns(spark, f1) == CsvIngest.mandatoryColumns)
  }

  test("validate accepts F1 (no extras) and F2 (payment_mode extra)") {
    assert(CsvIngest.validate(spark, f1) == Right(Nil))
    assert(CsvIngest.validate(spark, f2) == Right(Seq("payment_mode")))
  }

  test("validate rejects F3 with missing store_id") {
    assert(CsvIngest.validate(spark, f3) == Left(Set("store_id")))
  }

  test("triage splits good and bad files") {
    val (good, bad) = CsvIngest.triage(spark, Seq(f1, f2, f3))
    assert(good.map(_._1) == Seq(f1, f2))
    assert(bad == Seq((f3, Set("store_id"))))
  }

  test("driver-side header equals Spark's inferred columns; quarantine decision unchanged") {
    val crafted = Seq(
      write("quoted_comma.csv", Seq(contract + ",\"pay,mode\"", "1,121,sugar,2023-05-05,1,50,2,100,\"a,b\"")),
      write("dup_extra.csv", Seq(contract + ",note,note", "1,121,sugar,2023-05-05,1,50,2,100,x,y")),
      write("dup_contract.csv", Seq(contract + ",store_id", "1,121,sugar,2023-05-05,1,50,2,100,122")),
      write("empty_cell.csv", Seq(contract + ",,tag", "1,121,sugar,2023-05-05,1,50,2,100,x,y")),
      write("leading_blank.csv", Seq("", "  ", contract, "1,121,sugar,2023-05-05,1,50,2,100")),
      write("header_only.csv", Seq(contract)),
      write("zero_byte.csv", Nil))
    val files = Seq(f1, f2, f3) ++ crafted
    val (good, bad) = CsvIngest.triage(spark, files)
    files.foreach { p =>
      val inferred = spark.read.option("header", "true").csv(p).columns.toSeq
      assert(CsvIngest.probeColumns(spark, p) == inferred, p)
      val missing = CsvIngest.mandatoryColumns.toSet -- inferred
      assert(bad.find(_._1 == p).map(_._2) == Some(missing).filter(_.nonEmpty), p)
      assert(good.exists(_._1 == p) == missing.isEmpty, p)
    }
    assert(bad.map(_._1).toSet == Set(f3, crafted(2), crafted(6)))
  }

  test("conform F1: contract schema, null additional_column, 500 rows") {
    val df = CsvIngest.conform(spark, f1)
    assert(df.schema == CsvIngest.factSchema)
    assert(df.count() == 500)
    assert(df.filter(col("additional_column").isNotNull).count() == 0)
  }

  test("conform F2: extras folded into additional_column") {
    val df = CsvIngest.conform(spark, f2)
    // names+types must match the contract; nullability may be tighter
    // (concat_ws output is provably non-null, which union relaxes).
    assert(df.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      CsvIngest.factSchema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(df.count() == 1000)
    val vals = df.select("additional_column").distinct()
      .collect().map(_.getString(0)).toSet
    assert(vals == Set("cash", "UPI"))
  }

  test("conform preserves the total_cost = price * quantity invariant") {
    val df = CsvIngest.conform(spark, f1)
    val bad = df.filter(col("total_cost") =!= col("price") * col("quantity"))
    assert(bad.count() == 0)
  }

  test("union fold over empty seed equals multi-path read (Q15)") {
    val f1b = Fixtures.writeF1(dir, name = "f1b_sales.csv", seed = 99L)
    val reordered = write("reordered.csv",
      f1Permuted(CsvIngest.mandatoryColumns.reverse))
    val extrasAB = write("extras_ab.csv", f1With("ea,eb", "a1,b1"))
    val extrasBA = write("extras_ba.csv", f1With("eb,ea", "b2,a2"))
    // headers Spark renames are read positionally: still the same rows
    val renamed = write("renamed.csv", f1With("note,note,", "n1,n2,n3"))
    val files = Seq(f1, f1b, f2, reordered, extrasAB, extrasBA, renamed)
    val (good, bad) = CsvIngest.triage(spark, files)
    assert(bad.isEmpty)
    val folded = Fixtures.unionFold(spark, files)
    val multi = CsvIngest.read(spark, good)
    assert(multi.schema == CsvIngest.factSchema)
    assert(multi.count() == 4000)
    assert(folded.exceptAll(multi).count() == 0)
    assert(multi.exceptAll(folded).count() == 0)
  }

  test("union fold mixes heterogeneous headers (F1 + F2)") {
    val df = CsvIngest.read(spark, CsvIngest.triage(spark, Seq(f1, f2))._1)
    assert(df.count() == 1500)
    assert(df.filter(col("additional_column").isNull).count() == 500)
  }

  test("a header changed between triage and read fails the read") {
    val p = write("changing.csv", f1Lines)
    val (good, _) = CsvIngest.triage(spark, Seq(p))
    // same columns, store_id and customer_id swapped: a positional read
    // would silently load stores as customers
    val swapped = Seq("store_id", "customer_id") ++ CsvIngest.mandatoryColumns.drop(2)
    write("changing.csv", f1Permuted(swapped))
    val err = intercept[Exception](CsvIngest.read(spark, good).collect())
    val messages = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).toSeq
    assert(messages.exists(_.contains("does not conform to the schema")), messages.mkString("\n"))
  }
}
