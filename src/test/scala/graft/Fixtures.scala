package graft

import graft.ingest.CsvIngest
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws, lit}
import scala.util.Random

/** Deterministic (seed=42) regenerations of the reference's test
  * inputs, per FIXTURES.md §A. Value domains from
  * generate_csv_data.py:6-22: customers 1–20, stores 121–123, 8
  * fixed-price products, salesperson↔store map, quantity 1–10,
  * invariant total_cost = price * quantity.
  */
object Fixtures {
  val products: Seq[(String, BigDecimal)] = Seq(
    "quaker oats" -> BigDecimal("212"), "sugar" -> BigDecimal("50"),
    "maida" -> BigDecimal("20"), "besan" -> BigDecimal("52"),
    "refined oil" -> BigDecimal("110"), "clinic plus" -> BigDecimal("1.5"),
    "dantkanti" -> BigDecimal("100"), "nutrella" -> BigDecimal("40"))

  val storeToPersons: Map[Int, Seq[Int]] =
    Map(121 -> Seq(1, 2, 3), 122 -> Seq(4, 5, 6), 123 -> Seq(7, 8, 9))

  private val d0 = LocalDate.of(2023, 3, 3)
  private val days = java.time.temporal.ChronoUnit.DAYS
    .between(d0, LocalDate.of(2023, 8, 20)).toInt

  private def row(rng: Random, singleDate: Boolean): (Int, Int, String, String, Int, BigDecimal, Int, BigDecimal) = {
    val cust = 1 + rng.nextInt(20)
    val store = 121 + rng.nextInt(3)
    val (pname, price) = products(rng.nextInt(products.size))
    val date = if (singleDate) "2023-08-16"
               else d0.plusDays(rng.nextInt(days + 1).toLong).toString
    val person = {
      val ps = storeToPersons(store)
      ps(rng.nextInt(ps.size))
    }
    val qty = 1 + rng.nextInt(10)
    (cust, store, pname, date, person, price, qty, price * qty)
  }

  /** F1 — happy-path 8-column CSV, 500 rows. Returns the file path. */
  def writeF1(dir: String, name: String = "f1_sales.csv", n: Int = 500,
              seed: Long = 42L): String = {
    val rng = new Random(seed)
    val lines = Seq("customer_id,store_id,product_name,sales_date," +
      "sales_person_id,price,quantity,total_cost") ++
      (1 to n).map { _ =>
        val r = row(rng, singleDate = false)
        s"${r._1},${r._2},${r._3},${r._4},${r._5},${r._6},${r._7},${r._8}"
      }
    val p = Paths.get(dir, name)
    Files.write(p, String.join("\n", lines: _*).getBytes)
    p.toString
  }

  /** F2 — extra `payment_mode` column, 1,000 rows, single date. */
  def writeF2(dir: String, name: String = "f2_extra.csv", n: Int = 1000,
              seed: Long = 43L): String = {
    val rng = new Random(seed)
    val lines = Seq("customer_id,store_id,product_name,sales_date," +
      "sales_person_id,price,quantity,total_cost,payment_mode") ++
      (1 to n).map { _ =>
        val r = row(rng, singleDate = true)
        val pm = if (rng.nextBoolean()) "cash" else "UPI"
        s"${r._1},${r._2},${r._3},${r._4},${r._5},${r._6},${r._7},${r._8},$pm"
      }
    val p = Paths.get(dir, name)
    Files.write(p, String.join("\n", lines: _*).getBytes)
    p.toString
  }

  /** F3 — missing mandatory `store_id`, 200 rows: must be rejected. */
  def writeF3(dir: String, name: String = "f3_less.csv", n: Int = 200,
              seed: Long = 44L): String = {
    val rng = new Random(seed)
    val lines = Seq("customer_id,product_name,sales_date," +
      "sales_person_id,price,quantity,total_cost,payment_mode") ++
      (1 to n).map { _ =>
        val r = row(rng, singleDate = true)
        val pm = if (rng.nextBoolean()) "cash" else "UPI"
        s"${r._1},${r._3},${r._4},${r._5},${r._6},${r._7},${r._8},$pm"
      }
    val p = Paths.get(dir, name)
    Files.write(p, String.join("\n", lines: _*).getBytes)
    p.toString
  }

  /** O3/S4 in the reference's literal shape (main.py:235-258): each
    * file read on its own with Spark's inferred header, conformed, and
    * unioned by position over an empty seed. Plan depth is O(files);
    * kept as the parity oracle for `CsvIngest.read`.
    */
  def unionFold(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val seed = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], CsvIngest.factSchema)
    paths.map { p =>
      val raw = spark.read.option("header", "true").csv(p)
      val extras = raw.columns.toSeq.filterNot(CsvIngest.mandatoryColumns.contains)
      val add = if (extras.nonEmpty) concat_ws(", ", extras.map(col): _*) else lit(null)
      raw.select(CsvIngest.factSchema.fields.toIndexedSeq.map { f =>
        val c = if (f.name == "additional_column") add else col(f.name)
        c.cast(f.dataType).as(f.name) }: _*)
    }.foldLeft(seed)(_ union _)
  }

  /** F4 — dimension stand-ins with the reference MySQL schemas
    * (table_scripts.sql): 25 customers, 4 stores (121–124), 10
    * salespeople (id 10 is the manager).
    */
  def dims(spark: SparkSession): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val customer = (1 to 25).map(i =>
      (i, s"first$i", s"last$i", s"addr $i", f"5600$i%02d",
        f"98765432$i%02d",
        java.sql.Date.valueOf(f"2021-01-${(i % 28) + 1}%02d"))).toDF(
      "customer_id", "first_name", "last_name", "address", "pincode",
      "phone_number", "customer_joining_date")
    val store = (121 to 124).map(i =>
      (i, s"store addr $i", s"60$i", s"manager$i",
        java.sql.Date.valueOf("2020-06-15"), s"review $i")).toDF(
      "id", "address", "store_pincode", "store_manager_name",
      "store_opening_date", "reviews")
    val salesTeam = (1 to 10).map(i =>
      (i, s"sp_first$i", s"sp_last$i", 10, if (i == 10) "Y" else "N",
        s"sp addr $i", f"5601$i%02d", java.sql.Date.valueOf("2022-03-01"))).toDF(
      "id", "first_name", "last_name", "manager_id", "is_manager",
      "address", "pincode", "joining_date")
    (customer, store, salesTeam)
  }
}
