package graft

import graft.enrich.DimensionEnricher
import graft.ingest.CsvIngest
import graft.marts.RetailMarts
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class EnrichMartsSpec extends SparkSpec {

  lazy val dir: String = tempDir("enrich_")
  lazy val enriched: DataFrame = {
    val fact = Fixtures.unionFold(spark,
      Seq(Fixtures.writeF1(dir), Fixtures.writeF2(dir)))
    val (c, s, st) = Fixtures.dims(spark)
    DimensionEnricher.enrich(fact, c, s, st).cache()
  }

  private def asSet(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("enrichment keeps all matched rows and has unambiguous columns") {
    assert(enriched.count() == 1500)
    val cols = enriched.columns
    assert(cols.distinct.length == cols.length,
      "duplicate column names survived the join (dotted-drop trap)")
    // a projection by plain name must not throw AMBIGUOUS_REFERENCE
    enriched.select("customer_id", "first_name", "sales_person_first_name")
      .count()
  }

  test("inner join drops unmatched fact rows and the audit sees it") {
    import spark.implicits._
    val stray = Seq((999, 121, "sugar", java.sql.Date.valueOf("2023-05-05"),
      1, BigDecimal("50.00"), 2, BigDecimal("100.00"), null: String))
      .toDF(CsvIngest.factSchema.fieldNames.toIndexedSeq: _*)
      .select(CsvIngest.factSchema.fields.toIndexedSeq.map(f =>
        col(f.name).cast(f.dataType)): _*)
    val fact = CsvIngest.conform(spark, s"$dir/f1_sales.csv").union(stray)
    val (c, s, st) = Fixtures.dims(spark)
    val (out, auditOf) = DimensionEnricher.enrichWithAudit(fact, c, s, st)
    // the audit metrics ride the caller's action; reading them must
    // not spawn any job of its own (the old form re-ran the whole
    // enrichment lineage twice for its two counts)
    assert(out.filter(col("customer_id") === 999).count() == 0)
    val tracker = spark.sparkContext.statusTracker
    val jobsBeforeAudit = tracker.getJobIdsForGroup(null).length
    val audit = auditOf()
    val jobsAfterAudit = tracker.getJobIdsForGroup(null).length
    assert(audit.rowsIn == 501)
    assert(audit.rowsOut == 500)
    assert(audit.rowsLost == 1)
    assert(jobsAfterAudit == jobsBeforeAudit,
      s"audit spawned jobs: $jobsBeforeAudit -> $jobsAfterAudit")
  }

  test("customer mart: literal window+distinct equals canonical groupBy") {
    val lit0 = RetailMarts.monthlyTotalsLiteral(
      RetailMarts.customerRows(enriched), RetailMarts.customerKeys: _*)
    assert(asSet(lit0) == asSet(RetailMarts.customerMart(enriched)))
  }

  test("sales mart: literal window+distinct equals canonical groupBy") {
    val lit0 = RetailMarts.withIncentive(RetailMarts.monthlyTotalsLiteral(
      RetailMarts.salesRows(enriched), RetailMarts.salesKeys: _*))
    assert(asSet(lit0) == asSet(RetailMarts.salesMart(enriched)))
  }

  test("customer mart conserves money: sum(total_sales) == sum(total_cost)") {
    val martSum = RetailMarts.customerMart(enriched)
      .agg(sum("total_sales")).collect()(0).getDecimal(0)
    val factSum = enriched.agg(sum("total_cost")).collect()(0).getDecimal(0)
    assert(martSum.compareTo(factSum) == 0)
  }

  test("sales mart: exactly rank-1 rows carry a 1% incentive") {
    import spark.implicits._
    // one more store-month in which persons 4 and 5 tie at the top:
    // rank() without a tie-break gives both rank 1, so both earn it
    val tie = Seq(4 -> "1234.50", 5 -> "1234.50", 6 -> "99.99").map {
      case (person, total) => (1, 122, "sugar",
        java.sql.Date.valueOf("2030-06-15"), person, BigDecimal(total), 1,
        BigDecimal(total), null: String)
    }.toDF(CsvIngest.factSchema.fieldNames.toIndexedSeq: _*)
      .select(CsvIngest.factSchema.fields.toIndexedSeq.map(f =>
        col(f.name).cast(f.dataType)): _*)
    val (c, s, st) = Fixtures.dims(spark)
    val rows = RetailMarts.salesMart(
      enriched.unionByName(DimensionEnricher.enrich(tie, c, s, st)))
      .select("store_id", "sales_month", "total_sales", "incentive")
      .collect().map(r => ((r.getInt(0), r.getString(1)),
        BigDecimal(r.getDecimal(2)), BigDecimal(r.getDecimal(3))))
    val top = rows.groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).max }
    rows.foreach { case (k, total, incentive) =>
      val expected =
        if (total == top(k))
          (total * BigDecimal("0.01")).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        else BigDecimal("0.00")
      assert(incentive == expected, s"$k total $total")
    }
    assert(rows.filter(_._1 == (122 -> "2030-06")).map(_._3).sorted.toSeq ==
      Seq(BigDecimal("0.00"), BigDecimal("12.35"), BigDecimal("12.35")))
  }

  test("sales mart only contains valid store/person pairs") {
    val pairs = RetailMarts.salesMart(enriched)
      .select("store_id", "sales_person_id").distinct()
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    pairs.foreach { case (s, p) =>
      assert(Fixtures.storeToPersons(s).contains(p))
    }
  }
}
