package graft.operators

import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** qx24 — multi-source FEDERATION: one logical frame over the three
  * storage systems a real warehouse migration straddles — lake
  * parquet, landed CSV, and an RDBMS reached over JDBC (embedded
  * Derby here; the URL/properties are the same code path MySQL or
  * Postgres would take, as in `PipelineRunner.Dimensions`). The
  * reference hardwires one source per stage (CSV in, MySQL dims,
  * parquet out — main.py's fixed graph); this shows the Spark-native
  * generalization: every source is just a DataFrame, `unionByName`
  * glues them by column IDENTITY, and the rest of the engine's
  * operator surface applies unchanged.
  *
  * Scale shape: each leg is an independent scan with its own
  * parallelism (the JDBC leg is a deliberate single-partition pull —
  * correct for a broadcast-bound dimension; a fact-sized table would
  * come through `Dimensions.jdbcPartitioned`'s range-split read);
  * the union is a zero-shuffle partition concatenation; the literal
  * source tag is metadata-only. Nothing exchanges until the output
  * sort.
  *
  * The query writes the CSV and JDBC legs from the parquet table
  * first (its own scratch, the q14/qp4 discipline), so the gate
  * proves BOTH directions of each connector: csv write→read and
  * jdbc write→read land byte-identical rows next to the parquet
  * original — the oracle is simply the parquet table tagged three
  * times.
  */
object Federation {

  def federatedNation(s: SparkSession, dir: String): DataFrame = {
    val root = graft.io.Scratch.qx24Dir(dir)
    val nat = Tables.nation(s, dir)

    // CSV leg: header'd write, read back under the parquet schema
    // (CSV carries no types — the explicit schema is the contract,
    // same rule as CsvIngest's conform step)
    graft.io.Writers.sink(nat.coalesce(1)).mode("overwrite")
      .option("header", "true").csv(s"$root/nation_csv")
    val csvLeg = s.read.option("header", "true")
      .schema(nat.schema).csv(s"$root/nation_csv")

    // JDBC leg: embedded Derby, overwrite = drop + recreate, so
    // repeated invocations (Bench runs 3x) stay idempotent
    val url = "jdbc:derby:memory:graftfed;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    nat.write.mode("overwrite").jdbc(url, "nation_dim", props)
    val jdbcLeg = s.read.jdbc(url, "nation_dim", props)

    val legs = Seq("parquet" -> nat, "csv" -> csvLeg, "jdbc" -> jdbcLeg)
      .map { case (tag, df) =>
        // cast every leg to the parquet types explicitly: Derby
        // widens INTEGER-backed columns through its own type system
        // and CSV arrives as the supplied schema — the select is the
        // single place schema parity is enforced
        df.select(lit(tag).as("source"),
          col("n_nationkey").cast("int").as("n_nationkey"),
          col("n_name"),
          col("n_regionkey").cast("int").as("n_regionkey"))
      }
    legs.reduce(_.unionByName(_)).orderBy("source", "n_nationkey")
  }
}
