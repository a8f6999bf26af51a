package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-ORDER (Morton-curve) clustered layout — the multi-dimensional
  * data-skipping primitive (Delta/Iceberg `OPTIMIZE ZORDER BY`,
  * re-expressed with nothing but builtin codegen expressions).
  *
  * A layout sorted on ONE column skips files for predicates on that
  * column only; interleaving the bits of two keys gives a total
  * order in which files cover compact RECTANGLES of the key space,
  * so per-file min/max stats prune a 2-D box predicate on EITHER or
  * BOTH columns to ~√(selectivity) of the files instead of all of
  * them. At 100 TB this is the difference between a box query
  * reading a few hundred files and reading the whole table — the
  * sort costs one range exchange at write time and nothing at read
  * time.
  */
object ZOrder {

  /** 64-bit Morton code of two 32-bit non-negative keys: the classic
    * magic-number bit spread (each step doubles the gap between
    * occupied bit groups), x on even bits, y on odd. Pure
    * shift/mask/or Columns — whole-stage-codegen'd, no UDF, no
    * boxing. Keys wider than 32 bits should be rank- or
    * range-bucketized first (the interleave is on key PREFIXES, so
    * bucket ids preserve locality).
    */
  def zValue(x: Column, y: Column): Column =
    spread32(x).bitwiseOR(shiftleft(spread32(y), 1))

  private def spread32(c: Column): Column = {
    var v = c.cast("long").bitwiseAND(lit(0xFFFFFFFFL))
    v = v.bitwiseOR(shiftleft(v, 16)).bitwiseAND(lit(0x0000FFFF0000FFFFL))
    v = v.bitwiseOR(shiftleft(v, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
    v = v.bitwiseOR(shiftleft(v, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    v = v.bitwiseOR(shiftleft(v, 2)).bitwiseAND(lit(0x3333333333333333L))
    v.bitwiseOR(shiftleft(v, 1)).bitwiseAND(lit(0x5555555555555555L))
  }

  /** Write `df` parquet-clustered along the z-curve of (xCol, yCol):
    * range-partition on the z-value (contiguous curve segment per
    * file), sort within each partition (tight row-group stats), drop
    * the helper column before the write (projection after a local
    * sort preserves order). `numFiles` pinned explicitly — the
    * qp4/q14 rule: AQE would coalesce a byte-small exchange and
    * collapse the layout to one file.
    */
  def writeZOrdered(df: DataFrame, xCol: String, yCol: String,
                    path: String, numFiles: Int): Unit =
    Writers.sink(df.withColumn("_z", zValue(col(xCol), col(yCol)))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z"))
      .mode("overwrite").parquet(path)
}
