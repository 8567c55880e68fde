package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) multi-dimensional layout: interleaving the bits of two
  * sort keys gives a single clustering key under which rows close in BOTH
  * dimensions land close on disk, so parquet row-group min/max stats prune
  * scans filtered on EITHER dimension — the standard data-skipping layout
  * for "filter by user AND by time" tables (Delta/Iceberg OPTIMIZE ZORDER
  * ship the same curve; this is the engine-level primitive).
  *
  * Everything is exact integer bit arithmetic (shifts + masks, one codegen
  * expression tree, zero shuffles for the key itself), so any engine
  * reproduces the key bit-for-bit.
  */
object ZOrder {

  /** The Morton key: bit i of `x` lands at z-bit 2i, bit i of `y` at
    * 2i+1, for i in [0, bits). Inputs must be integral and in
    * [0, 2^bits) — enforced per-row as an executable invariant
    * ([[Bounded.guard]]): silently dropping high bits would fold distant
    * values onto near z-keys and quietly destroy the locality the layout
    * exists for. `bits` ≤ 31 keeps the 2·bits-wide key inside a long.
    */
  def zValue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"zValue: bits must be in [1,31]: $bits")
    val lim = 1L << bits
    val xg = Bounded.guard(x.cast("long"), x >= 0 && x < lim && y >= 0 && y < lim,
      s"zValue: inputs must be in [0, 2^$bits)")
    val yl = y.cast("long")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(xg, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(yl, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** The same key as ANSI SQL (DuckDB/engine-portable bit arithmetic) over
    * (l_partkey, l_suppkey) at 21 bits — generated from the same loop so
    * the two can never drift.
    */
  def zValueSql: String =
    (0 until 21).flatMap { i =>
      Seq(s"(((CAST(l_partkey AS BIGINT) >> $i) & 1) << ${2 * i})",
        s"(((CAST(l_suppkey AS BIGINT) >> $i) & 1) << ${2 * i + 1})")
    }.mkString(" | ")

  /** Cluster `df` for writing: range-partition on the Morton key into
    * `numFiles` splits and sort within each, so every output file covers a
    * contiguous z-range — a compact rectangle-ish region of (x, y) space —
    * and its parquet min/max footer prunes on both dimensions. One range
    * shuffle; the sort is per-partition. The key column is retained under
    * `z_value` for stats/debugging (callers may drop it before write).
    */
  def layoutByZ(df: DataFrame, xCol: String, yCol: String, bits: Int,
                numFiles: Int): DataFrame = {
    require(numFiles >= 1, s"layoutByZ: numFiles must be >= 1: $numFiles")
    require(!df.columns.contains("z_value"),
      s"layoutByZ: input already has a column named 'z_value'")
    df.withColumn("z_value", zValue(col(xCol), col(yCol), bits))
      .repartitionByRange(numFiles, col("z_value"))
      .sortWithinPartitions(col("z_value"))
  }
}
