package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) bit interleaving on RAW keys: plain integer bit
  * arithmetic, engine-exact (oracle-gated by p_zorder_scan against
  * DuckDB's bit ops) — right when keys are dense non-negative ids whose
  * low bits are already balanced. [[writeZOrdered]] range-clusters a
  * table on the interleaved value through the one clustered writer
  * ([[graft.sources.MaintainedIndex.writeClusteredIndexed]]), so a box
  * predicate touches a bounded set of z-ranges and per-file min/max
  * footer stats skip most files (the technique behind Delta/Iceberg
  * OPTIMIZE ZORDER), where single-key range clustering only prunes on
  * its one key. Skewed or non-integer domains rank-normalize first
  * (map each column to equal-frequency bucket ids, then interleave the
  * ids), so skew can't collapse the curve.
  */
object ZOrder {

  /** Interleaved bit value: bit j of column c lands at z-bit
    * j*n + c, for `bits` bits per column. n*bits must stay <= 63;
    * inputs are cast to long. Columns must be non-negative and fit in
    * `bits` bits (rank-normalize first otherwise). */
  def zValue(cols: Seq[Column], bits: Int = 21): Column = {
    val n = cols.length
    require(n >= 2, "z-ordering needs at least two columns")
    require(n * bits <= 63, s"$n cols × $bits bits overflows a long")
    val terms = for {
      i <- 0 until bits
      (c, ci) <- cols.zipWithIndex
    } yield shiftleft(shiftright(c.cast("long"), i).bitwiseAND(lit(1L)),
      i * n + ci)
    terms.reduce(_ + _)
  }

  /** Range-cluster `df` on the interleaved z-value of `zCols` (the
    * z column is kept in the output for audit/pruning inspection). */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
                    partitions: Int, bits: Int = 21): Unit =
    graft.sources.MaintainedIndex.writeClusteredIndexed(
      df.withColumn("z", zValue(zCols.map(col), bits)),
      path, "z", partitions)
}

/** Hilbert-curve 2-D layout — the z-order alternative with strictly
  * tighter locality: every curve step moves to a 4-neighbor cell
  * (HilbertSpec pins |Δx|+|Δy| = 1 exhaustively), where the z-curve
  * jumps across quadrant seams — so a box predicate maps to FEWER,
  * longer index ranges and per-file min/max stats skip more files for
  * the same box (HilbertSpec measures both curves on the same
  * fixture). Costs one codegen'd O(bits) loop per row
  * ([[graft.functions.native.HilbertIndexExpr]]) vs z's pure bit
  * interleave — pay it when the workload is box-heavy, keep z when
  * write throughput dominates. Same conventions as [[ZOrder]]: keys
  * non-negative, masked to `bits` bits, rank-normalize skewed domains
  * first; the same clustered writer lands the table.
  */
object Hilbert {

  /** Hilbert index Column of (x, y) on the 2^bits × 2^bits grid;
    * oracle-gated against an unrolled DuckDB CTE replay by
    * p_hilbert_scan. 2·bits ≤ 62. */
  def hValue(x: Column, y: Column, bits: Int = 18): Column =
    graft.functions.native.NativeFns.hilbertIndex(x, y, bits)

  /** Range-cluster `df` on the Hilbert index of (xCol, yCol) (the h
    * column is kept in the output for audit/pruning inspection). */
  def writeHilbertOrdered(df: DataFrame, path: String,
                          xCol: String, yCol: String,
                          partitions: Int, bits: Int = 18): Unit =
    graft.sources.MaintainedIndex.writeClusteredIndexed(
      df.withColumn("h", hValue(col(xCol), col(yCol), bits)),
      path, "h", partitions)
}
