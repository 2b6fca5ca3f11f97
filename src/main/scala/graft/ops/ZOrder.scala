package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Z-order (Morton) clustering for multi-dimensional data skipping.
  *
  * Parquet scans prune files/row-groups by min-max statistics. A
  * layout sorted on ONE column gives tight stats on that column only;
  * a box predicate on two columns still reads almost everything. Bit-
  * interleaving both dimensions into one z-value and RANGE-partitioning
  * on it makes every output split cover a compact quadtree cell, so
  * min-max stats are tight on BOTH dimensions at once and a 2-D box
  * predicate skips the overwhelming majority of splits.
  *
  * The z-value is a pure per-row expression (64 bit-ops at 16-bit
  * resolution) inside whole-stage codegen — no UDF, no shuffle of its
  * own.
  *
  * The top 2k bits of a z-value name the 4^k-cell quadtree bucket the
  * point falls in — `zBucket` exposes that as the fully-parallel
  * alternative to an ntile-style global sort for bucket analytics.
  */
object ZOrder {

  /** Interleaved z-value of two non-negative integer columns at the
    * given per-dimension bit width: bit i of x lands at position 2i,
    * bit i of y at 2i+1. Inputs are masked to `bits` (caller picks a
    * width covering the domain; 16 bits per dim => 32-bit z covering
    * 65k x 65k).
    */
  def zValue2(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31] (got $bits)")
    val mask = (1L << bits) - 1
    val xm = x.cast(LongType).bitwiseAND(lit(mask))
    val ym = y.cast(LongType).bitwiseAND(lit(mask))
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(xm, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(ym, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** Quadtree bucket: the top 2*levels bits of the z-value, i.e. which
    * of the 4^levels cells of the square the point falls in. A pure
    * projection — bucket analytics need no global sort.
    */
  def zBucket(z: Column, bits: Int, levels: Int): Column = {
    require(levels >= 1 && levels <= bits, s"levels in [1,$bits] (got $levels)")
    shiftright(z, 2 * (bits - levels))
  }

  /** DuckDB-SQL rendering of [[zValue2]] (for oracle parity): the same
    * mask-shift-interleave formula over BIGINT operators.
    */
  def zValueSql(xc: String, yc: String, bits: Int): String = {
    val mask = (1L << bits) - 1
    (0 until bits).map { i =>
      s"((((($xc) & $mask) >> $i) & 1) << ${2 * i})" +
        s" | ((((($yc) & $mask) >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", " | ", ")")
  }
}
