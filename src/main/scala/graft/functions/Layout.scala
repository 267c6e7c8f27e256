package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.GraftFunctions

/** Multi-dimensional data-layout keys (Z-order / Morton curves) for
  * locality-preserving file clustering — the write-side optimization
  * that makes min/max data skipping effective on MORE than one filter
  * column. Sorting 100 TB by (a) alone gives perfect pruning on `a` and
  * none on `b`; sorting by the interleaved key gives near-`sqrt`
  * pruning on both, which is why lakehouse table formats expose exactly
  * this operation (`OPTIMIZE ... ZORDER BY`).
  *
  * The key is a pure Catalyst column expression (shift/and/or unrolled
  * per bit — whole-stage-codegen-friendly, no UDF), so it costs one
  * projection; the physical clustering is Spark's own
  * `repartitionByRange` + `sortWithinPartitions`, i.e. one range
  * shuffle — the same cost as any global sort of the write path.
  */
object Layout {

  /** Bit-interleaved Z-order (Morton) key: bit `i` of `cols(j)` lands at
    * position `i * cols.size + j` of the key. Inputs must be
    * non-negative and fit `bits` bits (callers rescale/clamp first);
    * `bits * cols.size` must stay below 63 so the key fits a long. */
  def zOrderKey(cols: Seq[Column], bits: Int = 16): Column = {
    require(cols.nonEmpty, "zOrderKey needs at least one column")
    require(bits > 0 && bits * cols.size <= 63,
      s"interleaved width ${bits * cols.size} must be in (0, 63]")
    val n = cols.size
    (for { i <- 0 until bits; j <- 0 until n } yield
      shiftleft(shiftright(cols(j).cast("long"), i).bitwiseAND(lit(1L)), i * n + j))
      .reduce(_ bitwiseOR _)
  }

  /** Physically cluster `df` along the Z-curve of `cols`: one range
    * shuffle into `numRanges` partitions, each internally sorted by the
    * key — every output file then covers a tight hyper-rectangle of the
    * key space, which is what per-file min/max statistics prune on. */
  def zOrderCluster(df: DataFrame, cols: Seq[Column], bits: Int = 16,
                    numRanges: Int = 0): DataFrame = {
    val key = zOrderKey(cols, bits)
    val ranges = if (numRanges > 0) numRanges
      else df.sparkSession.sessionState.conf.numShufflePartitions
    df.repartitionByRange(ranges, key).sortWithinPartitions(key)
  }

  /** Hilbert-curve key for two dimensions — the higher-locality
    * alternative to [[zOrderKey]]: every step of the Hilbert walk moves
    * to an ADJACENT cell (no Z-shaped diagonal jumps), so consecutive
    * key ranges cover tighter bounding boxes and per-file min/max
    * pruning discards more files at the same file count — why lakehouse
    * formats added `HILBERT` next to `ZORDER` as the default.
    *
    * Classic top-down quadrant walk: at each bit level `s = 2^e`, the
    * quadrant index (3·rx XOR ry) contributes s², then the sub-square
    * is reflected/swapped so the sub-curve enters where the parent
    * leaves off. The identical walk is expressible in any SQL engine
    * with a recursive CTE (how the oracle replays it). Inputs must be
    * non-negative and fit `bits` bits (callers rescale/mask first).
    *
    * The walk runs in the native [[graft.plans.HilbertKey]] kernel —
    * one generated 16-iteration loop over two longs. (The first cut was
    * an `aggregate` fold over the bit levels: exact, but higher-order
    * functions evaluate interpreted with a struct allocation per level
    * per row — 16 s at sf0.1 where Z-order runs in tenths — and a
    * per-level column unroll doubles the expression tree per level
    * because each level reads BOTH prior coordinates.) */
  def hilbertKey(xCol: Column, yCol: Column, bits: Int = 16): Column = {
    require(bits > 0 && 2 * bits <= 62,
      s"key width ${2 * bits} must be in (0, 62]")
    GraftFunctions.hilbertKey(xCol.cast("long"), yCol.cast("long"), bits)
  }
}
