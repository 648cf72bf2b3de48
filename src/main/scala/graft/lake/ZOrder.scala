package graft.lake

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order-lite: multi-dimensional clustering for the curated layer.
  *
  * The reference claims a Z-ordered parquet layout and leaves automation
  * as future work (reference `README.md:3,12,35,107`). Without Delta's
  * OPTIMIZE ZORDER, the same data-skipping benefit is had by computing a
  * bit-interleaved key over the cluster columns and range-partitioning +
  * sorting by it: rows close in Z-value are close in both dimensions, so
  * parquet row-group min/max stats become selective for filters on EITHER
  * column — that's what makes the 100 TB scan prune.
  *
  * The interleave is built from Spark bitwise built-ins (shiftleft / |),
  * so the whole key stays inside whole-stage codegen — no UDF, no
  * codegen fallback.
  */
object ZOrder {

  /** Bin a numeric column into [0, 2^bits) with width_bucket over its
    * observed min/max. Deliberately NOT a global-window ntile: a
    * Window.orderBy with no partition key funnels the whole table
    * through one task, which is exactly the pattern that dies at 100 TB.
    * width_bucket is a scalar expression — fully parallel, codegen'd —
    * at the cost of equal-width rather than equal-depth bins. */
  private def widthBin(c: Column, min: Double, max: Double, bits: Int): Column = {
    val buckets = 1 << bits
    val hi = if (max > min) max else min + 1.0d
    // width_bucket puts v == hi in overflow bucket buckets + 1: clamp it
    // into the top bin, or the interleave (which reads only the low
    // `bits` bits) would sort every column maximum with the minimum
    least(width_bucket(c.cast("double"), lit(min), lit(hi), lit(buckets)) - 1,
      lit(buckets - 1L)).cast("long")
  }

  /** Interleave the low `bits` bits of two non-negative long columns:
    * result bit 2i = bit i of a, bit 2i+1 = bit i of b. Pure built-in
    * expression tree (codegen-friendly). */
  def interleaveBits(a: Column, b: Column, bits: Int = 16): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }

  /** Reference Scala implementation for tests. */
  def interleaveRef(a: Long, b: Long, bits: Int = 16): Long = {
    var r = 0L
    var i = 0
    while (i < bits) {
      r |= ((a >> i) & 1L) << (2 * i)
      r |= ((b >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    r
  }

  /** Round-robin interleave of the low `bits` bits of N non-negative
    * long columns: result bit (i·N + j) = bit i of column j — the
    * general Morton code ([[interleaveBits]] is the N=2 case). Still a
    * pure built-in expression tree. N·bits must fit in a long. */
  def interleaveBitsN(cols: Seq[Column], bits: Int): Column = {
    require(cols.size >= 2, "interleave needs at least 2 columns")
    require(cols.size * bits <= 63, s"${cols.size} cols × $bits bits overflow a long")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      cols.zipWithIndex.foldLeft(acc) { case (a, (c, j)) =>
        a.bitwiseOR(shiftleft(shiftright(c, i).bitwiseAND(lit(1L)),
          i * cols.size + j))
      }
    }
  }

  /** Reference Scala implementation of the N-way interleave for tests. */
  def interleaveRefN(vals: Seq[Long], bits: Int): Long = {
    var r = 0L
    var i = 0
    while (i < bits) {
      var j = 0
      while (j < vals.size) {
        r |= ((vals(j) >> i) & 1L) << (i * vals.size + j)
        j += 1
      }
      i += 1
    }
    r
  }

  /** Cluster `df` by the Z-value of two numeric columns: range-partition
    * into `numFiles` output files, sort within partitions by Z. One
    * cheap stats pass (a 4-column agg, collected to the driver) sizes the
    * bins; the layout pass itself is a scalar expression + range shuffle,
    * both fully parallel. Reads then get row-group pruning on either
    * column for free. */
  def cluster(df: DataFrame, colA: String, colB: String,
      numFiles: Int, bits: Int = 16): DataFrame =
    clusterN(df, Seq(colA, colB), numFiles, bits)

  /** N-column Z-order: the general form of [[cluster]] (e.g. Delta's
    * `OPTIMIZE ZORDER BY (a, b, c)`). Bits per dimension shrink as
    * dimensions grow (N·bits ≤ 63), which mirrors the real trade-off:
    * each extra cluster column halves the skip resolution of the rest. */
  def clusterN(df: DataFrame, cols: Seq[String], numFiles: Int,
      bits: Int = 16): DataFrame = {
    require(cols.size >= 2, "need at least 2 cluster columns")
    val effBits = math.min(bits, 63 / cols.size)
    val statCols = cols.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val stats = df.agg(statCols.head, statCols.tail: _*).head()
    val binned = cols.zipWithIndex.map { case (c, i) =>
      widthBin(col(c), stats.getDouble(2 * i), stats.getDouble(2 * i + 1), effBits)
    }
    val z = interleaveBitsN(binned, effBits)
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }
}
