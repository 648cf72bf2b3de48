package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** The one deterministic distributed prefix sum: inclusive running
  * sums of count columns in key order over a frame with ONE ROW PER
  * DISTINCT KEY (a value-frequency table, a doc-id table). Every
  * midrank, ECDF-at-value and running-offset step of the rank
  * operators reduces to this.
  *
  * A plain `sum(c) OVER (ORDER BY key)` is a single-task window: every
  * row flows through one reducer, and a distinct-value table can be as
  * large as the corpus. The distributed form:
  *   1. bucket each key by a pure function of the key and frozen
  *      literal boundaries (a binary search over sorted literals), so
  *      equal keys — ties, `-0.0` beside `0.0` — always share a bucket
  *      and buckets are ordered like their keys;
  *   2. sum each bucket (|buckets| rows) and take the running sum of
  *      those totals — the bucket's offset;
  *   3. broadcast the offsets back and add them to a running sum under
  *      a window PARTITIONED by bucket, each bucket in its own shuffle
  *      partition.
  * The result is exact whatever the boundaries are; they only decide
  * balance. With no boundaries the plan is the single ordered window,
  * which is the cheaper plan while the table fits one task.
  *
  * The bucket count is derived from the input, not a knob: the plan's
  * size estimate over `spark.sql.adaptive.advisoryPartitionSizeInBytes`,
  * capped at `spark.sql.shuffle.partitions` (more buckets than reducers
  * buy no parallelism). An estimate at or above
  * `spark.sql.defaultSizeInBytes` is the optimizer saying "unknown" and
  * means one bucket. Several buckets cost one `approxQuantile` job, whose
  * boundaries are then frozen as literals, so re-executing the plan
  * (a lost cache block, a retried stage) buckets every key the same
  * way. Rows with a NULL key are dropped, as every rank caller excludes
  * them. */
object PrefixSum {

  /** `df` plus `<c>_cum` per column `c` of `sums`: the inclusive running
    * sum of `c` over the non-null keys in ascending `key` order. */
  def running(df: DataFrame, key: String, sums: Seq[String]): DataFrame =
    running(df, key, sums, boundaries(df, Seq(key)).head)

  /** Bucket boundaries for each of `keys` (numeric columns of `df`):
    * none when `df`'s size estimate calls for one bucket, else one
    * `approxQuantile` job over all the keys at once. */
  private[graft] def boundaries(df: DataFrame,
      keys: Seq[String]): Seq[Seq[Double]] = {
    val n = bucketCount(df)
    if (n <= 1) keys.map(_ => Seq.empty)
    else df.stat.approxQuantile(keys.toArray,
      (1 until n).map(_.toDouble / n).toArray, 0.25 / n).toSeq.map(_.toSeq)
  }

  private def bucketCount(df: DataFrame): Int = {
    val conf = df.sparkSession.sessionState.conf
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (size >= conf.defaultSizeInBytes) 1
    else {
      val advisory = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
      ((size + advisory - 1) / advisory).min(conf.numShufflePartitions).toInt
    }
  }

  /** [[running]] under explicit `bounds` (any order, duplicates
    * allowed); an empty `bounds` is the single ordered window. That is
    * the form for a table bounded by design (24 hours, rounded scores,
    * a fixed-width grid): a grouped table's size estimate follows its
    * input, not its keys, so the estimated form would pay a quantile
    * job over the whole input at scale for a table one task holds. */
  private[graft] def running(df: DataFrame, key: String, sums: Seq[String],
      bounds: Seq[Double]): DataFrame = {
    // NULL keys sort (and bucket) last, so they add to no other key's
    // sums, and drop after the window: a filter before it would be
    // pushed below the aggregate that computes the key and evaluate a
    // computed key twice
    val ordered = col(key).asc_nulls_last
    val b = bounds.distinct.sorted(Ordering.Double.TotalOrdering).toIndexedSeq
    val upTo = Window.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    (if (b.isEmpty)
      sums.foldLeft(df)((d, c) => d.withColumn(s"${c}_cum", sum(c).over(upTo.orderBy(ordered))))
    else {
      // bucket = label of the number of boundaries <= key, by binary search
      val label = labels(b.length + 1, df.sparkSession.sessionState.conf.numShufflePartitions)
      def bucket(lo: Int, hi: Int): Column =
        if (lo == hi) lit(label(lo))
        else {
          val mid = (lo + hi) / 2
          when(col(key) < lit(b(mid)), bucket(lo, mid)).otherwise(bucket(mid + 1, hi))
        }
      val bucketed = df.withColumn("__pfx_bkt", bucket(0, b.length))
      val before = Window.orderBy("__pfx_bkt").rowsBetween(Window.unboundedPreceding, -1)
      val offsets = bucketed.groupBy("__pfx_bkt")
        .agg(sum(sums.head).as(s"__pfx_t_${sums.head}"),
          sums.tail.map(c => sum(c).as(s"__pfx_t_$c")): _*)
        .select(col("__pfx_bkt") +: sums.map(c =>
          coalesce(sum(s"__pfx_t_$c").over(before), lit(0L)).as(s"__pfx_o_$c")): _*)
      val within = upTo.partitionBy("__pfx_bkt").orderBy(ordered)
      sums.foldLeft(bucketed.join(broadcast(offsets), "__pfx_bkt")) { (d, c) =>
        d.withColumn(s"${c}_cum", col(s"__pfx_o_$c") + sum(c).over(within))
      }.select((df.columns.toSeq ++ sums.map(c => s"${c}_cum")).map(col): _*)
    }).where(col(key).isNotNull)
  }

  /** Increasing labels for `n` buckets such that bucket i hashes to
    * shuffle partition i mod `parts` (Spark's HashPartitioning: murmur3,
    * seed 42, non-negative mod), so the bucket-partitioned window runs
    * one task per bucket instead of wherever the hashes of 0..n-1 happen
    * to collide (for 4 partitions, 0, 1 and 3 all land in partition 3).
    * Balance only: any increasing labels give the same sums. */
  private def labels(n: Int, parts: Int): IndexedSeq[Int] =
    (0 until n).scanLeft(-1) { (prev, i) =>
      Iterator.from(prev + 1)
        .find(l => Math.floorMod(Murmur3_x86_32.hashInt(l, 42), parts) == i % parts).get
    }.tail
}
