package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained materialized aggregate over a [[TableLog]]
  * table — the "don't recompute the world" primitive: a 100 TB fact
  * table that gains 100 GB a day should pay aggregation for 100 GB a
  * day, not 100 TB (the reference's incremental dbt models express the
  * same contract at query level: `materialized: incremental`,
  * `dbt/dbt_project.yml`).
  *
  * Design: the view stores PARTIAL aggregates keyed by source data
  * DIRECTORY — the immutable unit a TableLog commit adds or retires.
  * A refresh is then a pure set-diff against the source manifest:
  *
  *  - appended dirs → aggregate ONLY those dirs' rows, append partials;
  *  - retired dirs (overwrite / optimize / rollback) → drop their
  *    partials; no tombstone bookkeeping, the manifest is the truth;
  *  - unchanged dirs → their partials are carried verbatim, zero IO.
  *
  * Because every stored aggregate is mergeable (count/sum/min/max —
  * the classic partial-aggregation algebra Spark itself uses between
  * map and reduce), finalization is a small aggregate over
  * |dirs| × |groups| partial rows, never over the data. `avg` is
  * derived at read time as sum/count rather than stored (averages
  * don't merge; sums and counts do).
  *
  * The view's own state lives in a TableLog at `mvPath`, so refreshes
  * are atomic, versioned, and time-travelable like any other table,
  * and a reader never sees a half-applied refresh.
  */
object MaterializedAgg {

  /** Fixed-bin histogram summary for approximate percentiles: values
    * clamp into `bins` equal-width buckets over [lo, hi]. Bin-count
    * arrays merge by element-wise sum (the mergeability exact
    * percentiles lack — they'd need every value), and a percentile
    * read-out is exact to within one bin width. Bounds are part of the
    * spec because partials from different refreshes must share them. */
  final case class Hist(col: String, lo: Double, hi: Double, bins: Int) {
    require(bins >= 2, "need at least 2 bins")
    require(hi > lo, "hi must exceed lo")
    def width: Double = (hi - lo) / bins
  }

  /** Mergeable aggregate spec: per group, row count plus sum/min/max
    * over the named numeric columns, plus approx-distinct over
    * `approxDistinctCols` — stored as DataSketches HLL sketches
    * (binary partials that union losslessly, the same mergeability
    * contract as sum/count; exact `count(distinct)` does NOT merge,
    * which is why the most common real MV after sum — distinct users
    * per day — needs the sketch form) — plus fixed-bin histograms
    * ([[Hist]]) for approximate percentiles. */
  final case class AggSpec(groupCols: Seq[String], sumCols: Seq[String] = Nil,
      minCols: Seq[String] = Nil, maxCols: Seq[String] = Nil,
      approxDistinctCols: Seq[String] = Nil, histCols: Seq[Hist] = Nil) {
    require(groupCols.nonEmpty, "need at least one group column")
    require(sumCols.nonEmpty || minCols.nonEmpty || maxCols.nonEmpty ||
      approxDistinctCols.nonEmpty || histCols.nonEmpty,
      "need at least one aggregate column")
  }

  /** What a refresh did: dirs newly aggregated, partials dropped for
    * retired dirs, dirs whose partials were reused untouched. */
  final case class RefreshReport(version: Int, processedDirs: Seq[String],
      droppedDirs: Seq[String], reusedDirs: Seq[String])

  private def partialAggs(spec: AggSpec): Seq[org.apache.spark.sql.Column] =
    count(lit(1)).as("__cnt") +:
      (spec.sumCols.map(c => sum(col(c)).as(s"__sum_$c")) ++
        spec.minCols.map(c => min(col(c)).as(s"__min_$c")) ++
        spec.maxCols.map(c => max(col(c)).as(s"__max_$c")) ++
        spec.approxDistinctCols.map(c =>
          hll_sketch_agg(col(c)).as(s"__hll_$c")) ++
        spec.histCols.map { h =>
          // one-hot conditional sums: the whole histogram is a single
          // partial-aggregated pass, no extra shuffle; NULLs fall
          // through every branch and count nowhere
          val bin = least(lit(h.bins - 1), greatest(lit(0),
            floor((col(h.col) - h.lo) / (h.hi - h.lo) * h.bins).cast("int")))
          array((0 until h.bins).map(b =>
            sum(when(bin === b, 1L).otherwise(0L))): _*).as(s"__hist_${h.col}")
        })

  /** Bring the view at `mvPath` up to date with the CURRENT snapshot of
    * the source table. No-op (returns the current version with empty
    * dir lists) when the manifests already agree. `srcName` names the
    * source in the recorded lineage edge; it must match the name the
    * table is registered under in [[Catalog]] publications or
    * `Catalog.upstream` can't follow the edge — the default (the
    * path's directory basename) is only right when tables are
    * registered under their basenames. */
  def refresh(spark: SparkSession, srcPath: String, mvPath: String,
      spec: AggSpec, srcName: Option[String] = None): RefreshReport = {
    val srcCommit = TableLog.history(spark, srcPath).lastOption
    require(srcCommit.exists(_.dirs.nonEmpty),
      s"source table at $srcPath has no snapshot")
    val srcDirs = srcCommit.get.dirs
    val mvCommit = TableLog.history(spark, mvPath).lastOption
    val existing: Option[DataFrame] =
      mvCommit.map(TableLog.readCommit(spark, mvPath, _))
    // covered dirs: bounded by the source's file-commit count, not data
    val covered: Set[String] = existing
      .map(_.select("__src_dir").distinct()
        .collect().map(_.getString(0)).toSet)
      .getOrElse(Set.empty)
    val newDirs = srcDirs.filterNot(covered)
    val staleDirs = (covered -- srcDirs.toSet).toSeq.sorted
    val reused = srcDirs.filter(covered).sorted
    if (newDirs.isEmpty && staleDirs.isEmpty)
      return RefreshReport(mvCommit.get.version, Seq.empty, Seq.empty, reused)

    val aggs = partialAggs(spec)
    // each new dir is read under the SNAPSHOT schema, so a column added
    // by schema evolution reads as NULL in dirs written before it
    val newPartials = newDirs.map { d =>
      TableLog.readKept(spark, srcPath, srcCommit.get, Seq(s"$srcPath/$d"))
        .groupBy(spec.groupCols.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
        .withColumn("__src_dir", lit(d))
    }.reduceOption(_.unionByName(_))
    val kept = existing.map(_.filter(col("__src_dir").isin(srcDirs: _*)))
    val state = (kept, newPartials) match {
      case (Some(k), Some(n)) => k.unionByName(n)
      case (Some(k), None)    => k
      case (None, Some(n))    => n
      case (None, None) => throw new IllegalStateException("empty refresh")
    }
    // lineage: the refresh consumed exactly source@version — the edge
    // that answers "which snapshot is this MV's state derived from"
    val srcRef = TableLog.InputRef(
      srcName.getOrElse(new org.apache.hadoop.fs.Path(srcPath).getName),
      srcCommit.map(_.version))
    val c = TableLog.commitOverwrite(spark, mvPath, state, Seq(srcRef))
    RefreshReport(c.version, newDirs.sorted, staleDirs, reused)
  }

  /** Finalized view: merge the stored partials. Output columns:
    * groupCols, `cnt`, `sum_<c>`, `min_<c>`, `max_<c>`,
    * `approx_distinct_<c>` (HLL union → estimate). */
  def read(spark: SparkSession, mvPath: String, spec: AggSpec): DataFrame = {
    val merged =
      sum(col("__cnt")).as("cnt") +:
        (spec.sumCols.map(c => sum(col(s"__sum_$c")).as(s"sum_$c")) ++
          spec.minCols.map(c => min(col(s"__min_$c")).as(s"min_$c")) ++
          spec.maxCols.map(c => max(col(s"__max_$c")).as(s"max_$c")) ++
          spec.approxDistinctCols.map(c =>
            hll_sketch_estimate(hll_union_agg(col(s"__hll_$c")))
              .as(s"approx_distinct_$c")) ++
          spec.histCols.map(h =>
            array((0 until h.bins).map(b =>
              sum(element_at(col(s"__hist_${h.col}"), b + 1))): _*)
              .as(s"hist_${h.col}")))
    TableLog.read(spark, mvPath)
      .groupBy(spec.groupCols.map(col): _*)
      .agg(merged.head, merged.tail: _*)
  }

  /** Percentile read-out from the merged histogram of `colName`: for
    * each quantile q, the midpoint of the bin holding the ⌈q·n⌉-th
    * value — exact to within one bin width of the true percentile.
    * Output columns: groupCols, `p<pct>_<col>` per quantile. The bin
    * explode is |groups| × bins rows of MV state, never data. */
  def readPercentiles(spark: SparkSession, mvPath: String, spec: AggSpec,
      colName: String, quantiles: Seq[Double]): DataFrame = {
    val h = spec.histCols.find(_.col == colName).getOrElse(
      throw new IllegalArgumentException(s"no histogram for $colName in spec"))
    require(quantiles.nonEmpty && quantiles.forall(q => q > 0.0 && q <= 1.0),
      "quantiles must lie in (0, 1]")
    val g = spec.groupCols
    val exploded = read(spark, mvPath, spec)
      .select(g.map(col) :+
        posexplode(col(s"hist_$colName")).as(Seq("__bin", "__cnt")): _*)
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(g.map(col): _*).orderBy(col("__bin"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(g.map(col): _*)
    val cum = exploded
      .withColumn("__cum", sum(col("__cnt")).over(wCum))
      .withColumn("__total", sum(col("__cnt")).over(wAll))
    val outs = quantiles.map { q =>
      (lit(h.lo) + (min(when(
        col("__cum") >= ceil(col("__total") * q), col("__bin"))) + 0.5) *
        h.width).as(s"p${math.round(q * 100)}_$colName")
    }
    cum.groupBy(g.map(col): _*).agg(outs.head, outs.tail: _*)
  }
}
