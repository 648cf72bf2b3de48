package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.PrefixSum

/** Distribution-drift report between two frames: PSI (population
  * stability index), the standard score for "did this feature's
  * distribution move between the baseline snapshot and today" — the
  * monitoring companion to [[graft.lake.SnapshotDiff]], which reports
  * row-level changes; PSI reports DISTRIBUTION-level change even when
  * no individual row is comparable.
  *
  * Values are binned with deterministic fixed-width buckets, shares are
  * floored so an empty bucket never yields ±∞, and each bucket
  * contributes `(cur_p − base_p) · ln(cur_p / base_p)` (all terms
  * ≥ 0); the conventional reading of the summed index: < 0.1 stable,
  * 0.1–0.25 moderate drift, > 0.25 major drift.
  *
  * Scale shape: one grouped count per side (map-side partials), a
  * full-outer join on bucket ids, and window normalization — all over
  * the BUCKET table, whose size is value-range/width, not row count.
  * Pairing with [[graft.lake.TableLog.readAsOf]] gives "drift between
  * yesterday's snapshot and now" without retaining either frame.
  */
object Drift {

  /** Per-bucket PSI report: (bucket, base_n, cur_n, base_p, cur_p,
    * psi_term), ordered by bucket. Total PSI = sum(psi_term). */
  def psiReport(base: DataFrame, current: DataFrame, valueCol: String,
      bucketWidth: Double, floorP: Double = 1e-6): DataFrame = {
    require(bucketWidth > 0.0, "bucket width must be positive")
    psiBuckets(base, current, floor(col(valueCol) / bucketWidth), floorP)
  }

  /** The bucket table of the fixed- and equi-depth reports: per-side
    * counts of the bigint id `bucket`, full-outer merged, a side's
    * missing bucket filled as 0 — `(bucket, base_n, cur_n)`. */
  private def bucketCounts(base: DataFrame, current: DataFrame,
      bucket: Column): DataFrame = {
    def counts(df: DataFrame, as: String) = df
      .select(bucket.cast("bigint").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as(as))
    counts(base, "base_n")
      .join(counts(current, "cur_n"), Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("base_n", "cur_n"))
  }

  /** [[psiReport]]'s report over the buckets `bucket` assigns: floored
    * shares and each bucket's `psi_term`, ordered by bucket. */
  private def psiBuckets(base: DataFrame, current: DataFrame,
      bucket: Column, floorP: Double): DataFrame = {
    val w = Window.partitionBy()   // side totals over the bucket table
    bucketCounts(base, current, bucket)
      .withColumn("__bp",
        greatest(col("base_n") / sum("base_n").over(w), lit(floorP)))
      .withColumn("__cp",
        greatest(col("cur_n") / sum("cur_n").over(w), lit(floorP)))
      .select(col("bucket"), col("base_n"), col("cur_n"),
        round(col("__bp"), 6).as("base_p"),
        round(col("__cp"), 6).as("cur_p"),
        round((col("__cp") - col("__bp")) * log(col("__cp") / col("__bp")), 6)
          .as("psi_term"))
      .orderBy("bucket")
  }

  /** Freedman–Diaconis bucket-width advisor — the missing input of
    * every fixed-width monitor in this family ([[psiReport]],
    * [[wassersteinReport]], [[ksBySliceFdr]] all take a `bucketWidth`
    * someone had to pick): FD's h = 2·IQR/n^⅓ (Freedman & Diaconis
    * 1981) is the standard robust choice — wide enough that bucket
    * counts are stable, narrow enough to resolve the distribution —
    * and the derived bucket COUNT over the observed range is the
    * sanity number (hundreds = good, single digits = the metric will
    * be blind, millions = someone passed cents as dollars).
    *
    * One multi-percentile agg per column over the corpus; exact
    * percentiles are the oracle pin — swap `approx_percentile` at
    * scale (the q29/q52 convention). Output is |cols| rows. */
  def bucketWidthAdvisor(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val spark = df.sparkSession
    import spark.implicits._
    val perCol = cols.map { c =>
      df.select(col(c).cast("double").as("v"))
        .where(col("v").isNotNull)
        .agg(
          lit(c).as("column"),
          count(lit(1)).as("n"),
          min("v").as("__lo"),
          max("v").as("__hi"),
          expr("percentile(v, 0.25)").as("__q1"),
          expr("percentile(v, 0.75)").as("__q3"))
    }.reduce(_ unionByName _)
    perCol
      .withColumn("iqr", round(col("__q3") - col("__q1"), 6))
      .withColumn("fd_width",
        round(lit(2.0) * (col("__q3") - col("__q1")) /
          pow(col("n").cast("double"), 1.0 / 3.0), 6))
      .withColumn("n_buckets",
        // gate on the UNROUNDED q3 > q1 exactly like the oracle's
        // CASE: a tiny positive IQR whose FD width rounds to 0 at 6
        // decimals must still yield a (huge) bucket count, not NULL
        when(col("__q3") > col("__q1"),
          ceil((col("__hi") - col("__lo")) / (lit(2.0) *
            (col("__q3") - col("__q1")) /
            pow(col("n").cast("double"), 1.0 / 3.0))).cast("long"))
          .otherwise(lit(null).cast("long")))
      .select(col("column"), col("n"),
        round(col("__lo"), 6).as("lo"),
        round(col("__hi"), 6).as("hi"),
        col("iqr"), col("fd_width"), col("n_buckets"))
      .orderBy("column")
  }

  /** Quantile-alignment table between each source's value distribution
    * and the pooled one — the TRANSFORM table quantile normalization
    * (Bolstad et al., Bioinformatics 2003; the cross-batch score-
    * fusion standard) needs: at each probability level, the source
    * quantile, the pooled quantile, and the shift between them. A
    * quality-score fusion across heterogeneous sources reads this to
    * decide whether sources are comparable as-is (shifts ≈ 0),
    * linearly rescalable (constant shift), or need the full monotone
    * warp (level-dependent shift).
    *
    * One grouped multi-percentile agg per side — exact `percentile`
    * as the oracle pin, `approx_percentile` is the drop-in at 100 TB
    * (the q29/q52 convention). Output is |sources|·|levels| rows. */
  def quantileAlign(df: DataFrame, sourceCol: String, valueCol: String,
      levels: Seq[Double] = (0 to 10).map(_ / 10.0)): DataFrame = {
    require(levels.nonEmpty, "need at least one level")
    val lvlSql = levels.mkString("array(", ", ", ")")
    val lvlLit = array(levels.map(lit): _*)
    val v = col(valueCol).cast("double")
    val per = df
      .groupBy(col(sourceCol).as("source"))
      .agg(expr(s"percentile(CAST($valueCol AS DOUBLE), $lvlSql)")
        .as("__qs"))
      .select(col("source"), posexplode(col("__qs"))
        .as(Seq("__i", "src_q")))
    val pooled = df
      .agg(expr(s"percentile(CAST($valueCol AS DOUBLE), $lvlSql)")
        .as("__qs"))
      .select(posexplode(col("__qs")).as(Seq("__i", "pooled_q")))
    per.join(broadcast(pooled), "__i")   // |levels|-row stat table
      .select(col("source"),
        round(element_at(lvlLit, col("__i") + 1), 2).as("level"),
        round(col("src_q"), 6).as("src_q"),
        round(col("pooled_q"), 6).as("pooled_q"),
        round(col("src_q") - col("pooled_q"), 6).as("shift"))
      .orderBy("source", "level")
  }

  /** DuckDB oracle for [[quantileAlign]] on documents(source, n_chars). */
  def quantileAlignOracleSql(
      levels: Seq[Double] = (0 to 10).map(_ / 10.0)): String = {
    val lst = levels.mkString("[", ", ", "]")
    s"""WITH per AS (
       |  SELECT source,
       |    quantile_cont(CAST(n_chars AS DOUBLE), $lst) AS qs
       |  FROM documents GROUP BY 1),
       |perx AS (
       |  SELECT source, generate_subscripts(qs, 1) AS i,
       |    UNNEST(qs) AS src_q FROM per),
       |pool AS (
       |  SELECT quantile_cont(CAST(n_chars AS DOUBLE), $lst) AS qs
       |  FROM documents),
       |poolx AS (
       |  SELECT generate_subscripts(qs, 1) AS i,
       |    UNNEST(qs) AS pooled_q FROM pool),
       |lev AS (
       |  SELECT generate_subscripts(l, 1) AS i, UNNEST(l) AS lv
       |  FROM (SELECT $lst AS l))
       |SELECT source, ROUND(lv, 2) AS level,
       |  ROUND(src_q, 6) AS src_q,
       |  ROUND(pooled_q, 6) AS pooled_q,
       |  ROUND(src_q - pooled_q, 6) AS shift
       |FROM perx JOIN poolx USING (i) JOIN lev USING (i)
       |ORDER BY source, level""".stripMargin
  }

  /** DuckDB oracle for [[bucketWidthAdvisor]] on named table columns. */
  def widthAdvisorOracleSql(table: String, cols: Seq[String]): String = {
    val selects = cols.map { c =>
      s"""SELECT '$c' AS "column",
         |  CAST(COUNT(v) AS BIGINT) AS n,
         |  ROUND(MIN(v), 6) AS lo,
         |  ROUND(MAX(v), 6) AS hi,
         |  ROUND(quantile_cont(v, 0.75) - quantile_cont(v, 0.25), 6)
         |    AS iqr,
         |  ROUND(2.0 * (quantile_cont(v, 0.75) - quantile_cont(v, 0.25)) /
         |    pow(COUNT(v), 1.0 / 3.0), 6) AS fd_width,
         |  CASE WHEN quantile_cont(v, 0.75) > quantile_cont(v, 0.25)
         |    THEN CAST(ceil((MAX(v) - MIN(v)) /
         |      (2.0 * (quantile_cont(v, 0.75) - quantile_cont(v, 0.25)) /
         |       pow(COUNT(v), 1.0 / 3.0))) AS BIGINT)
         |    ELSE NULL END AS n_buckets
         |FROM (SELECT CAST($c AS DOUBLE) AS v FROM $table
         |      WHERE $c IS NOT NULL)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""SELECT * FROM (
       |$selects
       |) ORDER BY "column"""".stripMargin
  }

  /** Per-slice two-sample KS screen with Benjamini–Hochberg FDR
    * control — the MULTIPLE-TESTING form of drift monitoring: a fleet
    * that KS-tests every source/tenant/shard slice against the rest of
    * the corpus every night runs hundreds of simultaneous tests, and
    * raw p < 0.05 alarms would page someone almost surely on pure
    * noise. BH (Benjamini & Hochberg 1995) adjusts each slice's
    * p-value so that the EXPECTED FALSE-DISCOVERY FRACTION among
    * fired alarms stays ≤ α — the standard way a monitoring fleet is
    * made quiet without going blind.
    *
    * Dataflow: ONE grouped count to the (slice × value-bucket) table;
    * every slice's D statistic comes from cumulative windows over the
    * dense slice×bucket grid (slice-cardinality × bucket-cardinality,
    * never corpus-sized; each slice compares to the COMPLEMENT derived
    * from the same counts, so the corpus is scanned once, not once per
    * slice). P-values use the Stephens small-sample-corrected
    * asymptotic KS series (5 terms); BH is two windows over the
    * slice-cardinality result. */
  def ksBySliceFdr(df: DataFrame, sliceCol: String, valueCol: String,
      bucketWidth: Double, alpha: Double = 0.05): DataFrame = {
    require(bucketWidth > 0.0, "bucket width must be positive")
    val counts = df
      .select(col(sliceCol).as("slice"),
        floor(col(valueCol) / bucketWidth).cast("bigint").as("bucket"))
      .groupBy("slice", "bucket").agg(count(lit(1)).as("c"))
    val slices = counts.select("slice").distinct()
    val buckets = counts.select("bucket").distinct()
    val grid = slices.crossJoin(buckets)   // bounded: |slices|·|buckets|
      .join(counts, Seq("slice", "bucket"), "left_outer")
      .na.fill(0L, Seq("c"))
    val bucketTotals = counts.groupBy("bucket").agg(sum("c").as("g"))
    // slice totals and the grand total as JOINED stat tables, not
    // stacked window functions: a second unbounded window with a
    // different partition spec over this frame CORRUPTS the first
    // (both return the grand total — reproduced on Spark 4.1 with and
    // without constant partition keys), so the totals come from plain
    // uniquely-named aggs instead
    val sliceTotals = counts.groupBy("slice")
      .agg(sum("c").as("slice_total"))
    val grandTotal = counts.agg(sum("c").as("grand_total"))
    val wCum = Window.partitionBy("slice").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, 0)
    val d = grid.join(bucketTotals, "bucket")
      .join(broadcast(sliceTotals), "slice")
      .crossJoin(broadcast(grandTotal))   // 1-row stat factor
      .withColumn("__rest", col("g") - col("c"))
      .withColumn("__Fs", sum("c").over(wCum) / col("slice_total"))
      .withColumn("__Fr", sum("__rest").over(wCum) /
        (col("grand_total") - col("slice_total")))
      .groupBy("slice")
      .agg(
        first("slice_total").as("n_slice"),
        (first("grand_total") - first("slice_total")).as("n_rest"),
        max(abs(col("__Fs") - col("__Fr"))).as("__D"))
    // Stephens-corrected asymptotic p (5-term alternating series)
    val ne = (col("n_slice") * col("n_rest")).cast("double") /
      (col("n_slice") + col("n_rest")).cast("double")
    val lam = (sqrt(ne) + lit(0.12) + lit(0.11) / sqrt(ne)) * col("__D")
    val pRaw = (1 to 5).map { k =>
      lit(2.0 * (if (k % 2 == 1) 1.0 else -1.0)) *
        exp(lit(-2.0 * k * k) * lam * lam)
    }.reduce(_ + _)
    val withP = d.withColumn("__p",
      least(greatest(pRaw, lit(0.0)), lit(1.0)))
    // BH step-up: rank ascending by p; adj = min_{j>=i} p_j·m/j, ≤ 1.
    // m joins as a 1-row stat table (same window-mixing caution as the
    // totals above); the rank windows run over the slice-cardinality
    // result only
    val wRank = Window.partitionBy(lit(1)).orderBy(col("__p"), col("slice"))
    val wBack = Window.partitionBy(lit(1))
      .orderBy(col("__p").desc, col("slice").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    withP
      .crossJoin(broadcast(sliceTotals.agg(count(lit(1)).as("__m"))))
      .withColumn("__i", row_number().over(wRank))
      .withColumn("__adj",
        least(min(col("__p") * col("__m") / col("__i")).over(wBack),
          lit(1.0)))
      .select(col("slice"), col("n_slice"), col("n_rest"),
        round(col("__D"), 6).as("ks_d"),
        round(col("__p"), 6).as("p_value"),
        round(col("__adj"), 6).as("p_adj"),
        (col("__adj") <= alpha).as("discovery"))
      .orderBy("slice")
  }

  /** DuckDB oracle for [[ksBySliceFdr]] with expressions for the slice
    * and value columns. */
  def ksFdrOracleSql(table: String, sliceExpr: String, valueExpr: String,
      bucketWidth: Double, alpha: Double = 0.05): String =
    s"""WITH counts AS (
       |  SELECT $sliceExpr AS slice,
       |    CAST(floor($valueExpr / $bucketWidth) AS BIGINT) AS bucket,
       |    COUNT(*) AS c
       |  FROM $table GROUP BY 1, 2),
       |grid AS (
       |  SELECT s.slice, b.bucket, COALESCE(c.c, 0) AS c
       |  FROM (SELECT DISTINCT slice FROM counts) s
       |  CROSS JOIN (SELECT DISTINCT bucket FROM counts) b
       |  LEFT JOIN counts c ON c.slice = s.slice AND c.bucket = b.bucket),
       |bt AS (SELECT bucket, SUM(c) AS g FROM counts GROUP BY 1),
       |f AS (
       |  SELECT grid.slice, grid.bucket, grid.c, bt.g,
       |    SUM(grid.c) OVER (PARTITION BY grid.slice) AS n,
       |    SUM(grid.c) OVER () AS nn,
       |    SUM(grid.c) OVER (PARTITION BY grid.slice ORDER BY grid.bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
       |    SUM(bt.g - grid.c) OVER (PARTITION BY grid.slice
       |      ORDER BY grid.bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr
       |  FROM grid JOIN bt ON grid.bucket = bt.bucket),
       |dstat AS (
       |  SELECT slice, ANY_VALUE(n) AS n_slice,
       |    ANY_VALUE(nn) - ANY_VALUE(n) AS n_rest,
       |    MAX(abs(CAST(cs AS DOUBLE) / n -
       |            CAST(cr AS DOUBLE) / (nn - n))) AS d
       |  FROM f GROUP BY slice),
       |pv AS (
       |  SELECT slice, n_slice, n_rest, d,
       |    LEAST(GREATEST(
       |      2.0 * exp(-2.0 * lam * lam)
       |      - 2.0 * exp(-8.0 * lam * lam)
       |      + 2.0 * exp(-18.0 * lam * lam)
       |      - 2.0 * exp(-32.0 * lam * lam)
       |      + 2.0 * exp(-50.0 * lam * lam), 0.0), 1.0) AS p
       |  FROM (
       |    SELECT *, (sqrt(ne) + 0.12 + 0.11 / sqrt(ne)) * d AS lam
       |    FROM (
       |      SELECT *,
       |        CAST(n_slice AS DOUBLE) * n_rest /
       |          (n_slice + n_rest) AS ne
       |      FROM dstat))),
       |bh AS (
       |  SELECT slice, n_slice, n_rest, d, p,
       |    ROW_NUMBER() OVER (ORDER BY p, slice) AS i,
       |    COUNT(*) OVER () AS m
       |  FROM pv)
       |SELECT slice,
       |  CAST(n_slice AS BIGINT) AS n_slice,
       |  CAST(n_rest AS BIGINT) AS n_rest,
       |  ROUND(d, 6) AS ks_d,
       |  ROUND(p, 6) AS p_value,
       |  ROUND(LEAST(MIN(p * m / i) OVER (ORDER BY p DESC, slice DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0), 6)
       |    AS p_adj,
       |  LEAST(MIN(p * m / i) OVER (ORDER BY p DESC, slice DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0)
       |    <= $alpha AS discovery
       |FROM bh ORDER BY slice""".stripMargin

  /** Bucketed Wasserstein-1 (earth-mover) distance between two slices
    * of a numeric column — the drift metric the rest of the family
    * lacks a unit for: PSI and JS are dimensionless divergences, KS is
    * a sup-norm probability, while W₁ = ∫|F_base − F_cur| answers "how
    * FAR did the distribution move, in the column's own units" (a
    * $120 mean price shift reads as ≈120), which is the number a
    * threshold discussion can actually be had about. Computed on the
    * same fixed-width grid as [[psiReport]]: W₁ over bucket midpoints
    * = Σ |cumP_base − cumP_cur| · width, exact for the bucketed
    * distributions and within one width of the continuous value.
    *
    * Dataflow: one grouped count per side, full-outer merge, running
    * counts ([[PrefixSum]]) and totals over the BUCKET table (bounded
    * by the value range / width, never corpus-sized). Per-bucket rows
    * carry |ΔF| and every row repeats the total `w1` — the
    * [[psiReport]] report shape. NULL values are dropped. */
  def wassersteinReport(base: DataFrame, current: DataFrame,
      valueCol: String, bucketWidth: Double): DataFrame = {
    require(bucketWidth > 0.0, "bucket width must be positive")
    val tbl = bucketCounts(base, current, floor(col(valueCol) / bucketWidth))
    val wAll = Window.partitionBy()   // totals over the bucket table
    // range/width rows: one task; a NULL value's bucket drops here
    PrefixSum.running(tbl, "bucket", Seq("base_n", "cur_n"), Nil)
      .withColumn("__bF", col("base_n_cum") / sum("base_n").over(wAll))
      .withColumn("__cF", col("cur_n_cum") / sum("cur_n").over(wAll))
      .withColumn("__d", abs(col("__bF") - col("__cF")))
      .select(col("bucket"), col("base_n"), col("cur_n"),
        round(col("__bF"), 6).as("base_cdf"),
        round(col("__cF"), 6).as("cur_cdf"),
        round(col("__d") * bucketWidth, 6).as("w1_term"),
        round(sum(col("__d") * bucketWidth).over(wAll), 6).as("w1"))
      .orderBy("bucket")
  }

  /** DuckDB oracle for [[wassersteinReport]] on the q220 fixture
    * (order totals, pre-1996 baseline vs the full feed). */
  def wassersteinOracleSql(valueCol: String, bucketWidth: Double,
      baseFilter: String): String =
    s"""WITH b AS (
       |  SELECT CAST(floor($valueCol / $bucketWidth) AS BIGINT) AS bucket,
       |    COUNT(*) AS base_n
       |  FROM orders WHERE $baseFilter GROUP BY 1),
       |c AS (
       |  SELECT CAST(floor($valueCol / $bucketWidth) AS BIGINT) AS bucket,
       |    COUNT(*) AS cur_n
       |  FROM orders GROUP BY 1),
       |j AS (
       |  SELECT COALESCE(b.bucket, c.bucket) AS bucket,
       |    COALESCE(base_n, 0) AS base_n, COALESCE(cur_n, 0) AS cur_n
       |  FROM b FULL OUTER JOIN c ON b.bucket = c.bucket),
       |f AS (
       |  SELECT bucket, base_n, cur_n,
       |    CAST(SUM(base_n) OVER (ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |      / SUM(base_n) OVER () AS bF,
       |    CAST(SUM(cur_n) OVER (ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |      / SUM(cur_n) OVER () AS cF
       |  FROM j)
       |SELECT bucket, base_n, cur_n,
       |  ROUND(bF, 6) AS base_cdf,
       |  ROUND(cF, 6) AS cur_cdf,
       |  ROUND(abs(bF - cF) * $bucketWidth, 6) AS w1_term,
       |  ROUND(SUM(abs(bF - cF) * $bucketWidth) OVER (), 6) AS w1
       |FROM f ORDER BY bucket""".stripMargin

  /** Equi-depth PSI — [[psiReport]] with bins that adapt to the
    * BASELINE's distribution instead of a fixed width: edges are the
    * baseline's interior `nBins`-quantiles, so every bucket holds
    * ~1/nBins of baseline mass and the index is scale-free (a
    * fixed-width grid over a heavy-tailed value puts 99% of mass in
    * one bucket and goes blind; equi-depth is the standard industry
    * practice for PSI bins). Bucket of a row = number of edges ≤ its
    * value — identical arithmetic on rounded-to-6 edges in engine and
    * oracle, so the report stays DuckDB-checkable.
    *
    * Scale: the edge fit collects `nBins−1` doubles to the driver
    * (bounded, like the codebook fits); exact `percentile` is the
    * oracle pin — swap `approx_percentile` for the mergeable-sketch
    * path at 100 TB (q29/q52 pattern). Everything after the edges is
    * [[psiReport]]'s bucket-table dataflow. */
  def psiEquiDepth(base: DataFrame, current: DataFrame, valueCol: String,
      nBins: Int = 10, floorP: Double = 1e-6): DataFrame = {
    require(nBins >= 2, "need at least 2 bins")
    val qs = (1 until nBins).map(i => i.toDouble / nBins)
    val edges = base
      .select(expr(s"percentile($valueCol, array(${qs.mkString(", ")}))")
        .as("e"))
      .head.getSeq[Double](0)
      .map(x => math.rint(x * 1e6) / 1e6)
    val bucketExpr = edges
      .map(e => when(col(valueCol) >= lit(e), 1).otherwise(0))
      .reduce(_ + _)
    psiBuckets(base, current, bucketExpr, floorP)
  }

  /** DuckDB oracle for [[psiEquiDepth]] over events split at
    * day-of-month `dayCutoff` (base ≤ cutoff < current). */
  def psiEquiDepthOracleSql(dayCutoff: Int, nBins: Int = 10,
      floorP: Double = 1e-6): String = {
    val qs = (1 until nBins).map(i => i.toDouble / nBins)
      .mkString("[", ", ", "]")
    s"""WITH b AS (SELECT value FROM events WHERE day(ts) <= $dayCutoff),
       |cur AS (SELECT value FROM events WHERE day(ts) > $dayCutoff),
       |e AS (SELECT list_transform(quantile_cont(value, $qs),
       |        x -> ROUND(x, 6)) AS edges FROM b),
       |bb AS (SELECT CAST(len(list_filter((SELECT edges FROM e),
       |        x -> value >= x)) AS BIGINT) AS bucket,
       |        COUNT(*) AS base_n FROM b GROUP BY 1),
       |cb AS (SELECT CAST(len(list_filter((SELECT edges FROM e),
       |        x -> value >= x)) AS BIGINT) AS bucket,
       |        COUNT(*) AS cur_n FROM cur GROUP BY 1),
       |j AS (
       |  SELECT COALESCE(bb.bucket, cb.bucket) AS bucket,
       |    COALESCE(bb.base_n, 0) AS base_n,
       |    COALESCE(cb.cur_n, 0) AS cur_n
       |  FROM bb FULL OUTER JOIN cb ON bb.bucket = cb.bucket),
       |p AS (
       |  SELECT bucket, base_n, cur_n,
       |    GREATEST(base_n / CAST(SUM(base_n) OVER () AS DOUBLE), $floorP)
       |      AS bp,
       |    GREATEST(cur_n / CAST(SUM(cur_n) OVER () AS DOUBLE), $floorP)
       |      AS cp
       |  FROM j)
       |SELECT bucket, CAST(base_n AS BIGINT) AS base_n,
       |  CAST(cur_n AS BIGINT) AS cur_n,
       |  ROUND(bp, 6) AS base_p, ROUND(cp, 6) AS cur_p,
       |  ROUND((cp - bp) * LN(cp / bp), 6) AS psi_term
       |FROM p ORDER BY bucket""".stripMargin
  }

  /** Categorical mix divergence between two corpus slices — the
    * Jensen–Shannon divergence (Lin, IEEE IT 1991) over a discrete
    * column's distribution, in bits: the "did the language / source /
    * topic MIX shift between crawl snapshots" score beside [[psiReport]]
    * (numeric columns) and [[embeddingDrift]] (vector space). JS is
    * symmetric and finite even when a category exists on only one side
    * (where pure KL blows up): each side contributes
    * `½·p·log2(p / m)` against the midpoint `m = (p+q)/2`, a vanishing
    * term as p→0; the total lives in [0, 1] bits.
    *
    * Per-category rows (counts, shares, contribution) name WHICH
    * categories moved; `js_bits` repeats the summed total on every row
    * (window over the category table) so the report is one frame.
    *
    * Scale shape: one grouped count per side (map-side partials), a
    * full-outer join + window normalization over the CATEGORY table —
    * every post-scan stage is category-cardinality, not row count. */
  def mixDivergence(ref: DataFrame, cur: DataFrame,
      catCol: String): DataFrame = {
    def counts(df: DataFrame, as: String) = df
      .select(col(catCol).as("category"))
      .groupBy("category").agg(count(lit(1)).as(as))
    val w = Window.partitionBy()   // totals over the category table
    val p = col("__p"); val q = col("__q")
    val m = (p + q) / 2.0
    val contrib =
      when(p > 0.0, lit(0.5) * p * log2(p / m)).otherwise(0.0) +
      when(q > 0.0, lit(0.5) * q * log2(q / m)).otherwise(0.0)
    counts(ref, "n_ref")
      .join(counts(cur, "n_cur"), Seq("category"), "full_outer")
      .na.fill(0L, Seq("n_ref", "n_cur"))
      .withColumn("__p", col("n_ref") / sum("n_ref").over(w))
      .withColumn("__q", col("n_cur") / sum("n_cur").over(w))
      .withColumn("__c", contrib)
      .select(col("category"), col("n_ref"), col("n_cur"),
        round(p, 6).as("p_ref"),
        round(q, 6).as("p_cur"),
        round(col("__c"), 6).as("js_contrib_bits"),
        round(sum("__c").over(w), 6).as("js_bits"))
      .orderBy("category")
  }

  /** Embedding-space drift between two corpus versions: per-label
    * centroid movement — the monitoring signal for "did re-embedding /
    * re-crawling shift where this class lives in vector space", which
    * scalar PSI over single columns cannot see. Reports, per label:
    * counts on each side, cosine similarity of the two centroids
    * (1.0 = no directional shift), and the L2 distance between them.
    *
    * Scale shape: each side is one posexplode + hash-agg keyed on
    * (label, coordinate) — map-side partials over the corpus, a
    * shuffle of |labels|·dims rows (NOT corpus-sized), one equi-join
    * of the two centroid tables on (label, idx), and a final
    * |labels|-row agg. Nothing driver-side; dims and label count bound
    * every post-scan stage however many vectors arrive.
    *
    * Floats widen to double BEFORE any arithmetic (same convention as
    * the ANN tier / q20's oracle) so results match an engine computing
    * natively in double. */
  def embeddingDrift(oldE: DataFrame, newE: DataFrame,
      labelCol: String = "label", vecCol: String = "embedding"): DataFrame = {
    def centroids(df: DataFrame, as: String) = df
      .select(col(labelCol).as("label"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("idx", "v")))
      .groupBy("label", "idx")
      .agg(avg("v").as(as))
    def counts(df: DataFrame, as: String) = df
      .groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as(as))
    centroids(oldE, "co").join(centroids(newE, "cn"), Seq("label", "idx"))
      .groupBy("label")
      .agg(
        sum(col("co") * col("cn")).as("__dot"),
        sum(col("co") * col("co")).as("__no"),
        sum(col("cn") * col("cn")).as("__nn"),
        sum((col("co") - col("cn")) * (col("co") - col("cn"))).as("__d2"))
      .join(counts(oldE, "n_old"), Seq("label"))
      .join(counts(newE, "n_new"), Seq("label"))
      .select(col("label"), col("n_old"), col("n_new"),
        round(col("__dot") / sqrt(col("__no") * col("__nn")), 6)
          .as("centroid_cos"),
        round(sqrt(col("__d2")), 6).as("centroid_l2"))
      .orderBy("label")
  }

  /** Two-sample Kolmogorov–Smirnov test between the `valueCol`
    * distributions of two frames: D = sup |F_a − F_b| with the 5%
    * critical value c(0.05)·√((n_a+n_b)/(n_a·n_b)), c(0.05)=1.358
    * (Smirnov 1948; the distribution-shape companion to [[psiReport]]
    * — PSI needs a bin width and misses shifts inside a bin; KS is
    * binless and catches any CDF separation).
    *
    * `grid` controls the evaluation points and is the scale dial:
    *   - `None` (exact): ECDFs at every DISTINCT value — the oracle
    *     pin. The running counts over the distinct-value table come
    *     from [[PrefixSum]], which buckets that table once it
    *     outgrows one task.
    *   - `Some(width)` (production): ECDFs at fixed-width bucket
    *     boundaries. The counts run in one task over range/width rows
    *     whatever the corpus size, and D is exact AT the boundaries —
    *     understating true D by at most the largest single-bucket
    *     mass (bounded in DriftSpec).
    * Both are one grouped count + the cumulative counts + a 1-row
    * broadcast total — same dataflow as [[psiReport]]. */
  def ksReport(a: DataFrame, b: DataFrame, valueCol: String,
      grid: Option[Double] = None): DataFrame = {
    def pt(c: org.apache.spark.sql.Column) = grid match {
      case Some(width) => floor(c / width).cast("bigint").cast("double")
      case None => c.cast("double")
    }
    val va = a.select(pt(col(valueCol)).as("v"))
      .where(col("v").isNotNull)
      .select(col("v"), lit(1L).as("ia"), lit(0L).as("ib"))
    val vb = b.select(pt(col(valueCol)).as("v"))
      .where(col("v").isNotNull)
      .select(col("v"), lit(0L).as("ia"), lit(1L).as("ib"))
    val c = va.unionAll(vb).groupBy("v")
      .agg(sum("ia").as("an"), sum("ib").as("bn"))
    val tot = c.agg(sum(col("an")).as("n_a"), sum(col("bn")).as("n_b"))
    val cum =
      if (grid.isEmpty) PrefixSum.running(c, "v", Seq("an", "bn"))
      else PrefixSum.running(c, "v", Seq("an", "bn"), Nil)  // grid: one task
    cum.crossJoin(broadcast(tot))
      .select(
        abs(col("an_cum").cast("double") / col("n_a") -
          col("bn_cum").cast("double") / col("n_b")).as("d"),
        col("n_a"), col("n_b"))
      .groupBy("n_a", "n_b")
      .agg(max(col("d")).as("__dmax"))
      .select(
        round(col("__dmax"), 6).as("ks_stat"),
        col("n_a"), col("n_b"),
        round(lit(1.358) * sqrt((col("n_a") + col("n_b")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")), 6).as("crit_05"),
        (col("__dmax") > lit(1.358) *
          sqrt((col("n_a") + col("n_b")).cast("double") /
            (col("n_a") * col("n_b")).cast("double"))).as("drifted"))
  }

  /** DuckDB oracle for [[ksReport]] over events split at
    * day-of-month `dayCutoff` (a ≤ cutoff < b), optionally on the
    * bucket grid — generated so engine and oracle can never disagree
    * on the grid or the critical-value arithmetic. */
  def ksOracleSql(dayCutoff: Int, grid: Option[Double] = None): String = {
    val p = grid match {
      case Some(width) => s"CAST(FLOOR(value / $width) AS DOUBLE)"
      case None => "CAST(value AS DOUBLE)"
    }
    s"""WITH u AS (
       |  SELECT $p AS v,
       |    CASE WHEN day(ts) <= $dayCutoff THEN 1 ELSE 0 END AS ia,
       |    CASE WHEN day(ts) <= $dayCutoff THEN 0 ELSE 1 END AS ib
       |  FROM events WHERE value IS NOT NULL),
       |c AS (SELECT v, SUM(ia) AS an, SUM(ib) AS bn FROM u GROUP BY v),
       |r AS (SELECT v,
       |    SUM(an) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca,
       |    SUM(bn) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb
       |  FROM c),
       |t AS (SELECT CAST(SUM(an) AS BIGINT) AS n_a,
       |             CAST(SUM(bn) AS BIGINT) AS n_b FROM c),
       |d AS (SELECT MAX(ABS(CAST(ca AS DOUBLE) / n_a -
       |                     CAST(cb AS DOUBLE) / n_b)) AS dmax
       |      FROM r, t)
       |SELECT ROUND(dmax, 6) AS ks_stat, n_a, n_b,
       |  ROUND(1.358 * SQRT(CAST(n_a + n_b AS DOUBLE) /
       |    CAST(n_a * n_b AS DOUBLE)), 6) AS crit_05,
       |  dmax > 1.358 * SQRT(CAST(n_a + n_b AS DOUBLE) /
       |    CAST(n_a * n_b AS DOUBLE)) AS drifted
       |FROM d, t""".stripMargin
  }

  /** Pearson chi-square test of homogeneity (Pearson 1900) between two
    * samples of a CATEGORICAL column — the drift test for discrete
    * features where PSI's log-ratio needs an arbitrary floor and KS
    * assumes an ordering. Each category row carries its observed counts,
    * the expected base count under "both samples share one
    * distribution" (`E_ij = row_total · side_total / grand_total`), and
    * its contribution `Σ_side (O−E)²/E`; `chi2` repeats the summed
    * statistic and `dof` = categories − 1 on every row (q168's
    * one-frame-report convention), so the caller compares against the
    * chi-square critical value for its alpha without a second frame.
    *
    * Scale shape: one grouped count per side (map-side partials), a
    * full-outer join + windows over the CATEGORY table — every
    * post-scan stage is category-cardinality, not row count. Expected
    * counts can't divide by zero: a category only appears in the join
    * when at least one side counted it, so its row total is ≥ 1. */
  def chiSquare(base: DataFrame, current: DataFrame,
      catCol: String): DataFrame = {
    def counts(df: DataFrame, as: String) = df
      .select(col(catCol).cast("string").as("category"))
      .where(col("category").isNotNull)
      .groupBy("category").agg(count(lit(1)).as(as))
    val w = Window.partitionBy()   // totals over the category table
    counts(base, "base_n")
      .join(counts(current, "cur_n"), Seq("category"), "full_outer")
      .na.fill(0L, Seq("base_n", "cur_n"))
      // doubles BEFORE the products: long·long row_total·side_total
      // overflows 2^63 at ~3e9-row sides; doubles are exact to 2^53
      // and the report rounds to 6 decimals anyway
      .withColumn("__rt", (col("base_n") + col("cur_n")).cast("double"))
      .withColumn("__gt", sum(col("__rt")).over(w))
      .withColumn("__eb",
        col("__rt") * sum(col("base_n")).over(w).cast("double") / col("__gt"))
      .withColumn("__ec",
        col("__rt") * sum(col("cur_n")).over(w).cast("double") / col("__gt"))
      .withColumn("__contrib",
        pow(col("base_n") - col("__eb"), 2) / col("__eb") +
        pow(col("cur_n") - col("__ec"), 2) / col("__ec"))
      .select(col("category"), col("base_n"), col("cur_n"),
        round(col("__eb"), 6).as("exp_base"),
        round(col("__contrib"), 6).as("contrib"),
        round(sum(col("__contrib")).over(w), 6).as("chi2"),
        (count(lit(1)).over(w) - 1).cast("bigint").as("dof"))
      .orderBy("category")
  }

  /** DuckDB oracle for [[chiSquare]] over `events.event_type` split at
    * day-of-month `dayCutoff` (base ≤ cutoff < current) — generated
    * beside the engine so the two can't drift. */
  def chiSquareOracleSql(dayCutoff: Int): String = {
    s"""WITH bb AS (SELECT event_type AS category, COUNT(*) AS base_n
       |  FROM events WHERE day(ts) <= $dayCutoff
       |    AND event_type IS NOT NULL GROUP BY 1),
       |cb AS (SELECT event_type AS category, COUNT(*) AS cur_n
       |  FROM events WHERE day(ts) > $dayCutoff
       |    AND event_type IS NOT NULL GROUP BY 1),
       |j AS (SELECT COALESCE(bb.category, cb.category) AS category,
       |    COALESCE(bb.base_n, 0) AS base_n,
       |    COALESCE(cb.cur_n, 0) AS cur_n
       |  FROM bb FULL OUTER JOIN cb ON bb.category = cb.category),
       |p AS (SELECT category, base_n, cur_n,
       |    CAST(base_n + cur_n AS DOUBLE) AS rt,
       |    CAST(SUM(base_n + cur_n) OVER () AS DOUBLE) AS gt,
       |    CAST(SUM(base_n) OVER () AS DOUBLE) AS bt,
       |    CAST(SUM(cur_n) OVER () AS DOUBLE) AS ct
       |  FROM j),
       |q AS (SELECT category, base_n, cur_n,
       |    rt * bt / gt AS eb, rt * ct / gt AS ec FROM p),
       |r AS (SELECT category, base_n, cur_n, eb,
       |    POW(base_n - eb, 2) / eb + POW(cur_n - ec, 2) / ec AS contrib
       |  FROM q)
       |SELECT category, CAST(base_n AS BIGINT) AS base_n,
       |  CAST(cur_n AS BIGINT) AS cur_n,
       |  ROUND(eb, 6) AS exp_base, ROUND(contrib, 6) AS contrib,
       |  ROUND(SUM(contrib) OVER (), 6) AS chi2,
       |  CAST(COUNT(*) OVER () - 1 AS BIGINT) AS dof
       |FROM r ORDER BY category""".stripMargin
  }

  /** Anderson–Darling 2-sample test (tie-adjusted AₐₖN² of Scholz &
    * Stephens, JASA 1987, eq. 7 with k = 2) between cohorts A/B of a
    * metric: the tail-sensitive alternative to the KS distance —
    * AD weights the CDF discrepancy by 1/(F(1−F)), so divergence in
    * the distribution TAILS (exactly where training-data quality
    * shifts hide) moves it far more than the sup-norm. One row:
    * `(n_a, n_b, a2)`; under H₀, E[A²] ≈ 1 — values ≫ 1 reject.
    *
    * Dataflow: the pooled value-FREQUENCY table (value-cardinality,
    * [[TwoSampleRank.pooledFreq]]) with cumulative half-weight counts
    * from its running sums; the (n_a, n_b, N) totals are a 1-row
    * broadcast stat factor. */
  def adTwoSample(df: DataFrame, inB: Column, metric: Column): DataFrame = {
    val f = TwoSampleRank.pooledFreq(df, inB, metric)
    val cum = f
      .withColumn("__Ba", col("__l_cum") - col("__l") / 2.0)
      .withColumn("__Ma", col("__la_cum") - col("__la") / 2.0)
      .withColumn("__Mb", col("__lb_cum") - col("__lb") / 2.0)
    val tot = f.agg(sum("__la").as("__na"), sum("__lb").as("__nb"),
      sum("__l").as("__N"))
    val j = cum.crossJoin(broadcast(tot))   // 1-row stat factor
    val nD = col("__N").cast("double")
    val naD = col("__na").cast("double")
    val nbD = col("__nb").cast("double")
    val denom = col("__Ba") * (nD - col("__Ba")) - nD * col("__l") / 4.0
    def term(m: Column, ni: Column): Column =
      when(denom > 0.0,
        col("__l") / nD *
          ((nD * m - ni * col("__Ba")) * (nD * m - ni * col("__Ba"))) /
          denom / ni).otherwise(lit(0.0))
    j.agg(
      first("__na").as("n_a"), first("__nb").as("n_b"),
      first("__N").as("__N2"),
      sum(term(col("__Ma"), naD) + term(col("__Mb"), nbD)).as("__s"))
      .select(
        col("n_a").cast("bigint").as("n_a"),
        col("n_b").cast("bigint").as("n_b"),
        round((col("__N2").cast("double") - 1.0) /
          col("__N2").cast("double") * col("__s"), 6).as("a2"))
  }

  /** DuckDB oracle for the registered fixture: weekday vs weekend
    * `value` cohorts (weekend label mirrored across the engines'
    * dayofweek encodings — Spark Sun=1/Sat=7, DuckDB Sun=0/Sat=6). */
  val adTwoSampleOracleSql: String =
    """WITH f AS (
      |  SELECT CAST(value AS DOUBLE) AS m,
      |    SUM(CASE WHEN dayofweek(ts) IN (0, 6) THEN 0 ELSE 1 END) AS la,
      |    SUM(CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END) AS lb
      |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
      |  GROUP BY 1),
      |c AS (
      |  SELECT m, la, lb, la + lb AS l,
      |    SUM(la + lb) OVER (ORDER BY m
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      - (la + lb) / 2.0 AS ba,
      |    SUM(la) OVER (ORDER BY m
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      - la / 2.0 AS ma,
      |    SUM(lb) OVER (ORDER BY m
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      - lb / 2.0 AS mb
      |  FROM f),
      |tot AS (
      |  SELECT CAST(SUM(la) AS DOUBLE) AS na,
      |    CAST(SUM(lb) AS DOUBLE) AS nb,
      |    CAST(SUM(la + lb) AS DOUBLE) AS nn
      |  FROM f),
      |terms AS (
      |  SELECT c.*, tot.na, tot.nb, tot.nn,
      |    c.ba * (tot.nn - c.ba) - tot.nn * c.l / 4.0 AS den
      |  FROM c, tot)
      |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |  ROUND((nn - 1.0) / nn * SUM(
      |    CASE WHEN den > 0.0 THEN
      |      l / nn * ((nn * ma - na * ba) * (nn * ma - na * ba)) / den / na
      |      + l / nn * ((nn * mb - nb * ba) * (nn * mb - nb * ba)) / den / nb
      |    ELSE 0.0 END), 6) AS a2
      |FROM terms GROUP BY na, nb, nn""".stripMargin

  /** Cramér–von Mises 2-sample test (Anderson, Ann. Math. Stat.
    * 1962) between cohorts A/B of a metric — the WHOLE-CURVE member
    * of the two-sample shelf: KS (q178) reads only the single worst
    * ECDF gap, [[adTwoSample]] re-weights toward the tails; CvM
    * integrates the SQUARED gap uniformly over the pooled sample,
    * T = (n·m/N²)·Σ_pooled [F_n(z) − G_m(z)]², so it reacts to broad
    * mid-distribution shifts both of those can under-read. Asymptotic
    * 5% critical value 0.461 (the ω² limit distribution).
    *
    * Dataflow: the same pooled value-FREQUENCY table as
    * [[adTwoSample]] (value-cardinality, one shuffle) whose running
    * cohort counts are the two ECDFs; one row
    * `(n_a, n_b, t_stat, sig_95)`. */
  def cvmTwoSample(df: DataFrame, inB: Column, metric: Column): DataFrame = {
    val f = TwoSampleRank.pooledFreq(df, inB, metric)
    val cum = f.withColumnRenamed("__la_cum", "__A")
      .withColumnRenamed("__lb_cum", "__B")
    val tot = f.agg(sum("__la").as("__na"), sum("__lb").as("__nb"),
      sum("__l").as("__N"))
    val naD = col("__na").cast("double")
    val nbD = col("__nb").cast("double")
    val nD = col("__N").cast("double")
    val gap = col("__A").cast("double") / naD -
      col("__B").cast("double") / nbD
    val j = cum.crossJoin(broadcast(tot))   // 1-row stat factor
      .agg(first("__na").as("n_a"), first("__nb").as("n_b"),
        first("__N").as("__N2"),
        sum(col("__l").cast("double") * gap * gap).as("__s"))
    val nD2 = col("__N2").cast("double")
    val t = col("n_a").cast("double") * col("n_b").cast("double") /
      (nD2 * nD2) * col("__s")
    j.select(
      col("n_a").cast("bigint").as("n_a"),
      col("n_b").cast("bigint").as("n_b"),
      round(t, 6).as("t_stat"),
      (t > 0.461).as("sig_95"))
  }

  /** DuckDB oracle for the registered fixture: weekday vs weekend
    * `value` cohorts (same cohorts as [[adTwoSampleOracleSql]], so
    * the two tail-weightings are directly comparable). */
  val cvmTwoSampleOracleSql: String =
    """WITH f AS (
      |  SELECT CAST(value AS DOUBLE) AS m,
      |    SUM(CASE WHEN dayofweek(ts) IN (0, 6) THEN 0 ELSE 1 END) AS la,
      |    SUM(CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END) AS lb
      |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
      |  GROUP BY 1),
      |c AS (
      |  SELECT m, la, lb, la + lb AS l,
      |    SUM(la) OVER (ORDER BY m
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a,
      |    SUM(lb) OVER (ORDER BY m
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b
      |  FROM f),
      |tot AS (
      |  SELECT CAST(SUM(la) AS DOUBLE) AS na,
      |    CAST(SUM(lb) AS DOUBLE) AS nb,
      |    CAST(SUM(la + lb) AS DOUBLE) AS nn
      |  FROM f),
      |s AS (
      |  SELECT tot.na, tot.nb, tot.nn,
      |    SUM(c.l * POW(c.a / tot.na - c.b / tot.nb, 2)) AS sq
      |  FROM c, tot GROUP BY 1, 2, 3)
      |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |  ROUND(na * nb / (nn * nn) * sq, 6) AS t_stat,
      |  na * nb / (nn * nn) * sq > 0.461 AS sig_95
      |FROM s""".stripMargin

  /** Kuiper's test of hour-of-day uniformity (Kuiper, Proc. KNAW
    * 1960): V = D⁺ + D⁻ against the uniform CDF over the 24 hour
    * bins. The CIRCULAR analog of Kolmogorov–Smirnov — KS's sup-gap
    * depends on where the cycle is cut (a 23:00–01:00 usage bump
    * halves if midnight splits it); V is rotation-invariant, which is
    * the right property for any time-of-day/day-of-week uniformity
    * question. The comparison is against the DISCRETE 24-point
    * uniform — both D⁺ and D⁻ measure cum/n against the same lattice
    * CDF (h+1)/24, so an exactly flat hour histogram yields V = 0
    * (the naive mixed-edge convention would yield V = 2/24 on flat
    * data and auto-reject for n ≳ 435). Significance by the standard
    * large-n approximation V·(√n + 0.155 + 0.24/√n) > 1.747 at 5%.
    *
    * Scale shape: one grouped count to 24 rows, running counts over
    * those 24, a 1-row total factor. One row
    * `(n, d_plus, d_minus, v_stat, sig_95)`. */
  def kuiperUniformity(events: DataFrame): DataFrame = {
    val h = events.select(hour(col("ts")).as("h"))
      .where(col("h").isNotNull)
      .groupBy("h").agg(count(lit(1)).as("c"))
    val tot = h.agg(sum("c").as("__n"))
    val ecdf = PrefixSum.running(h, "h", Seq("c"), Nil)   // 24 rows: one task
      .crossJoin(broadcast(tot))   // 1-row stat factor
    val nD = col("__n").cast("double")
    val fU = (col("h") + 1).cast("double") / 24.0
    val dPlus = col("c_cum") / nD - fU
    // empty hour bins never reach the grouped table, so each present
    // bin's D⁻ candidate also covers the flat-ECDF run of missing
    // bins before it via its pre-step point h/24 − cumPrev/n (the
    // lattice max over any gap sits at the gap's right edge); on a
    // fully-present flat histogram both candidates are exactly 0
    val dMinus = greatest(fU - col("c_cum") / nD,
      col("h").cast("double") / 24.0 -
        (col("c_cum") - col("c")) / nD)
    val s = ecdf.agg(first("__n").as("n"),
      max(dPlus).as("__dp"), max(dMinus).as("__dm"))
    val v = col("__dp") + col("__dm")
    val crit = v * (sqrt(col("n").cast("double")) + 0.155 +
      lit(0.24) / sqrt(col("n").cast("double")))
    s.select(
      col("n").cast("bigint").as("n"),
      round(col("__dp"), 6).as("d_plus"),
      round(col("__dm"), 6).as("d_minus"),
      round(v, 6).as("v_stat"),
      (crit > 1.747).as("sig_95"))
  }

  /** DuckDB oracle for [[kuiperUniformity]] on events. */
  val kuiperOracleSql: String =
    """WITH h AS (
      |  SELECT hour(ts) AS h, COUNT(*) AS c
      |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
      |tot AS (SELECT SUM(c) AS n FROM h),
      |e AS (
      |  SELECT h, c,
      |    SUM(c) OVER (ORDER BY h
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM h),
      |s AS (
      |  SELECT ANY_VALUE(n) AS n,
      |    MAX(CAST(cum AS DOUBLE) / n - (h + 1) / 24.0) AS dp,
      |    MAX(GREATEST((h + 1) / 24.0 - CAST(cum AS DOUBLE) / n,
      |      h / 24.0 - CAST(cum - c AS DOUBLE) / n)) AS dm
      |  FROM e CROSS JOIN tot)
      |SELECT CAST(n AS BIGINT) AS n,
      |  ROUND(dp, 6) AS d_plus, ROUND(dm, 6) AS d_minus,
      |  ROUND(dp + dm, 6) AS v_stat,
      |  (dp + dm) * (SQRT(CAST(n AS DOUBLE)) + 0.155 +
      |    0.24 / SQRT(CAST(n AS DOUBLE))) > 1.747 AS sig_95
      |FROM s""".stripMargin

  /** Watson's U² circular goodness-of-fit against hour-of-day
    * uniformity (Watson, Biometrika 1961) — the QUADRATIC companion
    * to [[kuiperUniformity]]'s sup-norm: Kuiper reads the one worst
    * gap; U² integrates squared deviation around the whole cycle, so
    * diffuse multi-bump non-uniformity moves it first. Computed by
    * the classical order-statistic formula W² = Σᵢ(uᵢ − (2i−1)/2n)²
    * + 1/12n with the tied observations of hour bin h all at the
    * midpoint uₕ = (h+0.5)/24, each bin's Σᵢ over its rank stair in
    * CLOSED FORM (so the corpus never materializes per-row ranks);
    * U² = W² − n(ū − ½)², the rotation-invariant correction, MINUS
    * the grouped-data term n/(12·24²): binning all mass at the 24
    * midpoints contributes exactly n/6912 of pure discretization
    * mass to the naive U², which would exceed the 0.187 critical
    * value for n ≳ 1300 even under perfectly uniform hours — the
    * subtraction centers U² at its grouped-data expectation so the
    * accept region stays meaningful at corpus n. Asymptotic 5%
    * critical value 0.187.
    *
    * Scale shape: one grouped count to 24 rows, running counts over
    * them, per-bin closed-form stair sums, a 1-row reduction. One row `(n, w2, u2, sig_95)`. */
  def watsonU2(events: DataFrame): DataFrame = {
    val h = events.select(hour(col("ts")).as("h"))
      .where(col("h").isNotNull)
      .groupBy("h").agg(count(lit(1)).as("c"))
    val tot = h.agg(sum("c").as("__n"))
    val nD = col("__n").cast("double")
    val cD = col("c").cast("double")
    val u = (col("h").cast("double") + 0.5) / 24.0
    val b = col("c_cum").cast("double")          // stair end rank
    val a0 = (col("c_cum") - col("c")).cast("double")   // a − 1
    // Σ_{i=a}^{b}(2i−1) and Σ(2i−1)² via triangular/pyramidal sums
    val s1 = b * (b + 1.0) / 2.0 - a0 * (a0 + 1.0) / 2.0
    val s2 = b * (b + 1.0) * (b * 2.0 + 1.0) / 6.0 -
      a0 * (a0 + 1.0) * (a0 * 2.0 + 1.0) / 6.0
    val sumOdd = b * b - a0 * a0
    val sumOddSq = s2 * 4.0 - s1 * 4.0 + cD
    val ecdf = PrefixSum.running(h, "h", Seq("c"), Nil)   // 24 rows: one task
      .crossJoin(broadcast(tot))   // 1-row stat factor
      .select(col("__n"),
        (cD * u * u - u * sumOdd / nD +
          sumOddSq / (nD * nD * 4.0)).as("__term"),
        (cD * u / nD).as("__uw"))
    val s = ecdf.agg(first("__n").as("n"),
      sum("__term").as("__w"), sum("__uw").as("__ubar"))
    val nD2 = col("n").cast("double")
    val w2 = col("__w") + lit(1.0) / (nD2 * 12.0)
    val u2 = w2 - nD2 * (col("__ubar") - 0.5) * (col("__ubar") - 0.5) -
      nD2 / (12.0 * 24.0 * 24.0)
    s.select(
      col("n").cast("bigint").as("n"),
      round(w2, 6).as("w2"),
      round(u2, 6).as("u2"),
      (u2 > 0.187).as("sig_95"))
  }

  /** DuckDB oracle for [[watsonU2]] on events — the same per-bin
    * closed-form stair sums. */
  val watsonOracleSql: String =
    """WITH h AS (
      |  SELECT hour(ts) AS h, COUNT(*) AS c
      |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
      |tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM h),
      |e AS (
      |  SELECT h, c, tot.n,
      |    (h + 0.5) / 24.0 AS u,
      |    CAST(SUM(c) OVER (ORDER BY h
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS DOUBLE) AS b,
      |    CAST(SUM(c) OVER (ORDER BY h
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
      |      AS DOUBLE) AS a0
      |  FROM h CROSS JOIN tot),
      |t AS (
      |  SELECT n, u, c,
      |    b * b - a0 * a0 AS sum_odd,
      |    4.0 * (b * (b + 1.0) * (2.0 * b + 1.0) / 6.0 -
      |           a0 * (a0 + 1.0) * (2.0 * a0 + 1.0) / 6.0) -
      |    4.0 * (b * (b + 1.0) / 2.0 - a0 * (a0 + 1.0) / 2.0) + c
      |      AS sum_odd_sq
      |  FROM e),
      |s AS (
      |  SELECT ANY_VALUE(n) AS n,
      |    SUM(c * u * u - u * sum_odd / n +
      |      sum_odd_sq / (4.0 * n * n)) AS w,
      |    SUM(c * u / n) AS ubar
      |  FROM t),
      |f AS (
      |  SELECT n, w + 1.0 / (12.0 * n) AS w2,
      |    w + 1.0 / (12.0 * n) - n * (ubar - 0.5) * (ubar - 0.5)
      |      - n / (12.0 * 24.0 * 24.0) AS u2
      |  FROM s)
      |SELECT CAST(n AS BIGINT) AS n,
      |  ROUND(w2, 6) AS w2, ROUND(u2, 6) AS u2,
      |  u2 > 0.187 AS sig_95
      |FROM f""".stripMargin

  /** Energy distance between two cohorts' DAILY metric series
    * (Székely & Rizzo, InterStat 2004): e = 2·E|X−Y| − E|X−X'| −
    * E|Y−Y'| over the V-statistic pair averages — zero exactly when
    * the distributions coincide, and consistent against EVERY
    * alternative (KS/CvM/AD read the ECDF gap; energy reads the
    * metric geometry, so it also powers the multivariate case).
    * T = (nm/(n+m))·e is the rescaled test statistic.
    *
    * Scale shape: the corpus collapses to the daily table in one
    * grouped agg; the three pair grids are days² calendar-bounded
    * crosses (the Theil–Sen/H–L precedent). One row
    * `(n_a, n_b, e_stat, t_stat)`. */
  def energyDistance(events: DataFrame, inB: Column): DataFrame = {
    val daily = events
      .select(to_date(col("ts")).as("d"), col("value"), inB.as("__b"))
      .groupBy("d", "__b").agg(sum("value").as("y"))
    val a = daily.where(!col("__b")).select(col("y").as("ya"))
    val b = daily.where(col("__b")).select(col("y").as("yb"))
    val axy = a.crossJoin(b)
      .agg(avg(abs(col("ya") - col("yb"))).as("__axy"),
        count(lit(1)).as("__nm"))
    val axx = a.crossJoin(a.select(col("ya").as("ya2")))
      .agg(avg(abs(col("ya") - col("ya2"))).as("__axx"))
    val ayy = b.crossJoin(b.select(col("yb").as("yb2")))
      .agg(avg(abs(col("yb") - col("yb2"))).as("__ayy"))
    val na = a.agg(count(lit(1)).as("n_a"))
    val nb = b.agg(count(lit(1)).as("n_b"))
    val e = col("__axy") * 2.0 - col("__axx") - col("__ayy")
    axy.crossJoin(broadcast(axx)).crossJoin(broadcast(ayy))
      .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .select(col("n_a"), col("n_b"),
        round(e, 6).as("e_stat"),
        round(col("n_a").cast("double") * col("n_b").cast("double") /
          (col("n_a") + col("n_b")).cast("double") * e, 6)
          .as("t_stat"))
  }

  /** DuckDB oracle for the registered fixture: weekend vs weekday
    * daily revenue (the [[cvmTwoSampleOracleSql]] cohorts at day
    * grain). */
  val energyDistanceOracleSql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS d,
      |    dayofweek(ts) IN (0, 6) AS b, SUM(value) AS y
      |  FROM events GROUP BY 1, 2),
      |a AS (SELECT y AS ya FROM daily WHERE NOT b),
      |bb AS (SELECT y AS yb FROM daily WHERE b),
      |axy AS (SELECT AVG(ABS(ya - yb)) AS v FROM a CROSS JOIN bb),
      |axx AS (SELECT AVG(ABS(i.ya - j.ya)) AS v
      |  FROM a i CROSS JOIN a j),
      |ayy AS (SELECT AVG(ABS(i.yb - j.yb)) AS v
      |  FROM bb i CROSS JOIN bb j),
      |n AS (SELECT (SELECT COUNT(*) FROM a) AS na,
      |  (SELECT COUNT(*) FROM bb) AS nb)
      |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |  ROUND(2.0 * axy.v - axx.v - ayy.v, 6) AS e_stat,
      |  ROUND(CAST(na AS DOUBLE) * nb / (na + nb) *
      |    (2.0 * axy.v - axx.v - ayy.v), 6) AS t_stat
      |FROM axy, axx, ayy, n""".stripMargin

  /** The f-divergence distance panel between two binned cohort
    * histograms: total variation (½Σ|p−q| — the "how much probability
    * mass moved" number, the metric PSI approximates), Bhattacharyya
    * coefficient BC = Σ√(pq) and Hellinger distance √(1−BC) (the
    * bounded-metric pair; Hellinger² ≤ TV ≤ Hellinger·√2 — reporting
    * both shows WHERE in that band the drift sits, mass-moved vs
    * overlap-lost). Complements [[chi2Drift]] (unbounded, sensitive
    * to small-expected cells) and the KL/JS family (q118) with the
    * metric members. Fixed equi-width bins (width 10 over [0, 500),
    * top-clamped) — fixed cutoffs, no computed quantile to diverge
    * between engines.
    *
    * One corpus pass to the ≤50-bin two-cohort histogram, a 1-row
    * totals factor, a scalar reduce. One row `(n_a, n_b, k_bins,
    * tv, bhattacharyya, hellinger)`. */
  def histogramDistances(df: DataFrame, inB: Column,
      metric: Column): DataFrame = {
    val b = df.select(inB.as("__b"), metric.cast("double").as("__m"))
      .where(col("__b").isNotNull && col("__m").isNotNull)
      .groupBy(least(floor(col("__m") / 10.0), lit(49.0)).as("__bin"))
      .agg(sum(when(!col("__b"), 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__b"), 1L).otherwise(0L)).as("__cb"))
    val tot = b.agg(sum("__ca").as("__na"), sum("__cb").as("__nb"))
    val j = b.crossJoin(broadcast(tot))   // 1-row totals factor
    val p = col("__ca").cast("double") / col("__na").cast("double")
    val q = col("__cb").cast("double") / col("__nb").cast("double")
    val s = j.agg(
      first("__na").as("n_a"), first("__nb").as("n_b"),
      count(lit(1)).as("k_bins"),
      (sum(abs(p - q)) / 2.0).as("__tv"),
      sum(sqrt(p * q)).as("__bc"))
    s.select(
      col("n_a").cast("bigint").as("n_a"),
      col("n_b").cast("bigint").as("n_b"),
      col("k_bins").cast("bigint").as("k_bins"),
      round(col("__tv"), 6).as("tv"),
      round(col("__bc"), 6).as("bhattacharyya"),
      round(sqrt(greatest(lit(1.0) - col("__bc"), lit(0.0))), 6)
        .as("hellinger"))
  }

  /** Cressie–Read power-divergence homogeneity test at λ = 2/3
    * (Cressie & Read, JRSS B 1984 — their recommended member, the
    * compromise between Pearson χ² (λ=1, small-cell-noisy) and the
    * G-test (λ→0, sparse-cell-fragile)): CR = 2/(λ(λ+1)) ·
    * ΣΣ O_ij[(O_ij/E_ij)^λ − 1] over the 2×k cohort-by-category
    * table with the usual independence expectations; asymptotically
    * χ²(k−1). A different member of the same family as [[chi2Drift]]
    * — when they disagree, small expected cells are driving the
    * verdict, which is itself worth knowing.
    *
    * One corpus pass to the 2×k table, marginal factors, scalar
    * reduce. One row `(k, n_a, n_b, cr_stat, sig_95)`. Zero observed
    * cells contribute their −E term... exactly: O[(O/E)^λ − 1] = 0
    * for O = 0 (the λ > 0 branch), matching the oracle verbatim. */
  def cressieRead(df: DataFrame, inB: Column, category: Column,
      lambda: Double = 2.0 / 3.0): DataFrame = {
    require(lambda > 0.0, "this form needs lambda > 0")
    val cells = df.select(inB.as("__b"), category.as("__c"))
      .where(col("__b").isNotNull && col("__c").isNotNull)
      .groupBy("__c")
      .agg(sum(when(!col("__b"), 1L).otherwise(0L)).as("__oa"),
        sum(when(col("__b"), 1L).otherwise(0L)).as("__ob"))
    val tot = cells.agg(sum("__oa").as("__na"), sum("__ob").as("__nb"))
    val j = cells.crossJoin(broadcast(tot))   // 1-row margins factor
    val naD = col("__na").cast("double")
    val nbD = col("__nb").cast("double")
    val nD = naD + nbD
    val rowT = (col("__oa") + col("__ob")).cast("double")
    val ea = rowT * naD / nD
    val eb = rowT * nbD / nD
    def term(o: Column, e: Column) = {
      val oD = o.cast("double")
      when(oD > 0.0, oD * (pow(oD / e, lambda) - 1.0)).otherwise(0.0)
    }
    val s = j.agg(
      count(lit(1)).as("k"),
      first("__na").as("n_a"), first("__nb").as("n_b"),
      ((sum(term(col("__oa"), ea) + term(col("__ob"), eb))) *
        (2.0 / (lambda * (lambda + 1.0)))).as("__cr"))
    s.select(
      col("k").cast("bigint").as("k"),
      col("n_a").cast("bigint").as("n_a"),
      col("n_b").cast("bigint").as("n_b"),
      round(col("__cr"), 6).as("cr_stat"),
      (col("__cr") > Homogeneity.chi2Crit95(col("k") - 1))
        .as("sig_95"))
  }

  /** DuckDB oracle for the q424 registration: weekday/weekend
    * event_type mix, λ = 2/3. */
  val cressieReadOracleSql: String =
    """WITH cells AS (
      |  SELECT event_type AS c,
      |    SUM(CASE WHEN dayofweek(ts) IN (0, 6) THEN 0 ELSE 1 END)
      |      AS oa,
      |    SUM(CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END)
      |      AS ob
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |  GROUP BY 1),
      |tot AS (
      |  SELECT CAST(SUM(oa) AS DOUBLE) AS na,
      |    CAST(SUM(ob) AS DOUBLE) AS nb
      |  FROM cells),
      |t AS (
      |  SELECT COUNT(*) AS k, ANY_VALUE(na) AS na,
      |    ANY_VALUE(nb) AS nb,
      |    (2.0 / ((2.0 / 3.0) * (2.0 / 3.0 + 1.0))) * SUM(
      |      (CASE WHEN oa > 0 THEN oa *
      |        (POW(oa / ((oa + ob) * na / (na + nb)), 2.0 / 3.0)
      |          - 1.0) ELSE 0.0 END) +
      |      (CASE WHEN ob > 0 THEN ob *
      |        (POW(ob / ((oa + ob) * nb / (na + nb)), 2.0 / 3.0)
      |          - 1.0) ELSE 0.0 END)) AS cr
      |  FROM cells CROSS JOIN tot)
      |SELECT CAST(k AS BIGINT) AS k, CAST(na AS BIGINT) AS n_a,
      |  CAST(nb AS BIGINT) AS n_b,
      |  ROUND(cr, 6) AS cr_stat,
      |  cr > (CASE CAST(k - 1 AS INT)
      |    WHEN 1 THEN 3.841459 WHEN 2 THEN 5.991465
      |    WHEN 3 THEN 7.814728 WHEN 4 THEN 9.487729
      |    WHEN 5 THEN 11.070498 WHEN 6 THEN 12.591587
      |    WHEN 7 THEN 14.067140 WHEN 8 THEN 15.507313
      |    WHEN 9 THEN 16.918978 WHEN 10 THEN 18.307038
      |    ELSE (k - 1) * POW(1.0 - 2.0 / (9.0 * (k - 1)) +
      |      1.6448536269514722 * SQRT(2.0 / (9.0 * (k - 1))), 3)
      |    END) AS sig_95
      |FROM t""".stripMargin

  /** Poisson rate-ratio test between two cohorts' event arrivals
    * (the conditional/binomial exact-test frame, Lehmann TSH §4.5,
    * in its normal approximation): given the combined count
    * N = n_a + n_b, under equal RATES n_a ~ Bin(N, d_a/(d_a+d_b))
    * with d = the cohort's exposure in days — so differing cohort
    * sizes are handled by design, not by assumption. The question a
    * weekday/weekend error-rate comparison actually asks ("is the
    * per-day incident rate different?"), which the proportion tests
    * (per-event shares) do not.
    *
    * One corpus pass to (count, distinct-day) per cohort, scalar
    * combine. One row `(n_a, n_b, days_a, days_b, rate_a, rate_b,
    * rate_ratio, z, sig_95)`. */
  def poissonRateRatio(df: DataFrame, inB: Column): DataFrame = {
    val s = df.select(inB.as("__b"), to_date(col("ts")).as("__d"))
      .where(col("__b").isNotNull)
      .agg(
        sum(when(!col("__b"), 1L).otherwise(0L)).as("__na"),
        sum(when(col("__b"), 1L).otherwise(0L)).as("__nb"),
        countDistinct(when(!col("__b"), col("__d"))).as("__da"),
        countDistinct(when(col("__b"), col("__d"))).as("__db"))
    val naD = col("__na").cast("double")
    val nbD = col("__nb").cast("double")
    val daD = col("__da").cast("double")
    val dbD = col("__db").cast("double")
    val nD = naD + nbD
    val p0 = daD / (daD + dbD)
    val z = when(nD > 0.0 && p0 > 0.0 && p0 < 1.0,
      (naD - nD * p0) / sqrt(nD * p0 * (lit(1.0) - p0)))
    val ra = when(daD > 0.0, naD / daD)
    val rb = when(dbD > 0.0, nbD / dbD)
    s.select(
      col("__na").cast("bigint").as("n_a"),
      col("__nb").cast("bigint").as("n_b"),
      col("__da").cast("bigint").as("days_a"),
      col("__db").cast("bigint").as("days_b"),
      round(ra, 6).as("rate_a"),
      round(rb, 6).as("rate_b"),
      round(when(rb > 0.0, ra / rb), 6).as("rate_ratio"),
      round(z, 6).as("z"),
      coalesce(abs(z) > 1.959964, lit(false)).as("sig_95"))
  }

  /** DuckDB oracle for the q425 registration: weekday vs weekend
    * ERROR-event arrival rates per day of exposure. */
  val poissonRateOracleSql: String =
    """WITH base AS (
      |  SELECT dayofweek(ts) IN (0, 6) AS b, CAST(ts AS DATE) AS d
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type = 'error'),
      |s AS (
      |  SELECT
      |    SUM(CASE WHEN b THEN 0 ELSE 1 END) AS na,
      |    SUM(CASE WHEN b THEN 1 ELSE 0 END) AS nb,
      |    COUNT(DISTINCT CASE WHEN NOT b THEN d END) AS da,
      |    COUNT(DISTINCT CASE WHEN b THEN d END) AS db
      |  FROM base),
      |g AS (
      |  SELECT CAST(na AS DOUBLE) AS na, CAST(nb AS DOUBLE) AS nb,
      |    CAST(da AS DOUBLE) AS da, CAST(db AS DOUBLE) AS db,
      |    CAST(da AS DOUBLE) / (da + db) AS p0
      |  FROM s),
      |z AS (
      |  SELECT *, CASE WHEN na + nb > 0 AND p0 > 0 AND p0 < 1 THEN
      |    (na - (na + nb) * p0) /
      |      SQRT((na + nb) * p0 * (1.0 - p0)) END AS zv
      |  FROM g)
      |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |  CAST(da AS BIGINT) AS days_a, CAST(db AS BIGINT) AS days_b,
      |  ROUND(CASE WHEN da > 0 THEN na / da END, 6) AS rate_a,
      |  ROUND(CASE WHEN db > 0 THEN nb / db END, 6) AS rate_b,
      |  ROUND(CASE WHEN db > 0 AND nb > 0 AND da > 0
      |    THEN (na / da) / (nb / db) END, 6) AS rate_ratio,
      |  ROUND(zv, 6) AS z,
      |  COALESCE(ABS(zv) > 1.959964, FALSE) AS sig_95
      |FROM z""".stripMargin

  /** DuckDB oracle for the q420 registration: weekday/weekend value
    * cohorts (the q295/q378/q405 fixture). */
  val histDistancesOracleSql: String =
    """WITH base AS (
      |  SELECT CAST(value AS DOUBLE) AS m,
      |    dayofweek(ts) IN (0, 6) AS b
      |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
      |h AS (
      |  SELECT LEAST(FLOOR(m / 10.0), 49.0) AS bin,
      |    SUM(CASE WHEN b THEN 0 ELSE 1 END) AS ca,
      |    SUM(CASE WHEN b THEN 1 ELSE 0 END) AS cb
      |  FROM base GROUP BY 1),
      |tot AS (
      |  SELECT CAST(SUM(ca) AS DOUBLE) AS na,
      |    CAST(SUM(cb) AS DOUBLE) AS nb
      |  FROM h),
      |s AS (
      |  SELECT ANY_VALUE(na) AS na, ANY_VALUE(nb) AS nb,
      |    COUNT(*) AS k,
      |    SUM(ABS(ca / na - cb / nb)) / 2.0 AS tv,
      |    SUM(SQRT((ca / na) * (cb / nb))) AS bc
      |  FROM h CROSS JOIN tot)
      |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |  CAST(k AS BIGINT) AS k_bins,
      |  ROUND(tv, 6) AS tv,
      |  ROUND(bc, 6) AS bhattacharyya,
      |  ROUND(SQRT(GREATEST(1.0 - bc, 0.0)), 6) AS hellinger
      |FROM s""".stripMargin
}
