package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.util.PrefixSum

/** Rank-based two-sample tests beyond location: the LOCATION-SCALE
  * and pure-SCALE members of the two-sample shelf. Mann-Whitney
  * (q34) reads a location shift, Ansari-Bradley-style scale tests
  * read a spread change, and a drifted upstream usually moves BOTH —
  * the Cucconi and Lepage statistics test the joint hypothesis in
  * one number, so a cohort whose mean crept up while its variance
  * collapsed (a classic saturating-metric failure) still rejects.
  *
  * All three tests share one dataflow: the pooled value-FREQUENCY
  * table (one shuffle at value-cardinality, the mannWhitneyU
  * recipe), cumulative midranks from [[PrefixSum]] over the
  * frequency rows, and EXACT finite-sampling moments — drawing
  * n_b of N fixed scores without replacement gives
  * E[T] = n_b·s̄ and Var[T] = n_b·(N−n_b)/(N−1)·σ²_s for ANY score
  * vector s (Lehmann, Nonparametrics 1975, App. A.3), which is the
  * tie-exact form of every textbook "tie-corrected variance" at
  * once. Scores never leave the frequency table, so the corpus is
  * touched once and everything after is value-cardinality.
  */
object TwoSampleRank {

  /** The pooled two-sample value-FREQUENCY table every rank and ECDF
    * two-sample test starts from: one row per distinct non-null metric
    * value `__m` with the cohort counts `__la` (inB false), `__lb`
    * (inB true) and `__l` (both), plus their inclusive running sums in
    * value order `__la_cum`, `__lb_cum`, `__l_cum` ([[PrefixSum]]).
    * Rows with a null cohort flag or metric drop. */
  private[operators] def pooledFreq(df: DataFrame, inB: Column,
      metric: Column): DataFrame =
    PrefixSum.running(
      df.select(inB.as("__b"), metric.cast("double").as("__m"))
        .where(col("__b").isNotNull && col("__m").isNotNull)
        .groupBy("__m")
        .agg(sum(when(!col("__b"), 1L).otherwise(0L)).as("__la"),
          sum(when(col("__b"), 1L).otherwise(0L)).as("__lb"))
        .withColumn("__l", col("__la") + col("__lb")),
      "__m", Seq("__la", "__lb", "__l"))

  /** [[pooledFreq]] plus the pooled midrank `__r` (= cum − (l−1)/2 —
    * the average of the l tied rank positions). */
  private def freqWithMidranks(df: DataFrame, inB: Column,
      metric: Column): DataFrame =
    pooledFreq(df, inB, metric).withColumn("__r",
      col("__l_cum").cast("double") - (col("__l").cast("double") - 1.0) / 2.0)

  /** Exact finite-sampling moments of T = Σ_B s over a frequency
    * table carrying per-value score `s` and counts: returns the
    * aggregated 1-row frame (n_a, n_b, t, e_t, var_t). */
  private def scoreMoments(freq: DataFrame, score: Column): DataFrame = {
    val s = freq.withColumn("__s", score)
      .agg(
        sum("__la").as("__na"), sum("__lb").as("__nb"),
        sum(col("__lb").cast("double") * col("__s")).as("__t"),
        sum(col("__l").cast("double") * col("__s")).as("__ssum"),
        sum(col("__l").cast("double") * col("__s") * col("__s"))
          .as("__ssq"))
    val nD = (col("__na") + col("__nb")).cast("double")
    val nbD = col("__nb").cast("double")
    val naD = col("__na").cast("double")
    val mean = col("__ssum") / nD
    val varS = col("__ssq") / nD - mean * mean
    s.select(col("__na"), col("__nb"), col("__t"),
      (nbD * mean).as("__et"),
      (nbD * naD / (nD - 1.0) * varS).as("__vt"))
  }

  /** Cucconi location-scale test (Cucconi, Giorn. Econom. 1968;
    * Marozzi, J. Nonparametr. Stat. 2009) between cohorts A/B:
    * U standardizes the sum of SQUARED ranks of B, V the sum of
    * squared CONTRA-ranks (N+1−R)², and
    * C = (U² + V² − 2ρUV)/(2(1−ρ²)) with the known null correlation
    * ρ = 2(N²−4)/((2N+1)(8N+11)) − 1. Under H₀, C is asymptotically
    * standard exponential, so the 5% critical value is −ln(0.05).
    * Ties use midranks (standard practice; the U/V moments below are
    * the classical no-tie forms, which the midrank plug-in
    * approximates — documented, and shared verbatim by the oracle).
    *
    * One row `(n_a, n_b, u, v, c_stat, sig_95)`. */
  def cucconi(df: DataFrame, inB: Column, metric: Column): DataFrame = {
    val freq = freqWithMidranks(df, inB, metric)
    val naD = col("__na").cast("double")
    val nbD = col("__nb").cast("double")
    val nD = naD + nbD
    // contra-rank sum from the same aggregate: Σ(N+1−r)² =
    // n_b(N+1)² − 2(N+1)ΣR + ΣR², with ΣR over B carried explicitly
    // (= n_b(N+1)/2 only without ties)
    val s2 = freq.agg(
      sum("__la").as("__na"), sum("__lb").as("__nb"),
      sum(col("__lb").cast("double") * col("__r")).as("__sr"),
      sum(col("__lb").cast("double") * col("__r") * col("__r"))
        .as("__s2"))
    val den = sqrt(naD * nbD * (nD + 1.0) * (nD * 2.0 + 1.0) *
      (nD * 8.0 + 11.0) / 5.0)
    val u = (col("__s2") * 6.0 - nbD * (nD + 1.0) * (nD * 2.0 + 1.0)) /
      den
    val s2c = nbD * (nD + 1.0) * (nD + 1.0) -
      col("__sr") * (nD + 1.0) * 2.0 + col("__s2")
    val v = (s2c * 6.0 - nbD * (nD + 1.0) * (nD * 2.0 + 1.0)) / den
    val rho = (nD * nD - 4.0) * 2.0 /
      ((nD * 2.0 + 1.0) * (nD * 8.0 + 11.0)) - 1.0
    val c = (u * u + v * v - u * v * rho * 2.0) /
      ((lit(1.0) - rho * rho) * 2.0)
    s2.select(
      col("__na").cast("bigint").as("n_a"),
      col("__nb").cast("bigint").as("n_b"),
      round(u, 6).as("u"),
      round(v, 6).as("v"),
      round(c, 6).as("c_stat"),
      (c > 2.995732).as("sig_95"))
  }

  /** Lepage location-scale test (Lepage, Biometrika 1971): the sum
    * of the squared standardized Wilcoxon statistic (location) and
    * squared standardized Ansari-Bradley statistic (scale),
    * L ~ χ²(2) under H₀ (5% critical 5.991465). Both components use
    * the EXACT finite-sampling moments over the realized (tied)
    * score vectors — the hypergeometric-draw form that reduces to
    * every textbook tie correction — so ties cost nothing.
    * Ansari-Bradley scores are min(r, N+1−r) on midranks.
    *
    * One row `(n_a, n_b, z_w, z_a, l_stat, sig_95)`. */
  def lepage(df: DataFrame, inB: Column, metric: Column): DataFrame = {
    val freq = freqWithMidranks(df, inB, metric)
    val nTot = freq.agg((sum("__la") + sum("__lb")).cast("double")
      .as("__n"))
    // the two moment branches share the frequency table's shuffle
    // (identical subtrees → ReusedExchange); only the tiny window +
    // agg tails run per branch
    val fN = freq.crossJoin(broadcast(nTot))   // 1-row stat factor
    val z = (m: DataFrame) => m.select(col("__na"), col("__nb"),
      ((col("__t") - col("__et")) / sqrt(col("__vt"))).as("__z"))
    val w = z(scoreMoments(fN, col("__r")))
    val a = z(scoreMoments(fN,
      least(col("__r"), col("__n") + 1.0 - col("__r"))))
      .select(col("__z").as("__za"))
    w.crossJoin(a)
      .select(
        col("__na").cast("bigint").as("n_a"),
        col("__nb").cast("bigint").as("n_b"),
        round(col("__z"), 6).as("z_w"),
        round(col("__za"), 6).as("z_a"),
        round(col("__z") * col("__z") + col("__za") * col("__za"), 6)
          .as("l_stat"),
        (col("__z") * col("__z") + col("__za") * col("__za") >
          5.991465).as("sig_95"))
  }

  /** Conover squared-ranks scale test (Conover & Iman 1978; Conover,
    * Practical Nonparametric Statistics §5.3): rank the pooled
    * ABSOLUTE DEVIATIONS |x − x̄_cohort| (each cohort centered on its
    * own mean so a location shift cannot masquerade as scale), score
    * each observation by its squared midrank, and standardize Σ_B
    * with the exact finite-sampling moments. |z| > 1.959964 rejects
    * equal spread at 5%.
    *
    * Two passes: one tiny agg for the two cohort means (broadcast
    * 1-row factor), then the pooled-frequency recipe on the
    * deviations. One row `(n_a, n_b, t_ratio, z, sig_95)` — the raw
    * squared-rank sum T is O(N³) (~1e19 at bench scale, beyond the
    * 6-decimal canonical grid's double ulp), so it is reported as
    * the O(1) ratio T/E[T] (1 = exactly the null expectation). */
  def conoverSquaredRanks(df: DataFrame, inB: Column,
      metric: Column): DataFrame = {
    val base = df.select(inB.as("__b"), metric.cast("double").as("__m"))
      .where(col("__b").isNotNull && col("__m").isNotNull)
    val means = base.groupBy("__b")
      .agg(avg("__m").as("__mu"))
      .groupBy()
      .agg(
        max(when(!col("__b"), col("__mu"))).as("__mua"),
        max(when(col("__b"), col("__mu"))).as("__mub"))
    val dev = base.crossJoin(broadcast(means))   // 1-row stat factor
      .select(col("__b"),
        abs(col("__m") -
          when(col("__b"), col("__mub")).otherwise(col("__mua")))
          .as("__m"))
    val freq = freqWithMidranks(dev, col("__b"), col("__m"))
    val mom = scoreMoments(freq, col("__r") * col("__r"))
    val z = (col("__t") - col("__et")) / sqrt(col("__vt"))
    mom.select(
      col("__na").cast("bigint").as("n_a"),
      col("__nb").cast("bigint").as("n_b"),
      round(col("__t") / col("__et"), 6).as("t_ratio"),
      round(z, 6).as("z"),
      (abs(z) > 1.959964).as("sig_95"))
  }

  private val cohortCte =
    """WITH base AS (
      |  SELECT CAST(value AS DOUBLE) AS m,
      |    dayofweek(ts) IN (0, 6) AS b
      |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
      |f AS (
      |  SELECT m,
      |    SUM(CASE WHEN b THEN 0 ELSE 1 END) AS la,
      |    SUM(CASE WHEN b THEN 1 ELSE 0 END) AS lb
      |  FROM base GROUP BY 1),
      |c AS (
      |  SELECT m, la, lb, la + lb AS l,
      |    CAST(SUM(la + lb) OVER (ORDER BY m
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS DOUBLE) - (la + lb - 1) / 2.0 AS r
      |  FROM f)""".stripMargin

  /** DuckDB oracle for [[cucconi]] on the weekday/weekend value
    * cohorts (the q295/q378 fixture). */
  val cucconiOracleSql: String =
    s"""$cohortCte,
      |s AS (
      |  SELECT CAST(SUM(la) AS DOUBLE) AS na,
      |    CAST(SUM(lb) AS DOUBLE) AS nb,
      |    SUM(lb * r) AS sr, SUM(lb * r * r) AS s2
      |  FROM c),
      |t AS (
      |  SELECT na, nb, na + nb AS n, sr, s2,
      |    SQRT(na * nb * (na + nb + 1.0) * (2.0 * (na + nb) + 1.0) *
      |      (8.0 * (na + nb) + 11.0) / 5.0) AS den
      |  FROM s),
      |uv AS (
      |  SELECT na, nb,
      |    (6.0 * s2 - nb * (n + 1.0) * (2.0 * n + 1.0)) / den AS u,
      |    (6.0 * (nb * (n + 1.0) * (n + 1.0) - 2.0 * (n + 1.0) * sr
      |      + s2) - nb * (n + 1.0) * (2.0 * n + 1.0)) / den AS v,
      |    2.0 * (n * n - 4.0) /
      |      ((2.0 * n + 1.0) * (8.0 * n + 11.0)) - 1.0 AS rho
      |  FROM t)
      |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |  ROUND(u, 6) AS u, ROUND(v, 6) AS v,
      |  ROUND((u * u + v * v - 2.0 * rho * u * v) /
      |    (2.0 * (1.0 - rho * rho)), 6) AS c_stat,
      |  (u * u + v * v - 2.0 * rho * u * v) /
      |    (2.0 * (1.0 - rho * rho)) > 2.995732 AS sig_95
      |FROM uv""".stripMargin

  /** DuckDB oracle for [[lepage]] on the same cohorts. */
  val lepageOracleSql: String =
    s"""$cohortCte,
      |nn AS (SELECT CAST(SUM(la + lb) AS DOUBLE) AS n FROM f),
      |sc AS (
      |  SELECT c.la, c.lb, c.l, c.r,
      |    LEAST(c.r, nn.n + 1.0 - c.r) AS s, nn.n
      |  FROM c CROSS JOIN nn),
      |mom AS (
      |  SELECT CAST(SUM(la) AS DOUBLE) AS na,
      |    CAST(SUM(lb) AS DOUBLE) AS nb,
      |    SUM(lb * r) AS tw, SUM(l * r) / ANY_VALUE(n) AS mw,
      |    SUM(l * r * r) / ANY_VALUE(n) AS qw,
      |    SUM(lb * s) AS ta, SUM(l * s) / ANY_VALUE(n) AS ma,
      |    SUM(l * s * s) / ANY_VALUE(n) AS qa,
      |    ANY_VALUE(n) AS n
      |  FROM sc),
      |z AS (
      |  SELECT na, nb,
      |    (tw - nb * mw) /
      |      SQRT(nb * na / (n - 1.0) * (qw - mw * mw)) AS zw,
      |    (ta - nb * ma) /
      |      SQRT(nb * na / (n - 1.0) * (qa - ma * ma)) AS za
      |  FROM mom)
      |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |  ROUND(zw, 6) AS z_w, ROUND(za, 6) AS z_a,
      |  ROUND(zw * zw + za * za, 6) AS l_stat,
      |  zw * zw + za * za > 5.991465 AS sig_95
      |FROM z""".stripMargin

  /** DuckDB oracle for [[conoverSquaredRanks]] on the same cohorts. */
  val conoverOracleSql: String =
    """WITH base AS (
      |  SELECT CAST(value AS DOUBLE) AS m,
      |    dayofweek(ts) IN (0, 6) AS b
      |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
      |mu AS (
      |  SELECT
      |    AVG(CASE WHEN NOT b THEN m END) AS mua,
      |    AVG(CASE WHEN b THEN m END) AS mub
      |  FROM base),
      |dev AS (
      |  SELECT b, ABS(m - CASE WHEN b THEN mub ELSE mua END) AS m
      |  FROM base CROSS JOIN mu),
      |f AS (
      |  SELECT m,
      |    SUM(CASE WHEN b THEN 0 ELSE 1 END) AS la,
      |    SUM(CASE WHEN b THEN 1 ELSE 0 END) AS lb
      |  FROM dev GROUP BY 1),
      |c AS (
      |  SELECT m, la, lb, la + lb AS l,
      |    CAST(SUM(la + lb) OVER (ORDER BY m
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS DOUBLE) - (la + lb - 1) / 2.0 AS r
      |  FROM f),
      |mom AS (
      |  SELECT CAST(SUM(la) AS DOUBLE) AS na,
      |    CAST(SUM(lb) AS DOUBLE) AS nb,
      |    SUM(lb * r * r) AS t,
      |    SUM(l * r * r) / SUM(l) AS ms,
      |    SUM(l * r * r * r * r) / SUM(l) AS qs,
      |    CAST(SUM(l) AS DOUBLE) AS n
      |  FROM c),
      |z AS (
      |  SELECT na, nb, t, ms,
      |    (t - nb * ms) /
      |      SQRT(nb * na / (n - 1.0) * (qs - ms * ms)) AS z
      |  FROM mom)
      |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |  ROUND(t / (nb * ms), 6) AS t_ratio, ROUND(z, 6) AS z,
      |  ABS(z) > 1.959964 AS sig_95
      |FROM z""".stripMargin

  /** Baumgartner–Weiß–Schindler two-sample test (Baumgartner, Weiß &
    * Schindler, Biometrics 54, 1998): the rank analogue of
    * Anderson–Darling — each ordered observation's squared rank
    * discrepancy is weighted by the inverse of its null variance, so
    * the TAILS carry full weight where KS/CvM-style statistics go
    * blind. For the sample of size n against the other of size m,
    * with R_(i) the i-th ordered combined rank:
    *   B_X = (1/n) Σ_i (R_(i) − ((m+n)/n)·i)² /
    *           [ (i/(n+1))(1 − i/(n+1)) · m(m+n)/n ]
    * B = (B_X + B_Y)/2; the asymptotic null is the published B*
    * distribution with 5% point 2.493 (their Table 1 / eq. 2.6).
    * Continuity is assumed; ties resolve by the shared
    * (metric, cohort, key) order so both engines rank identically —
    * a documented arbitrary-but-deterministic convention, fair
    * because tied swaps perturb B by O(1/n).
    *
    * One row `(n_a, n_b, b_a, b_b, b_stat, sig_95)`. Scale shape:
    * two ordered rank windows over the corpus (global sort — the
    * q295/q378 pattern), then one map + one reduction; the count
    * pair is a 1-row broadcast factor. */
  def bws(df: DataFrame, inB: Column, metric: Column,
      key: Column): DataFrame = {
    val base = df.select(inB.as("__b"),
        metric.cast("double").as("__x"), key.as("__k"))
      .where(col("__b").isNotNull && col("__x").isNotNull)
    val ranked = base
      // kept: at sf0.1 (150k near-distinct prices, q433, 4 vCPU)
      // pooledFreq's running counts joined back per row read 0.70-1.19 s
      // against 0.57-0.76 s for this one-task sort
      .withColumn("__rk", row_number()
        .over(Window.orderBy(col("__x"), col("__b"), col("__k")))
        .cast("double"))
      .withColumn("__i", row_number()
        .over(Window.partitionBy("__b")
          .orderBy(col("__x"), col("__k")))
        .cast("double"))
    val counts = ranked.agg(
      sum(when(!col("__b"), 1L).otherwise(0L)).as("__na"),
      sum(when(col("__b"), 1L).otherwise(0L)).as("__nb"))
    val wn = ranked.crossJoin(broadcast(counts))   // 1-row factor
    val naD = col("__na").cast("double")
    val nbD = col("__nb").cast("double")
    val nOwn = when(col("__b"), nbD).otherwise(naD)
    val mOth = when(col("__b"), naD).otherwise(nbD)
    val nTot = naD + nbD
    val d = col("__rk") - nTot / nOwn * col("__i")
    val f = col("__i") / (nOwn + 1.0)
    val v = d * d / (f * (lit(1.0) - f) * mOth * nTot / nOwn)
    val agg = wn.agg(
      first("__na").as("__na"), first("__nb").as("__nb"),
      avg(when(!col("__b"), v)).as("__ba"),
      avg(when(col("__b"), v)).as("__bb"))
    val b = (col("__ba") + col("__bb")) / 2.0
    agg.select(
      col("__na").cast("bigint").as("n_a"),
      col("__nb").cast("bigint").as("n_b"),
      round(col("__ba"), 6).as("b_a"),
      round(col("__bb"), 6).as("b_b"),
      round(b, 6).as("b_stat"),
      coalesce(b > 2.493, lit(false)).as("sig_95"))
  }

  /** DuckDB oracle for the q433 registration: orders totalprice,
    * urgent (1-URGENT / 2-HIGH) vs the rest, o_orderkey tie-break. */
  val bwsOracleSql: String =
    """WITH base AS (
      |  SELECT (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS b,
      |    CAST(o_totalprice AS DOUBLE) AS x, o_orderkey AS k
      |  FROM orders
      |  WHERE o_orderpriority IS NOT NULL
      |    AND o_totalprice IS NOT NULL),
      |rk AS (
      |  SELECT b,
      |    CAST(ROW_NUMBER() OVER (ORDER BY x, b, k) AS DOUBLE) AS r,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY b ORDER BY x, k)
      |      AS DOUBLE) AS i
      |  FROM base),
      |cnt AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN b THEN 0 ELSE 1 END) AS DOUBLE) AS na,
      |    CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS DOUBLE) AS nb
      |  FROM rk),
      |term AS (
      |  SELECT b,
      |    r - (na + nb) / (CASE WHEN b THEN nb ELSE na END) * i AS d,
      |    i / ((CASE WHEN b THEN nb ELSE na END) + 1.0) AS f,
      |    CASE WHEN b THEN na ELSE nb END AS m,
      |    na + nb AS nt,
      |    CASE WHEN b THEN nb ELSE na END AS nown
      |  FROM rk CROSS JOIN cnt),
      |tv AS (
      |  SELECT b,
      |    d * d / (f * (1.0 - f) * m * nt / nown) AS v
      |  FROM term),
      |agg AS (
      |  SELECT (SELECT na FROM cnt) AS na,
      |    (SELECT nb FROM cnt) AS nb,
      |    AVG(CASE WHEN b THEN NULL ELSE v END) AS ba,
      |    AVG(CASE WHEN b THEN v END) AS bb
      |  FROM tv)
      |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |  ROUND(ba, 6) AS b_a, ROUND(bb, 6) AS b_b,
      |  ROUND((ba + bb) / 2.0, 6) AS b_stat,
      |  COALESCE((ba + bb) / 2.0 > 2.493, FALSE) AS sig_95
      |FROM agg""".stripMargin
}
