package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Two-sample experiment readout — Welch's unequal-variance t-test
  * (Welch, Biometrika 1947) on a per-unit metric between two variant
  * groups: the A/B answer sheet ("is the observed lift real") with the
  * variance-pooling mistake Student's t makes under unequal group
  * variances designed out. Degrees of freedom via Welch–Satterthwaite;
  * significance is reported against fixed two-sided z thresholds
  * (1.96/2.576) — at experiment-scale df the t quantiles are
  * indistinguishable from normal, and this keeps the output closed-
  * form in both engines (no incomplete-beta CDF).
  *
  * Scale shape: per-unit metrics from one grouped agg, then ONE
  * two-group conditional-sum pass; output is a single row. The
  * per-unit frame is unit-cardinality, never event-cardinality. */
object Experiment {

  /** `(n_a, n_b, mean_a, mean_b, lift, t_stat, df, sig_95, sig_99)`
    * for `metric` between `variant` = false (A) and true (B) rows.
    * Sample variances (n − 1); groups need ≥ 2 units each. */
  def welchTTest(units: DataFrame, variant: Column,
      metric: Column): DataFrame = {
    val g = units.select(variant.as("__b"), metric.cast("double").as("__m"))
      .where(col("__b").isNotNull && col("__m").isNotNull)
      .groupBy()
      .agg(
        sum(when(!col("__b"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__b"), 1L).otherwise(0L)).as("n_b"),
        avg(when(!col("__b"), col("__m"))).as("__ma"),
        avg(when(col("__b"), col("__m"))).as("__mb"),
        var_samp(when(!col("__b"), col("__m"))).as("__va"),
        var_samp(when(col("__b"), col("__m"))).as("__vb"))
    val sa = col("__va") / col("n_a")
    val sb = col("__vb") / col("n_b")
    val t = (col("__mb") - col("__ma")) / sqrt(sa + sb)
    val df = pow(sa + sb, 2) /
      (pow(sa, 2) / (col("n_a") - 1) + pow(sb, 2) / (col("n_b") - 1))
    g.select(
      col("n_a"), col("n_b"),
      round(col("__ma"), 6).as("mean_a"),
      round(col("__mb"), 6).as("mean_b"),
      round(col("__mb") - col("__ma"), 6).as("lift"),
      round(t, 6).as("t_stat"),
      round(df, 6).as("df"),
      (abs(t) > 1.96).as("sig_95"),
      (abs(t) > 2.576).as("sig_99"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) between the two variant
    * groups — the DISTRIBUTION-FREE complement to [[welchTTest]]:
    * Welch asks "did the mean move" and is entitled to heavy-tail
    * trouble; U asks "does one group stochastically dominate" and
    * ignores every outlier beyond its rank. Normal approximation with
    * the standard tie correction (Mann & Whitney 1947; σ²_U =
    * n_a·n_b/12·[(n+1) − Σ(t³−t)/(n(n−1))]).
    *
    * Scale shape: ranks come from the pooled VALUE-FREQUENCY table
    * (the [[graft.quality.Correlation]] trick) — one groupBy(value)
    * with per-variant counts, one [[graft.util.PrefixSum]] over that
    * value-cardinality frame, one closing agg. No row-level rank
    * window. */
  def mannWhitneyU(units: DataFrame, variant: Column,
      metric: Column): DataFrame = {
    val ranked = TwoSampleRank.pooledFreq(units, variant, metric)
      .withColumn("__rank", col("__l_cum") - (col("__l") - 1.0) / 2.0)
    val g = ranked.agg(
      sum("__la").as("n_a"),
      sum("__lb").as("n_b"),
      sum(col("__rank") * col("__la")).as("__ra"),
      // t as DOUBLE before cubing: a long t³ overflows ANSI arithmetic
      // on corpus-scale tie runs
      sum(col("__l").cast("double") * col("__l") * col("__l") -
        col("__l")).as("__ties"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val n = na + nb
    val ua = col("__ra") - na * (na + 1.0) / 2.0
    val muU = na * nb / 2.0
    val sigU = sqrt(na * nb / 12.0 *
      ((n + 1.0) - col("__ties") / (n * (n - 1.0))))
    // fully-tied data degenerates σ_U to 0 (the tie correction eats
    // the whole variance): no evidence either way → z = 0, not NaN
    val z = when(sigU > 0.0, (ua - muU) / sigU).otherwise(lit(0.0))
    g.select(
      col("n_a"), col("n_b"),
      round(ua, 6).as("u_a"),
      round(z, 6).as("z"),
      (abs(z) > 1.96).as("sig_95"),
      (abs(z) > 2.576).as("sig_99"))
  }

  /** Cliff's delta effect size (Cliff, Psych. Bull. 1993) — the
    * number the [[mannWhitneyU]] p-value lacks: δ = P(X_b > X_a) −
    * P(X_a > X_b) = 2U_a/(n_a·n_b) − 1 (ties counting half in U, so
    * they cancel), read against Romano et al. (2006) bands. A z of 8
    * on a billion rows can mean δ = 0.01 — significant and useless;
    * this is the column that says so. One row:
    * `(n_a, n_b, u_a, z, cliffs_delta, magnitude)`.
    *
    * Same dataflow as [[mannWhitneyU]] (value-histogram ranks). */
  def cliffsDelta(units: DataFrame, variant: Column,
      metric: Column): DataFrame = {
    val base = mannWhitneyU(units, variant, metric)
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    // U_a counts (a over b) pairs: the TREATMENT-centric delta is
    // (U_b − U_a)/(n_a·n_b) = 1 − 2U_a/(n_a·n_b)
    val d = round(lit(1.0) - col("u_a") * 2.0 / (na * nb), 6)
    base.select(col("n_a"), col("n_b"), col("u_a"), col("z"),
      d.as("cliffs_delta"),
      when(abs(d) < 0.147, "negligible")
        .when(abs(d) < 0.33, "small")
        .when(abs(d) < 0.474, "medium")
        .otherwise("large").as("magnitude"))
  }

  /** DuckDB oracle for [[cliffsDelta]]: wraps the MWU oracle (a def —
    * `mannWhitneyOracleSql` is declared later in this object). */
  def cliffsDeltaOracleSql: String =
    s"""WITH mwu AS ($mannWhitneyOracleSql)
       |SELECT n_a, n_b, u_a, z,
       |  ROUND(1.0 - u_a * 2.0 / (CAST(n_a AS DOUBLE) * n_b), 6)
       |    AS cliffs_delta,
       |  CASE
       |    WHEN ABS(ROUND(1.0 - u_a * 2.0 / (CAST(n_a AS DOUBLE)
       |      * n_b), 6)) < 0.147 THEN 'negligible'
       |    WHEN ABS(ROUND(1.0 - u_a * 2.0 / (CAST(n_a AS DOUBLE)
       |      * n_b), 6)) < 0.33 THEN 'small'
       |    WHEN ABS(ROUND(1.0 - u_a * 2.0 / (CAST(n_a AS DOUBLE)
       |      * n_b), 6)) < 0.474 THEN 'medium'
       |    ELSE 'large' END AS magnitude
       |FROM mwu""".stripMargin

  /** Sample-ratio-mismatch check (Fabijan et al., ICSE-SEIP 2019 —
    * "the most useful A/B guardrail nobody runs"): a χ² test of the
    * OBSERVED variant assignment counts against the DESIGNED ratio.
    * A significant SRM means the experiment is corrupted upstream
    * (bot filtering, logging loss, redirect asymmetry) and every
    * downstream metric readout is invalid — which is why this runs
    * before [[welchTTest]]/[[ratioDelta]], not after.
    *
    * ONE count aggregate; 1-df χ² against closed-form thresholds. */
  def srmCheck(units: DataFrame, variant: Column,
      expectedShareB: Double = 0.5): DataFrame = {
    require(expectedShareB > 0.0 && expectedShareB < 1.0,
      "expected share must be in (0,1)")
    val g = units.select(variant.cast("boolean").as("__b"))
      .where(col("__b").isNotNull)
      .agg(sum(when(!col("__b"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__b"), 1L).otherwise(0L)).as("n_b"))
    val n = (col("n_a") + col("n_b")).cast("double")
    val ea = n * (1.0 - expectedShareB)
    val eb = n * expectedShareB
    val chi = pow(col("n_a") - ea, 2) / ea + pow(col("n_b") - eb, 2) / eb
    g.select(
      col("n_a"), col("n_b"),
      round(col("n_b").cast("double") / n, 6).as("observed_share_b"),
      lit(expectedShareB).as("expected_share_b"),
      round(chi, 6).as("chi_sq"),
      (chi > 3.841).as("srm_95"),
      (chi > 6.635).as("srm_99"))
  }

  /** DuckDB oracle for the registered SRM fixture (user parity vs a
    * designed 50/50). */
  def srmOracleSql(expectedShareB: Double = 0.5): String =
    s"""WITH g AS (
       |  SELECT
       |    SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS n_a,
       |    SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS n_b
       |  FROM (SELECT DISTINCT user_id FROM events)),
       |k AS (
       |  SELECT n_a, n_b,
       |    CAST(n_a + n_b AS DOUBLE) * ${1.0 - expectedShareB} AS ea,
       |    CAST(n_a + n_b AS DOUBLE) * $expectedShareB AS eb
       |  FROM g)
       |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       |  ROUND(CAST(n_b AS DOUBLE) / (n_a + n_b), 6)
       |    AS observed_share_b,
       |  CAST($expectedShareB AS DOUBLE) AS expected_share_b,
       |  ROUND(pow(n_a - ea, 2) / ea + pow(n_b - eb, 2) / eb, 6)
       |    AS chi_sq,
       |  pow(n_a - ea, 2) / ea + pow(n_b - eb, 2) / eb > 3.841
       |    AS srm_95,
       |  pow(n_a - ea, 2) / ea + pow(n_b - eb, 2) / eb > 6.635
       |    AS srm_99
       |FROM k""".stripMargin

  /** CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM 2013)
    * — the standard pre-experiment-covariate adjustment: ŷ = y −
    * θ·(x − x̄) with θ = cov(y, x)/var(x) removes the metric variance
    * the PRE-period already explains (reduction factor = ρ², the
    * squared metric/covariate correlation), which shrinks experiment
    * runtimes by the same factor without touching the treatment
    * effect. Reports the θ fit, the raw vs adjusted variance, and the
    * achieved reduction — the readout a team checks before adopting
    * the adjusted metric.
    *
    * One conditional-moment pass over unit-cardinality rows; θ is fit
    * POOLED (the standard, treatment-effect-unbiased choice). */
  def cuped(units: DataFrame, variant: Column, metric: Column,
      covariate: Column): DataFrame = {
    val g = units
      .select(variant.as("__b"), metric.cast("double").as("__y"),
        covariate.cast("double").as("__x"))
      .where(col("__b").isNotNull && col("__y").isNotNull &&
        col("__x").isNotNull)
      .groupBy()
      .agg(
        count(lit(1)).as("n"),
        covar_samp(col("__y"), col("__x")).as("__cyx"),
        var_samp(col("__x")).as("__vx"),
        var_samp(col("__y")).as("__vy"))
    val theta = when(col("__vx") > 0.0, col("__cyx") / col("__vx"))
      .otherwise(lit(0.0))
    // ρ² from guarded moments — ANSI `corr` throws DIVIDE_BY_ZERO on a
    // constant column, and a zero-variance covariate must mean "no
    // adjustment", not an exception
    val rho2 = when(col("__vx") > 0.0 && col("__vy") > 0.0,
      col("__cyx") * col("__cyx") / (col("__vx") * col("__vy")))
      .otherwise(lit(0.0))
    // var(ŷ) = var(y)·(1 − ρ²) in closed form — no second pass
    g.select(
      col("n"),
      round(theta, 6).as("theta"),
      round(col("__vy"), 6).as("var_raw"),
      round(col("__vy") * (lit(1.0) - rho2), 6).as("var_adjusted"),
      round(rho2, 6).as("var_reduction"))
  }

  /** DuckDB oracle for the registered CUPED fixture: metric = user's
    * second-half purchase value, covariate = first-half value (split
    * at the corpus midpoint date). */
  val cupedOracleSql: String =
    """WITH sp AS (
      |  SELECT CAST(MIN(ts) AS DATE) +
      |    CAST(CAST(date_diff('day', CAST(MIN(ts) AS DATE),
      |      CAST(MAX(ts) AS DATE)) AS DOUBLE) / 2 AS INTEGER) AS mid
      |  FROM events),
      |u AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN event_type = 'purchase'
      |      AND CAST(ts AS DATE) > (SELECT mid FROM sp)
      |      THEN value ELSE 0 END) AS y,
      |    SUM(CASE WHEN event_type = 'purchase'
      |      AND CAST(ts AS DATE) <= (SELECT mid FROM sp)
      |      THEN value ELSE 0 END) AS x
      |  FROM events GROUP BY 1),
      |g AS (
      |  SELECT COUNT(*) AS n, covar_samp(y, x) AS cyx,
      |    var_samp(x) AS vx, var_samp(y) AS vy
      |  FROM u)
      |SELECT CAST(n AS BIGINT) AS n,
      |  ROUND(CASE WHEN vx > 0 THEN cyx / vx ELSE 0.0 END, 6) AS theta,
      |  ROUND(vy, 6) AS var_raw,
      |  ROUND(vy * (1.0 - CASE WHEN vx > 0 AND vy > 0
      |    THEN cyx * cyx / (vx * vy) ELSE 0.0 END), 6)
      |    AS var_adjusted,
      |  ROUND(CASE WHEN vx > 0 AND vy > 0
      |    THEN cyx * cyx / (vx * vy) ELSE 0.0 END, 6) AS var_reduction
      |FROM g""".stripMargin

  /** Two-sample power analysis from the corpus's own variance: the
    * per-arm sample size n = 2σ²(z_{α/2} + z_β)²/δ² to detect a
    * minimum effect `mde` (absolute units) at α = 0.05 two-sided with
    * 80% / 90% power, plus the MDE the CURRENT cohort size already
    * supports — the "how long must this experiment run" planning
    * readout, from ONE variance agg. */
  def powerAnalysis(units: DataFrame, metric: Column,
      mde: Double): DataFrame = {
    require(mde > 0.0, "mde must be positive")
    val z975 = 1.959964
    val z80 = 0.841621
    val z90 = 1.281552
    val g = units.select(metric.cast("double").as("__m"))
      .where(col("__m").isNotNull)
      .agg(count(lit(1)).as("n_units"),
        var_samp(col("__m")).as("__v"))
    def nFor(zb: Double) =
      ceil(lit(2.0) * col("__v") * math.pow(z975 + zb, 2) /
        (mde * mde)).cast("bigint")
    // MDE supportable NOW: both arms get n_units/2
    val mdeNow = sqrt(lit(2.0) * col("__v") *
      math.pow(z975 + z80, 2) /
      (col("n_units").cast("double") / 2.0))
    g.select(
      col("n_units"),
      round(col("__v"), 6).as("variance"),
      lit(mde).as("mde"),
      nFor(z80).as("n_per_arm_80"),
      nFor(z90).as("n_per_arm_90"),
      round(mdeNow, 6).as("mde_at_current_n"))
  }

  /** DuckDB oracle for the registered power fixture (per-user
    * purchase value, mde = 5.0). */
  def powerOracleSql(mde: Double): String =
    s"""WITH u AS (
       |  SELECT user_id, SUM(value) AS m
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |g AS (SELECT COUNT(*) AS n, var_samp(m) AS v FROM u)
       |SELECT CAST(n AS BIGINT) AS n_units,
       |  ROUND(v, 6) AS variance,
       |  CAST($mde AS DOUBLE) AS mde,
       |  CAST(ceil(2.0 * v * pow(1.959964 + 0.841621, 2)
       |    / ($mde * $mde)) AS BIGINT) AS n_per_arm_80,
       |  CAST(ceil(2.0 * v * pow(1.959964 + 1.281552, 2)
       |    / ($mde * $mde)) AS BIGINT) AS n_per_arm_90,
       |  ROUND(sqrt(2.0 * v * pow(1.959964 + 0.841621, 2)
       |    / (CAST(n AS DOUBLE) / 2.0)), 6) AS mde_at_current_n
       |FROM g""".stripMargin

  /** Difference-in-differences (Card & Krueger 1994 canon) — the
    * quasi-experimental readout when assignment wasn't randomized: a
    * pre/post change in the treated group means nothing by itself
    * (seasonality, drift), so subtract the control group's change.
    * Computed on per-UNIT deltas (post − pre), which makes the Welch
    * machinery the correct unit-clustered standard error — the
    * parallel-trends assumption is the caller's to defend.
    *
    * One conditional-moment pass over unit-cardinality rows; the 2×2
    * cell means ride along for the plot. */
  def diffInDiff(units: DataFrame, variant: Column, pre: Column,
      post: Column): DataFrame = {
    val g = units
      .select(variant.as("__b"), pre.cast("double").as("__pre"),
        post.cast("double").as("__post"))
      .where(col("__b").isNotNull && col("__pre").isNotNull &&
        col("__post").isNotNull)
      .withColumn("__d", col("__post") - col("__pre"))
      .groupBy()
      .agg(
        sum(when(!col("__b"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__b"), 1L).otherwise(0L)).as("n_b"),
        avg(when(!col("__b"), col("__pre"))).as("__pa"),
        avg(when(col("__b"), col("__pre"))).as("__pb"),
        avg(when(!col("__b"), col("__post"))).as("__qa"),
        avg(when(col("__b"), col("__post"))).as("__qb"),
        avg(when(!col("__b"), col("__d"))).as("__da"),
        avg(when(col("__b"), col("__d"))).as("__db"),
        var_samp(when(!col("__b"), col("__d"))).as("__va"),
        var_samp(when(col("__b"), col("__d"))).as("__vb"))
    val se = sqrt(col("__va") / col("n_a") + col("__vb") / col("n_b"))
    val did = col("__db") - col("__da")
    val t = when(se > 0.0, did / se).otherwise(lit(0.0))
    g.select(
      col("n_a"), col("n_b"),
      round(col("__pa"), 6).as("pre_a"),
      round(col("__qa"), 6).as("post_a"),
      round(col("__pb"), 6).as("pre_b"),
      round(col("__qb"), 6).as("post_b"),
      round(did, 6).as("did"),
      round(se, 6).as("se"),
      round(t, 6).as("t_stat"),
      (abs(t) > 1.96).as("sig_95"))
  }

  /** DuckDB oracle for the registered DiD fixture: per-user purchase
    * value pre/post the corpus midpoint date, parity variant. */
  val didOracleSql: String =
    """WITH sp AS (
      |  SELECT CAST(MIN(ts) AS DATE) +
      |    CAST(CAST(date_diff('day', CAST(MIN(ts) AS DATE),
      |      CAST(MAX(ts) AS DATE)) AS DOUBLE) / 2 AS INTEGER) AS mid
      |  FROM events),
      |u AS (
      |  SELECT user_id, user_id % 2 = 1 AS b,
      |    SUM(CASE WHEN event_type = 'purchase'
      |      AND CAST(ts AS DATE) <= (SELECT mid FROM sp)
      |      THEN value ELSE 0 END) AS pre,
      |    SUM(CASE WHEN event_type = 'purchase'
      |      AND CAST(ts AS DATE) > (SELECT mid FROM sp)
      |      THEN value ELSE 0 END) AS post
      |  FROM events GROUP BY 1, 2),
      |g AS (
      |  SELECT
      |    SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) AS n_a,
      |    SUM(CASE WHEN b THEN 1 ELSE 0 END) AS n_b,
      |    AVG(CASE WHEN NOT b THEN pre END) AS pa,
      |    AVG(CASE WHEN b THEN pre END) AS pb,
      |    AVG(CASE WHEN NOT b THEN post END) AS qa,
      |    AVG(CASE WHEN b THEN post END) AS qb,
      |    AVG(CASE WHEN NOT b THEN post - pre END) AS da,
      |    AVG(CASE WHEN b THEN post - pre END) AS db,
      |    var_samp(CASE WHEN NOT b THEN post - pre END) AS va,
      |    var_samp(CASE WHEN b THEN post - pre END) AS vb
      |  FROM u),
      |k AS (
      |  SELECT *, db - da AS did,
      |    sqrt(va / n_a + vb / n_b) AS se
      |  FROM g)
      |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      |  ROUND(pa, 6) AS pre_a, ROUND(qa, 6) AS post_a,
      |  ROUND(pb, 6) AS pre_b, ROUND(qb, 6) AS post_b,
      |  ROUND(did, 6) AS did,
      |  ROUND(se, 6) AS se,
      |  ROUND(CASE WHEN se > 0 THEN did / se ELSE 0.0 END, 6)
      |    AS t_stat,
      |  abs(CASE WHEN se > 0 THEN did / se ELSE 0.0 END) > 1.96
      |    AS sig_95
      |FROM k""".stripMargin

  /** Per-segment treatment-effect table with Benjamini–Hochberg
    * control — the "which segment actually moved" drill-down that
    * follows a significant topline: one Welch z per segment, a
    * two-sided normal p via the Abramowitz–Stegun 7.1.26 erf
    * closed form (deterministic arithmetic, hash-identical in both
    * engines), and BH step-up across the segment family so 20
    * segments don't hand back one free false positive.
    *
    * One conditional-moment agg per segment (single pass), then
    * segment-cardinality windows for the BH ladder. */
  def segmentLift(units: DataFrame, variant: Column,
      segment: Column, metric: Column,
      alpha: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = units
      .select(segment.as("segment"), variant.as("__b"),
        metric.cast("double").as("__m"))
      .where(col("__b").isNotNull && col("__m").isNotNull)
      .groupBy("segment")
      .agg(
        sum(when(!col("__b"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__b"), 1L).otherwise(0L)).as("n_b"),
        avg(when(!col("__b"), col("__m"))).as("__ma"),
        avg(when(col("__b"), col("__m"))).as("__mb"),
        var_samp(when(!col("__b"), col("__m"))).as("__va"),
        var_samp(when(col("__b"), col("__m"))).as("__vb"))
    val se = sqrt(col("__va") / col("n_a") + col("__vb") / col("n_b"))
    val z = when(se > 0.0, (col("__mb") - col("__ma")) / se)
      .otherwise(lit(0.0))
    val withP = g
      .withColumn("__z", z)
      .withColumn("__p", normTwoSided(abs(col("__z"))))
    // family size as a JOINED 1-row stat factor (the ksBySliceFdr
    // convention — never an extra unbounded count window on the frame)
    val fam = withP.agg(count(lit(1)).as("__fm"))
    val wDesc = Window.orderBy(col("__p").desc, col("segment"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wRank = Window.orderBy(col("__p"), col("segment"))
    val ranked = withP
      .crossJoin(broadcast(fam))   // 1-row stat factor
      .withColumn("__rk", row_number().over(wRank))
    val adj = ranked.withColumn("__padj",
      least(lit(1.0),
        min(col("__p") * col("__fm") / col("__rk")).over(wDesc)))
    adj.select(
      col("segment"), col("n_a"), col("n_b"),
      round(col("__mb") - col("__ma"), 6).as("lift"),
      round(col("__z"), 6).as("z"),
      round(col("__p"), 6).as("p"),
      round(col("__padj"), 6).as("p_adj"),
      (col("__padj") < alpha).as("discovery"))
      .orderBy("segment")
  }

  /** Two-sided normal p-value 2·(1 − Φ(z)) for z ≥ 0 via the
    * Abramowitz–Stegun 7.1.26 erf polynomial — max abs error 1.5e-7,
    * and pure closed-form arithmetic so DuckDB mirrors it exactly. */
  private def normTwoSided(zAbs: Column): Column = {
    val x = zAbs / math.sqrt(2.0)
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = t * (lit(0.254829592) +
      t * (lit(-0.284496736) +
        t * (lit(1.421413741) +
          t * (lit(-1.453152027) + t * lit(1.061405429)))))
    // erfc(x) = poly·e^{−x²}; two-sided p = erfc(|z|/√2)
    poly * exp(-x * x)
  }

  /** The same A&S erfc in DuckDB SQL over an expression `z` (≥ 0). */
  private def normTwoSidedSql(z: String): String =
    s"""((1.0 / (1.0 + 0.3275911 * ($z) / sqrt(2.0))) *
       |  (0.254829592 + (1.0 / (1.0 + 0.3275911 * ($z) / sqrt(2.0))) *
       |  (-0.284496736 + (1.0 / (1.0 + 0.3275911 * ($z) / sqrt(2.0))) *
       |  (1.421413741 + (1.0 / (1.0 + 0.3275911 * ($z) / sqrt(2.0))) *
       |  (-1.453152027 + (1.0 / (1.0 + 0.3275911 * ($z) / sqrt(2.0))) *
       |    1.061405429)))) *
       |  exp(-(($z) / sqrt(2.0)) * (($z) / sqrt(2.0))))""".stripMargin

  /** DuckDB oracle for the registered segment-lift fixture: per-user
    * per-event-type summed value, parity variant, segments = types. */
  def segmentLiftOracleSql(alpha: Double = 0.05): String =
    s"""WITH u AS (
       |  SELECT event_type AS segment, user_id % 2 = 1 AS b,
       |    SUM(value) AS m
       |  FROM events GROUP BY 1, 2, user_id),
       |g AS (
       |  SELECT segment,
       |    SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) AS n_a,
       |    SUM(CASE WHEN b THEN 1 ELSE 0 END) AS n_b,
       |    AVG(CASE WHEN NOT b THEN m END) AS ma,
       |    AVG(CASE WHEN b THEN m END) AS mb,
       |    var_samp(CASE WHEN NOT b THEN m END) AS va,
       |    var_samp(CASE WHEN b THEN m END) AS vb
       |  FROM u GROUP BY 1),
       |z AS (
       |  SELECT segment, n_a, n_b, mb - ma AS lift,
       |    CASE WHEN sqrt(va / n_a + vb / n_b) > 0
       |      THEN (mb - ma) / sqrt(va / n_a + vb / n_b)
       |      ELSE 0.0 END AS zv
       |  FROM g),
       |p AS (
       |  SELECT *, ${normTwoSidedSql("abs(zv)")} AS pv FROM z),
       |r AS (
       |  SELECT *,
       |    COUNT(*) OVER () AS mm,
       |    ROW_NUMBER() OVER (ORDER BY pv, segment) AS rk
       |  FROM p),
       |a AS (
       |  SELECT *, LEAST(1.0, MIN(pv * mm / rk) OVER (
       |    ORDER BY pv DESC, segment
       |    ROWS UNBOUNDED PRECEDING)) AS padj
       |  FROM r)
       |SELECT segment, CAST(n_a AS BIGINT) AS n_a,
       |  CAST(n_b AS BIGINT) AS n_b,
       |  ROUND(lift, 6) AS lift,
       |  ROUND(zv, 6) AS z,
       |  ROUND(pv, 6) AS p,
       |  ROUND(padj, 6) AS p_adj,
       |  padj < $alpha AS discovery
       |FROM a ORDER BY segment""".stripMargin

  /** Quantile treatment effects: the per-level quantile difference
    * between arms — a mean lift can hide "the median fell while the
    * p95 exploded", and distributional experiments (latency, spend)
    * are judged at the quantiles. Exact `percentile` as the oracle
    * pin, `approx_percentile` at scale (the q245 convention). */
  def quantileLift(units: DataFrame, variant: Column, metric: Column,
      levels: Seq[Double] = Seq(0.1, 0.25, 0.5, 0.75, 0.9)): DataFrame = {
    require(levels.nonEmpty, "need at least one level")
    val lvlSql = levels.mkString("array(", ", ", ")")
    val lvlLit = array(levels.map(lit): _*)
    val base = units.select(variant.cast("boolean").as("__b"),
      metric.cast("double").as("__m"))
      .where(col("__b").isNotNull && col("__m").isNotNull)
    def side(b: Boolean, name: String) = base.where(col("__b") === b)
      .agg(expr(s"percentile(__m, $lvlSql)").as("__qs"))
      .select(posexplode(col("__qs")).as(Seq("__i", name)))
    side(false, "q_a").join(broadcast(side(true, "q_b")), "__i")
      .select(
        round(element_at(lvlLit, col("__i") + 1), 2).as("level"),
        round(col("q_a"), 6).as("q_a"),
        round(col("q_b"), 6).as("q_b"),
        round(col("q_b") - col("q_a"), 6).as("lift"))
      .orderBy("level")
  }

  /** DuckDB oracle for the registered quantile-lift fixture. */
  def quantileLiftOracleSql(
      levels: Seq[Double] = Seq(0.1, 0.25, 0.5, 0.75, 0.9)): String = {
    val lst = levels.mkString("[", ", ", "]")
    s"""WITH u AS (
       |  SELECT user_id % 2 = 1 AS b, SUM(value) AS m
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1, user_id),
       |qa AS (
       |  SELECT quantile_cont(m, $lst) AS qs FROM u WHERE NOT b),
       |qb AS (
       |  SELECT quantile_cont(m, $lst) AS qs FROM u WHERE b),
       |xa AS (
       |  SELECT generate_subscripts(qs, 1) AS i, UNNEST(qs) AS q_a
       |  FROM qa),
       |xb AS (
       |  SELECT generate_subscripts(qs, 1) AS i, UNNEST(qs) AS q_b
       |  FROM qb),
       |lev AS (
       |  SELECT generate_subscripts(l, 1) AS i, UNNEST(l) AS lv
       |  FROM (SELECT $lst AS l))
       |SELECT ROUND(lv, 2) AS level,
       |  ROUND(q_a, 6) AS q_a,
       |  ROUND(q_b, 6) AS q_b,
       |  ROUND(q_b - q_a, 6) AS lift
       |FROM xa JOIN xb USING (i) JOIN lev USING (i)
       |ORDER BY level""".stripMargin
  }

  /** Always-valid sequential test — the mixture SPRT (Johari, Koomen,
    * Pekelis & Walsh, KDD 2017 / "Peeking at A/B tests"): a fixed-n
    * t-test is invalid the moment anyone LOOKS early, and experiment
    * dashboards are looked at daily. The normal-mixture SPRT's
    * Λ_n = √(V_n/(V_n+τ²))·exp(Δ_n²τ²/(2V_n(V_n+τ²))) yields
    * p_n = min(1, min_{m≤n} 1/Λ_m), a p-value that stays valid under
    * CONTINUOUS monitoring — stop the first day it crosses α.
    *
    * Scale shape: one grouped agg to per-day per-arm moment sums,
    * then cumulative windows over the DAY-cardinality table (one
    * ordering, one partition spec — not the stacked-window shape).
    * Output is one row per day: the dashboard itself. */
  def sequentialMsprt(units: DataFrame, variant: Column,
      dayCol: Column, metric: Column, tau: Double = 1.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tau > 0.0, "mixture scale tau must be positive")
    val daily = units
      .select(variant.as("__b"), dayCol.as("d"),
        metric.cast("double").as("__m"))
      .where(col("__b").isNotNull && col("__m").isNotNull)
      .groupBy("d")
      .agg(
        sum(when(!col("__b"), 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__b"), 1L).otherwise(0L)).as("__cb"),
        sum(when(!col("__b"), col("__m")).otherwise(0.0)).as("__sa"),
        sum(when(col("__b"), col("__m")).otherwise(0.0)).as("__sb"),
        sum(when(!col("__b"), col("__m") * col("__m")).otherwise(0.0))
          .as("__qa"),
        sum(when(col("__b"), col("__m") * col("__m")).otherwise(0.0))
          .as("__qb"))
    val w = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = daily
      .withColumn("n_a", sum("__ca").over(w))
      .withColumn("n_b", sum("__cb").over(w))
      .withColumn("__Sa", sum("__sa").over(w))
      .withColumn("__Sb", sum("__sb").over(w))
      .withColumn("__Qa", sum("__qa").over(w))
      .withColumn("__Qb", sum("__qb").over(w))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val ma = col("__Sa") / na
    val mb = col("__Sb") / nb
    val ss = (col("__Qa") - na * ma * ma) + (col("__Qb") - nb * mb * mb)
    val sig2 = ss / (na + nb - 2.0)
    val vn = sig2 * (lit(1.0) / na + lit(1.0) / nb)
    val diff = mb - ma
    val t2 = tau * tau
    val lam = sqrt(vn / (vn + t2)) *
      exp(diff * diff * lit(t2) / (lit(2.0) * vn * (vn + t2)))
    val defined = col("n_a") >= 2 && col("n_b") >= 2 && vn > 0.0
    val withLam = cum
      .withColumn("__lam", when(defined, lam).otherwise(lit(1.0)))
      .withColumn("__p", least(lit(1.0), lit(1.0) / col("__lam")))
    withLam
      .withColumn("p_always_valid",
        round(min("__p").over(w), 6).as("p_always_valid"))
      .select(col("d"), col("n_a"), col("n_b"),
        round(when(defined, diff).otherwise(lit(0.0)), 6).as("diff"),
        round(col("__lam"), 6).as("lambda"),
        col("p_always_valid"),
        (col("p_always_valid") < 0.05).as("rejected_95"))
      .orderBy("d")
  }

  /** DuckDB oracle for the registered mSPRT fixture: per-(user, day)
    * purchase value, parity variant, tau = 25. */
  def msprtOracleSql(tau: Double): String =
    s"""WITH u AS (
       |  SELECT user_id % 2 = 1 AS b, CAST(ts AS DATE) AS d,
       |    SUM(value) AS m
       |  FROM events WHERE event_type = 'purchase'
       |  GROUP BY 1, 2, user_id),
       |daily AS (
       |  SELECT d,
       |    SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) AS ca,
       |    SUM(CASE WHEN b THEN 1 ELSE 0 END) AS cb,
       |    SUM(CASE WHEN NOT b THEN m ELSE 0 END) AS sa,
       |    SUM(CASE WHEN b THEN m ELSE 0 END) AS sb,
       |    SUM(CASE WHEN NOT b THEN m * m ELSE 0 END) AS qa,
       |    SUM(CASE WHEN b THEN m * m ELSE 0 END) AS qb
       |  FROM u GROUP BY 1),
       |c AS (
       |  SELECT d,
       |    SUM(ca) OVER wc AS n_a, SUM(cb) OVER wc AS n_b,
       |    SUM(sa) OVER wc AS Sa, SUM(sb) OVER wc AS Sb,
       |    SUM(qa) OVER wc AS Qa, SUM(qb) OVER wc AS Qb
       |  FROM daily
       |  WINDOW wc AS (ORDER BY d ROWS UNBOUNDED PRECEDING)),
       |k AS (
       |  SELECT d, n_a, n_b,
       |    Sb / n_b - Sa / n_a AS diff,
       |    ((Qa - n_a * (Sa / n_a) * (Sa / n_a)) +
       |     (Qb - n_b * (Sb / n_b) * (Sb / n_b)))
       |      / (n_a + n_b - 2.0) *
       |      (1.0 / n_a + 1.0 / n_b) AS vn
       |  FROM c),
       |l AS (
       |  SELECT d, n_a, n_b,
       |    CASE WHEN n_a >= 2 AND n_b >= 2 AND vn > 0
       |      THEN diff ELSE 0.0 END AS diff,
       |    CASE WHEN n_a >= 2 AND n_b >= 2 AND vn > 0
       |      THEN sqrt(vn / (vn + ${tau * tau})) *
       |        exp(diff * diff * ${tau * tau} /
       |          (2.0 * vn * (vn + ${tau * tau})))
       |      ELSE 1.0 END AS lam
       |  FROM k),
       |p AS (
       |  SELECT *, MIN(LEAST(1.0, 1.0 / lam)) OVER (ORDER BY d
       |    ROWS UNBOUNDED PRECEDING) AS pav
       |  FROM l)
       |SELECT d, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       |  ROUND(diff, 6) AS diff,
       |  ROUND(lam, 6) AS lambda,
       |  ROUND(pav, 6) AS p_always_valid,
       |  pav < 0.05 AS rejected_95
       |FROM p ORDER BY d""".stripMargin

  /** Delta-method analysis of a RATIO metric (Deng, Knoblich & Lu,
    * KDD 2018) — the correct A/B readout when the metric is a ratio
    * of sums over randomization units (revenue per event, clicks per
    * session): treating each event as independent understates the
    * variance because events cluster within users, and per-user
    * averaging answers a different question. The delta method expands
    * R = ΣX/ΣY around the unit means: var(R) ≈ (x̄/ȳ)²·[var(X)/x̄² −
    * 2cov(X,Y)/(x̄ȳ) + var(Y)/ȳ²]/n.
    *
    * One grouped agg to per-unit (x, y), one conditional-moment pass,
    * single-row output — the [[welchTTest]] scale shape with a
    * covariance term. */
  def ratioDelta(units: DataFrame, variant: Column, numer: Column,
      denom: Column): DataFrame = {
    val g = units
      .select(variant.as("__b"), numer.cast("double").as("__x"),
        denom.cast("double").as("__y"))
      .where(col("__b").isNotNull)
      .groupBy()
      .agg(
        sum(when(!col("__b"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__b"), 1L).otherwise(0L)).as("n_b"),
        avg(when(!col("__b"), col("__x"))).as("__xa"),
        avg(when(col("__b"), col("__x"))).as("__xb"),
        avg(when(!col("__b"), col("__y"))).as("__ya"),
        avg(when(col("__b"), col("__y"))).as("__yb"),
        var_samp(when(!col("__b"), col("__x"))).as("__vxa"),
        var_samp(when(col("__b"), col("__x"))).as("__vxb"),
        var_samp(when(!col("__b"), col("__y"))).as("__vya"),
        var_samp(when(col("__b"), col("__y"))).as("__vyb"),
        covar_samp(when(!col("__b"), col("__x")),
          when(!col("__b"), col("__y"))).as("__ca"),
        covar_samp(when(col("__b"), col("__x")),
          when(col("__b"), col("__y"))).as("__cb"))
    def ratio(x: Column, y: Column) = x / y
    def dvar(n: Column, x: Column, y: Column, vx: Column, vy: Column,
        cxy: Column) =
      ratio(x, y) * ratio(x, y) *
        (vx / (x * x) - lit(2.0) * cxy / (x * y) + vy / (y * y)) /
        n.cast("double")
    val ra = ratio(col("__xa"), col("__ya"))
    val rb = ratio(col("__xb"), col("__yb"))
    val va = dvar(col("n_a"), col("__xa"), col("__ya"), col("__vxa"),
      col("__vya"), col("__ca"))
    val vb = dvar(col("n_b"), col("__xb"), col("__yb"), col("__vxb"),
      col("__vyb"), col("__cb"))
    val se = sqrt(va + vb)
    val z = when(se > 0.0, (rb - ra) / se).otherwise(lit(0.0))
    g.select(
      col("n_a"), col("n_b"),
      round(ra, 6).as("ratio_a"),
      round(rb, 6).as("ratio_b"),
      round(rb - ra, 6).as("lift"),
      round(se, 6).as("se"),
      round(z, 6).as("z"),
      (abs(z) > 1.96).as("sig_95"))
  }

  /** DuckDB oracle for the registered ratio fixture: purchase revenue
    * per event, unit = user, variant = user_id parity. */
  val ratioDeltaOracleSql: String =
    """WITH u AS (
      |  SELECT user_id, user_id % 2 = 1 AS b,
      |    SUM(CASE WHEN event_type = 'purchase' THEN value
      |      ELSE 0 END) AS x,
      |    COUNT(*) AS y
      |  FROM events GROUP BY 1, 2),
      |g AS (
      |  SELECT
      |    SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) AS n_a,
      |    SUM(CASE WHEN b THEN 1 ELSE 0 END) AS n_b,
      |    AVG(CASE WHEN NOT b THEN x END) AS xa,
      |    AVG(CASE WHEN b THEN x END) AS xb,
      |    AVG(CASE WHEN NOT b THEN CAST(y AS DOUBLE) END) AS ya,
      |    AVG(CASE WHEN b THEN CAST(y AS DOUBLE) END) AS yb,
      |    var_samp(CASE WHEN NOT b THEN x END) AS vxa,
      |    var_samp(CASE WHEN b THEN x END) AS vxb,
      |    var_samp(CASE WHEN NOT b THEN CAST(y AS DOUBLE) END) AS vya,
      |    var_samp(CASE WHEN b THEN CAST(y AS DOUBLE) END) AS vyb,
      |    covar_samp(CASE WHEN NOT b THEN x END,
      |      CASE WHEN NOT b THEN CAST(y AS DOUBLE) END) AS ca,
      |    covar_samp(CASE WHEN b THEN x END,
      |      CASE WHEN b THEN CAST(y AS DOUBLE) END) AS cb
      |  FROM u),
      |k AS (
      |  SELECT *, xa / ya AS ra, xb / yb AS rb,
      |    (xa / ya) * (xa / ya) * (vxa / (xa * xa)
      |      - 2.0 * ca / (xa * ya) + vya / (ya * ya)) / n_a AS va,
      |    (xb / yb) * (xb / yb) * (vxb / (xb * xb)
      |      - 2.0 * cb / (xb * yb) + vyb / (yb * yb)) / n_b AS vb
      |  FROM g)
      |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      |  ROUND(ra, 6) AS ratio_a, ROUND(rb, 6) AS ratio_b,
      |  ROUND(rb - ra, 6) AS lift,
      |  ROUND(sqrt(va + vb), 6) AS se,
      |  ROUND(CASE WHEN sqrt(va + vb) > 0
      |    THEN (rb - ra) / sqrt(va + vb) ELSE 0.0 END, 6) AS z,
      |  abs(CASE WHEN sqrt(va + vb) > 0
      |    THEN (rb - ra) / sqrt(va + vb) ELSE 0.0 END) > 1.96
      |    AS sig_95
      |FROM k""".stripMargin

  /** DuckDB oracle for the registered Mann–Whitney fixture (same
    * per-user purchase metric and parity variant as [[welchTTest]]). */
  val mannWhitneyOracleSql: String =
    """WITH u AS (
      |  SELECT user_id, user_id % 2 = 1 AS b, SUM(value) AS m
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      |f AS (
      |  SELECT m,
      |    SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) AS ca,
      |    SUM(CASE WHEN b THEN 1 ELSE 0 END) AS cb,
      |    COUNT(*) AS t
      |  FROM u GROUP BY 1),
      |r AS (
      |  SELECT *, COALESCE(SUM(t) OVER (ORDER BY m
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    + (t + 1.0) / 2.0 AS rk
      |  FROM f),
      |g AS (
      |  SELECT SUM(ca) AS n_a, SUM(cb) AS n_b,
      |    SUM(rk * ca) AS ra,
      |    SUM(CAST(t AS DOUBLE) * t * t - t) AS ties
      |  FROM r)
      |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      |  ROUND(ra - n_a * (n_a + 1.0) / 2.0, 6) AS u_a,
      |  ROUND((ra - n_a * (n_a + 1.0) / 2.0 - n_a * n_b / 2.0) /
      |    sqrt(n_a * n_b / 12.0 * ((n_a + n_b + 1.0) -
      |      ties / ((n_a + n_b) * (n_a + n_b - 1.0)))), 6) AS z,
      |  abs((ra - n_a * (n_a + 1.0) / 2.0 - n_a * n_b / 2.0) /
      |    sqrt(n_a * n_b / 12.0 * ((n_a + n_b + 1.0) -
      |      ties / ((n_a + n_b) * (n_a + n_b - 1.0))))) > 1.96
      |    AS sig_95,
      |  abs((ra - n_a * (n_a + 1.0) / 2.0 - n_a * n_b / 2.0) /
      |    sqrt(n_a * n_b / 12.0 * ((n_a + n_b + 1.0) -
      |      ties / ((n_a + n_b) * (n_a + n_b - 1.0))))) > 2.576
      |    AS sig_99
      |FROM g""".stripMargin

  /** DuckDB oracle for the registered fixture: per-user summed
    * purchase value, variant = user_id parity. */
  val welchOracleSql: String =
    """WITH u AS (
      |  SELECT user_id, user_id % 2 = 1 AS b,
      |    SUM(value) AS m
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      |g AS (
      |  SELECT
      |    SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) AS n_a,
      |    SUM(CASE WHEN b THEN 1 ELSE 0 END) AS n_b,
      |    AVG(CASE WHEN NOT b THEN m END) AS ma,
      |    AVG(CASE WHEN b THEN m END) AS mb,
      |    var_samp(CASE WHEN NOT b THEN m END) AS va,
      |    var_samp(CASE WHEN b THEN m END) AS vb
      |  FROM u)
      |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      |  ROUND(ma, 6) AS mean_a, ROUND(mb, 6) AS mean_b,
      |  ROUND(mb - ma, 6) AS lift,
      |  ROUND((mb - ma) / sqrt(va / n_a + vb / n_b), 6) AS t_stat,
      |  ROUND(pow(va / n_a + vb / n_b, 2) /
      |    (pow(va / n_a, 2) / (n_a - 1) +
      |     pow(vb / n_b, 2) / (n_b - 1)), 6) AS df,
      |  abs((mb - ma) / sqrt(va / n_a + vb / n_b)) > 1.96 AS sig_95,
      |  abs((mb - ma) / sqrt(va / n_a + vb / n_b)) > 2.576 AS sig_99
      |FROM g""".stripMargin

  /** Winsorized Welch test — the robust-metric A/B readout every
    * revenue experiment eventually needs: heavy-tailed unit metrics
    * (one whale purchase) blow up the plain t-test's variance, so the
    * metric is capped at the POOLED p-quantile before testing
    * (pooled, not per-arm: a per-arm cap would let the treatment
    * choose its own clipping and bias the lift). Reports the clipped
    * share per arm beside the test — a lift that appears only after
    * clipping is a tail story, not a mean story.
    *
    * Scale shape: one exact-percentile agg (1-row broadcast
    * threshold factor), one conditional-moment agg over units. The
    * exact percentile is the oracle-pinned form (the
    * [[graft.operators.Anomaly.robustLocation]] convention); swap in
    * `percentile_approx` at sketch-tolerant scale. */
  def winsorizedWelch(units: DataFrame, variant: Column, value: Column,
      p: Double = 0.95): DataFrame = {
    require(p > 0.0 && p < 1.0, s"p in (0,1), got $p")
    val u = units.select(variant.as("__b"), value.cast("double").as("__m"))
      .where(col("__b").isNotNull)
    val thr = u.agg(expr(s"percentile(__m, $p)").as("__thr"))
    val g = u.crossJoin(broadcast(thr))   // 1-row stat factor
      .withColumn("__w", least(col("__m"), col("__thr")))
      .groupBy()
      .agg(
        max(col("__thr")).as("__t"),
        sum(when(!col("__b"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__b"), 1L).otherwise(0L)).as("n_b"),
        sum(when(!col("__b") && col("__m") > col("__thr"), 1L)
          .otherwise(0L)).as("clipped_a"),
        sum(when(col("__b") && col("__m") > col("__thr"), 1L)
          .otherwise(0L)).as("clipped_b"),
        avg(when(!col("__b"), col("__w"))).as("__ma"),
        avg(when(col("__b"), col("__w"))).as("__mb"),
        var_samp(when(!col("__b"), col("__w"))).as("__va"),
        var_samp(when(col("__b"), col("__w"))).as("__vb"))
    val se = sqrt(col("__va") / col("n_a") + col("__vb") / col("n_b"))
    val t = when(se > 0.0, (col("__mb") - col("__ma")) / se)
    g.select(
      col("n_a"), col("n_b"),
      round(col("__t"), 4).as("thr"),
      col("clipped_a"), col("clipped_b"),
      round(col("__ma"), 6).as("mean_a"),
      round(col("__mb"), 6).as("mean_b"),
      round(col("__mb") - col("__ma"), 6).as("lift"),
      round(t, 6).as("t_stat"),
      coalesce(abs(t) > 1.96, lit(false)).as("sig_95"))
  }

  /** DuckDB oracle for the registered winsorized fixture: per-user
    * purchase revenue, variant = user_id parity, cap at pooled p95. */
  def winsorizedOracleSql(p: Double = 0.95): String =
    s"""WITH u AS (
       |  SELECT user_id % 2 = 1 AS b,
       |    SUM(CASE WHEN event_type = 'purchase' THEN value
       |      ELSE 0 END) AS m
       |  FROM events GROUP BY user_id),
       |thr AS (SELECT quantile_cont(m, $p) AS t FROM u),
       |g AS (
       |  SELECT MAX(thr.t) AS t,
       |    SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) AS n_a,
       |    SUM(CASE WHEN b THEN 1 ELSE 0 END) AS n_b,
       |    SUM(CASE WHEN NOT b AND m > thr.t THEN 1 ELSE 0 END)
       |      AS clipped_a,
       |    SUM(CASE WHEN b AND m > thr.t THEN 1 ELSE 0 END)
       |      AS clipped_b,
       |    AVG(CASE WHEN NOT b THEN LEAST(m, thr.t) END) AS ma,
       |    AVG(CASE WHEN b THEN LEAST(m, thr.t) END) AS mb,
       |    var_samp(CASE WHEN NOT b THEN LEAST(m, thr.t) END) AS va,
       |    var_samp(CASE WHEN b THEN LEAST(m, thr.t) END) AS vb
       |  FROM u CROSS JOIN thr),
       |s AS (SELECT *, sqrt(va / n_a + vb / n_b) AS se FROM g)
       |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       |  ROUND(t, 4) AS thr,
       |  CAST(clipped_a AS BIGINT) AS clipped_a,
       |  CAST(clipped_b AS BIGINT) AS clipped_b,
       |  ROUND(ma, 6) AS mean_a, ROUND(mb, 6) AS mean_b,
       |  ROUND(mb - ma, 6) AS lift,
       |  ROUND(CASE WHEN se > 0 THEN (mb - ma) / se END, 6) AS t_stat,
       |  COALESCE(abs((mb - ma) / se) > 1.96, FALSE) AS sig_95
       |FROM s""".stripMargin

  /** Delete-a-group jackknife for a ratio metric (Kott, "The
    * delete-a-group jackknife", JOS 2001 — the estimator production
    * experiment platforms run when the delta method's Taylor step is
    * in doubt): units are hashed into B groups per arm, the ratio is
    * re-estimated leaving each group out, and
    * SE² = (B−1)/B · Σ(r₍ᵦ₎ − r̄₍·₎)². Groups are `unitId % B` so the
    * assignment is deterministic and engine-independent. Output is
    * one row `(n_a, n_b, groups_a, groups_b, ratio_a, ratio_b, lift,
    * se_jk, z, sig_95)` — read beside q250's delta-method row: the
    * two SEs agreeing is itself a diagnostic.
    *
    * Scale shape: one per-(arm, group) agg — 2B rows out of the unit
    * shuffle — a 2-row per-arm total joined back, leave-one-out
    * arithmetic on 2B rows, one final fold. Nothing unit-cardinality
    * past the first agg. Degenerate groups (denominator zero after
    * deletion) are excluded from the variance like empty groups. */
  def ratioJackknife(units: DataFrame, variant: Column, numer: Column,
      denom: Column, unitId: Column, buckets: Int = 20): DataFrame = {
    val perGroup = units
      .select(variant.as("__b"), (unitId % buckets).as("__g"),
        numer.cast("double").as("__x"), denom.cast("double").as("__y"))
      .where(col("__b").isNotNull)
      .groupBy("__b", "__g")
      .agg(count(lit(1)).as("__n"), sum("__x").as("__sx"),
        sum("__y").as("__sy"))
    val perArm = perGroup.groupBy("__b").agg(
      sum("__n").as("__na"), sum("__sx").as("__tx"),
      sum("__sy").as("__ty"))
    val loo = perGroup
      .join(broadcast(perArm), Seq("__b"))   // 2-row arm totals
      .where(col("__ty") - col("__sy") > 0.0)
      .select(col("__b"),
        ((col("__tx") - col("__sx")) / (col("__ty") - col("__sy")))
          .as("__r"))
    val jk = loo.groupBy("__b").agg(
      count(lit(1)).as("__bn"), var_pop(col("__r")).as("__vr"))
    val arm = perArm.join(broadcast(jk), Seq("__b")).select(
      col("__b"), col("__na"), col("__bn"),
      (col("__tx") / col("__ty")).as("__ratio"),
      // (B−1)/B · Σ(r−r̄)² = (B−1)·var_pop(r)
      sqrt((col("__bn") - 1.0) * col("__vr")).as("__se"))
    arm.groupBy().agg(
        max(when(!col("__b"), col("__na"))).as("n_a"),
        max(when(col("__b"), col("__na"))).as("n_b"),
        max(when(!col("__b"), col("__bn"))).as("groups_a"),
        max(when(col("__b"), col("__bn"))).as("groups_b"),
        max(when(!col("__b"), col("__ratio"))).as("__ra"),
        max(when(col("__b"), col("__ratio"))).as("__rb"),
        max(when(!col("__b"), col("__se"))).as("__sea"),
        max(when(col("__b"), col("__se"))).as("__seb"))
      .select(
        col("n_a"), col("n_b"), col("groups_a"), col("groups_b"),
        round(col("__ra"), 6).as("ratio_a"),
        round(col("__rb"), 6).as("ratio_b"),
        round(col("__rb") - col("__ra"), 6).as("lift"),
        round(sqrt(col("__sea") * col("__sea") +
          col("__seb") * col("__seb")), 6).as("se_jk"),
        round(when(col("__sea") * col("__sea") +
            col("__seb") * col("__seb") > 0.0,
          (col("__rb") - col("__ra")) /
            sqrt(col("__sea") * col("__sea") +
              col("__seb") * col("__seb"))), 6).as("z"),
        (abs(coalesce((col("__rb") - col("__ra")) /
          sqrt(col("__sea") * col("__sea") +
            col("__seb") * col("__seb")), lit(0.0))) > 1.96)
          .as("sig_95"))
  }

  /** DuckDB oracle for the registered jackknife fixture: purchase
    * revenue per event, unit = user, variant = user_id parity,
    * B = 20 groups on user_id % 20. */
  def ratioJackknifeOracleSql(buckets: Int = 20): String =
    s"""WITH u AS (
       |  SELECT user_id, user_id % 2 = 1 AS b,
       |    user_id % $buckets AS g,
       |    SUM(CASE WHEN event_type = 'purchase' THEN value
       |      ELSE 0 END) AS x,
       |    COUNT(*) AS y
       |  FROM events GROUP BY 1, 2, 3),
       |pg AS (
       |  SELECT b, g, COUNT(*) AS n, SUM(x) AS sx,
       |    CAST(SUM(y) AS DOUBLE) AS sy
       |  FROM u GROUP BY 1, 2),
       |pa AS (
       |  SELECT b, SUM(n) AS na, SUM(sx) AS tx, SUM(sy) AS ty
       |  FROM pg GROUP BY 1),
       |loo AS (
       |  SELECT pg.b, (pa.tx - pg.sx) / (pa.ty - pg.sy) AS r
       |  FROM pg JOIN pa ON pg.b = pa.b
       |  WHERE pa.ty - pg.sy > 0),
       |jk AS (
       |  SELECT b, COUNT(*) AS bn, VAR_POP(r) AS vr
       |  FROM loo GROUP BY 1),
       |arm AS (
       |  SELECT pa.b, pa.na, jk.bn, pa.tx / pa.ty AS ratio,
       |    sqrt((jk.bn - 1.0) * jk.vr) AS se
       |  FROM pa JOIN jk ON pa.b = jk.b),
       |f AS (
       |  SELECT
       |    MAX(CASE WHEN NOT b THEN na END) AS n_a,
       |    MAX(CASE WHEN b THEN na END) AS n_b,
       |    MAX(CASE WHEN NOT b THEN bn END) AS groups_a,
       |    MAX(CASE WHEN b THEN bn END) AS groups_b,
       |    MAX(CASE WHEN NOT b THEN ratio END) AS ra,
       |    MAX(CASE WHEN b THEN ratio END) AS rb,
       |    MAX(CASE WHEN NOT b THEN se END) AS sea,
       |    MAX(CASE WHEN b THEN se END) AS seb
       |  FROM arm)
       |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       |  CAST(groups_a AS BIGINT) AS groups_a,
       |  CAST(groups_b AS BIGINT) AS groups_b,
       |  ROUND(ra, 6) AS ratio_a, ROUND(rb, 6) AS ratio_b,
       |  ROUND(rb - ra, 6) AS lift,
       |  ROUND(sqrt(sea * sea + seb * seb), 6) AS se_jk,
       |  ROUND(CASE WHEN sea * sea + seb * seb > 0 THEN
       |    (rb - ra) / sqrt(sea * sea + seb * seb) END, 6) AS z,
       |  abs(COALESCE((rb - ra) / sqrt(sea * sea + seb * seb), 0))
       |    > 1.96 AS sig_95
       |FROM f""".stripMargin

  /** Kruskal–Wallis H test (Kruskal & Wallis, JASA 1952) — the
    * k-group generalization of [[mannWhitneyU]]: are the metric
    * distributions across ALL groups plausibly the same? One row:
    * `(n, k_groups, h, h_tie_corrected, df)`; H ~ χ²(k−1) under H₀
    * (compare h_tie_corrected against the χ² critical value for the
    * chosen α — same convention as q286's chi²).
    *
    * Scale shape: the [[mannWhitneyU]] recipe — average ranks from
    * the pooled value-FREQUENCY table (value-cardinality dataflow,
    * never a row-level rank window), per-group rank sums from a
    * (group, value)-cardinality join, one 1-row stat factor. */
  def kruskalWallis(df: DataFrame, group: Column,
      metric: Column): DataFrame = {
    val gv = df.select(group.as("__g"), metric.cast("double").as("__m"))
      .where(col("__g").isNotNull && col("__m").isNotNull)
    val cnt = gv.groupBy("__g", "__m").agg(count(lit(1)).as("__c"))
    val vt = cnt.groupBy("__m").agg(sum("__c").as("__t"))
    val ranked = graft.util.PrefixSum.running(vt, "__m", Seq("__t"))
      .withColumn("__rank", col("__t_cum") - (col("__t") - 1.0) / 2.0)
    val byGroup = cnt.join(ranked.select("__m", "__rank"), "__m")
      .groupBy("__g")
      .agg(sum(col("__rank") * col("__c")).as("__r"),
        sum("__c").as("__n"))
    val tot = vt.agg(sum("__t").as("__tot"),
      // t as DOUBLE before cubing (the mannWhitneyU ANSI lesson)
      sum(col("__t").cast("double") * col("__t") * col("__t") -
        col("__t")).as("__ties"))
    val g = byGroup.crossJoin(broadcast(tot))   // 1-row stat factor
      .agg(
        first("__tot").as("n"),
        count(lit(1)).as("k"),
        sum(col("__r") * col("__r") / col("__n")).as("__s"),
        first("__ties").as("__tt"))
    val nD = col("n").cast("double")
    val h = lit(12.0) / (nD * (nD + 1.0)) * col("__s") -
      (nD + 1.0) * 3.0
    val tieC = lit(1.0) - col("__tt") / (nD * nD * nD - nD)
    g.select(
      col("n").cast("bigint").as("n"),
      col("k").cast("bigint").as("k_groups"),
      round(h, 6).as("h"),
      // fully-tied data degenerates the correction to 0: no evidence
      // either way → 0, not NaN (the mannWhitneyU σ_U convention)
      round(when(tieC > 0.0, h / tieC).otherwise(lit(0.0)), 6)
        .as("h_tie_corrected"),
      (col("k") - 1).cast("bigint").as("df"))
  }

  /** DuckDB oracle for the registered fixture: `value` across
    * `event_type` groups. */
  val kruskalWallisOracleSql: String =
    """WITH gv AS (
      |  SELECT event_type AS g, CAST(value AS DOUBLE) AS m
      |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
      |cnt AS (SELECT g, m, COUNT(*) AS c FROM gv GROUP BY 1, 2),
      |vt AS (SELECT m, SUM(c) AS t FROM cnt GROUP BY 1),
      |r AS (
      |  SELECT m, COALESCE(SUM(t) OVER (ORDER BY m
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    + (t + 1.0) / 2.0 AS rk
      |  FROM vt),
      |bg AS (
      |  SELECT cnt.g, SUM(r.rk * cnt.c) AS rr, SUM(cnt.c) AS n
      |  FROM cnt JOIN r ON cnt.m = r.m GROUP BY 1),
      |tot AS (
      |  SELECT SUM(t) AS nn,
      |    SUM(CAST(t AS DOUBLE) * t * t - t) AS ties
      |  FROM vt),
      |g2 AS (
      |  SELECT CAST((SELECT nn FROM tot) AS DOUBLE) AS nd,
      |    COUNT(*) AS k, SUM(rr * rr / n) AS s,
      |    (SELECT ties FROM tot) AS tt
      |  FROM bg)
      |SELECT CAST(nd AS BIGINT) AS n, CAST(k AS BIGINT) AS k_groups,
      |  ROUND(12.0 / (nd * (nd + 1.0)) * s - (nd + 1.0) * 3.0, 6) AS h,
      |  ROUND(CASE WHEN 1.0 - tt / (nd * nd * nd - nd) > 0.0
      |    THEN (12.0 / (nd * (nd + 1.0)) * s - (nd + 1.0) * 3.0) /
      |      (1.0 - tt / (nd * nd * nd - nd))
      |    ELSE 0.0 END, 6) AS h_tie_corrected,
      |  CAST(k - 1 AS BIGINT) AS df
      |FROM g2""".stripMargin

  /** Cochran–Armitage trend test (Cochran 1954; Armitage 1955) for a
    * binary outcome across ORDERED groups — the question the k-group
    * chi² (q286) cannot answer: not "do conversion rates differ by
    * weekday" but "do they RISE monotonically through the week".
    * Score-test form over the group table: with group scores wᵢ,
    * successes n₁ᵢ of nᵢ, pooled p̄,
    * z = Σwᵢ(n₁ᵢ − nᵢp̄) / √(p̄(1−p̄)(Σnᵢwᵢ² − (Σnᵢwᵢ)²/N)); z ~ N(0,1)
    * under no trend.
    *
    * Scale shape: one grouped agg to the k-row (score, successes,
    * total) table, then single-row arithmetic — the Kruskal–Wallis
    * budget without the rank shuffle, because only the group
    * CONVERSION counts matter. */
  def cochranArmitage(events: DataFrame, score: Column,
      success: Column): DataFrame = {
    val g = events
      .select(score.cast("double").as("__w"),
        when(success, 1L).otherwise(0L).as("__y"))
      .where(col("__w").isNotNull)
      .groupBy("__w")
      .agg(count(lit(1)).as("__n"), sum("__y").as("__n1"))
    g.agg(
        count(lit(1)).as("n_groups"),
        sum("__n").as("n_total"),
        sum("__n1").as("n_success"),
        sum(col("__w") * col("__n1")).as("__sw1"),
        sum(col("__w") * col("__n")).as("__swn"),
        sum(col("__w") * col("__w") * col("__n")).as("__sw2n"))
      .withColumn("__p",
        col("n_success").cast("double") / col("n_total"))
      .withColumn("__num",
        col("__sw1") - col("__swn") * col("__p"))
      .withColumn("__den",
        sqrt(col("__p") * (lit(1.0) - col("__p")) *
          (col("__sw2n") - col("__swn") * col("__swn") /
            col("n_total"))))
      .select(
        col("n_groups"), col("n_total"), col("n_success"),
        round(col("__p"), 6).as("p_pooled"),
        // degenerate all-success/no-success table: no trend testable
        round(when(col("__den") > 0.0, col("__num") / col("__den"))
          .otherwise(0.0), 6).as("z_trend"),
        when(col("__den") > 0.0,
          abs(col("__num") / col("__den")) > 1.959964)
          .otherwise(lit(false)).as("sig_95"))
  }

  /** DuckDB oracle for [[cochranArmitage]] with weekday score and
    * 'purchase' success on events (the q309 registration). DuckDB
    * `dayofweek` is Sunday = 0; Spark is Sunday = 1, hence +1. */
  val cochranArmitageOracleSql: String =
    """WITH g AS (
      |  SELECT CAST(dayofweek(ts) + 1 AS DOUBLE) AS w,
      |    COUNT(*) AS n,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS n1
      |  FROM events GROUP BY 1),
      |a AS (
      |  SELECT COUNT(*) AS n_groups, SUM(n) AS n_total,
      |    SUM(n1) AS n_success,
      |    SUM(w * n1) AS sw1, SUM(w * n) AS swn,
      |    SUM(w * w * n) AS sw2n
      |  FROM g),
      |b AS (
      |  SELECT *, CAST(n_success AS DOUBLE) / n_total AS p,
      |    sw1 - swn * (CAST(n_success AS DOUBLE) / n_total) AS num
      |  FROM a),
      |c AS (
      |  SELECT *,
      |    sqrt(p * (1.0 - p) * (sw2n - swn * swn / n_total)) AS den
      |  FROM b)
      |SELECT n_groups, n_total, n_success,
      |  ROUND(p, 6) AS p_pooled,
      |  ROUND(CASE WHEN den > 0 THEN num / den ELSE 0.0 END, 6)
      |    AS z_trend,
      |  CASE WHEN den > 0 THEN abs(num / den) > 1.959964
      |    ELSE FALSE END AS sig_95
      |FROM c""".stripMargin

  /** McNemar's test (McNemar 1947) on PAIRED user conversion across
    * the two halves of the observed span: each user contributes one
    * (converted-in-H1, converted-in-H2) pair, and only the DISCORDANT
    * cells carry information — χ² = (n₀₁ − n₁₀)²/(n₀₁ + n₁₀) ~ χ²(1).
    * The paired complement to [[welchTTest]]/[[srmCheck]]'s
    * independent-groups tests: week-over-week movement of the SAME
    * users, immune to the user-mix shift that confounds an unpaired
    * comparison of the halves.
    *
    * Scale shape: one grouped agg to user grain (two filtered
    * max-flags), one count-by-cell agg; the span midpoint is a 1-row
    * min/max stat factor. */
  def mcnemar(events: DataFrame,
      success: Column): DataFrame = {
    val span = events.agg(
      to_date(min(col("ts"))).as("__lo"),
      to_date(max(col("ts"))).as("__hi"))
      .withColumn("__mid",
        date_add(col("__lo"),
          floor(datediff(col("__hi"), col("__lo")) / 2).cast("int")))
    val users = events.crossJoin(broadcast(span))   // 1-row stat factor
      .groupBy("user_id")
      .agg(
        max(when(success && to_date(col("ts")) <= col("__mid"), 1L)
          .otherwise(0L)).as("__c1"),
        max(when(success && to_date(col("ts")) > col("__mid"), 1L)
          .otherwise(0L)).as("__c2"))
    val cells = users.agg(
      count(lit(1)).as("n_users"),
      sum(when(col("__c1") === 0L && col("__c2") === 0L, 1L)
        .otherwise(0L)).as("n_00"),
      sum(when(col("__c1") === 0L && col("__c2") === 1L, 1L)
        .otherwise(0L)).as("n_01"),
      sum(when(col("__c1") === 1L && col("__c2") === 0L, 1L)
        .otherwise(0L)).as("n_10"),
      sum(when(col("__c1") === 1L && col("__c2") === 1L, 1L)
        .otherwise(0L)).as("n_11"))
    val disc = (col("n_01") + col("n_10")).cast("double")
    val diff = (col("n_01") - col("n_10")).cast("double")
    cells.select(
      col("n_users"), col("n_00"), col("n_01"), col("n_10"),
      col("n_11"),
      round(when(disc > 0.0, diff * diff / disc).otherwise(0.0), 6)
        .as("chi2"),
      (when(disc > 0.0, diff * diff / disc).otherwise(0.0) >
        3.841459).as("sig_95"))
  }

  /** DuckDB oracle for [[mcnemar]] with 'purchase' success on
    * events. */
  val mcnemarOracleSql: String =
    """WITH span AS (
      |  SELECT CAST(MIN(ts) AS DATE) AS lo, CAST(MAX(ts) AS DATE) AS hi
      |  FROM events),
      |mid AS (
      |  SELECT lo + CAST((hi - lo) // 2 AS INTEGER) AS m FROM span),
      |u AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN event_type = 'purchase'
      |      AND CAST(ts AS DATE) <= m THEN 1 ELSE 0 END) AS c1,
      |    MAX(CASE WHEN event_type = 'purchase'
      |      AND CAST(ts AS DATE) > m THEN 1 ELSE 0 END) AS c2
      |  FROM events, mid GROUP BY 1),
      |cells AS (
      |  SELECT COUNT(*) AS n_users,
      |    SUM(CASE WHEN c1 = 0 AND c2 = 0 THEN 1 ELSE 0 END) AS n_00,
      |    SUM(CASE WHEN c1 = 0 AND c2 = 1 THEN 1 ELSE 0 END) AS n_01,
      |    SUM(CASE WHEN c1 = 1 AND c2 = 0 THEN 1 ELSE 0 END) AS n_10,
      |    SUM(CASE WHEN c1 = 1 AND c2 = 1 THEN 1 ELSE 0 END) AS n_11
      |  FROM u)
      |SELECT n_users, n_00, n_01, n_10, n_11,
      |  ROUND(CASE WHEN n_01 + n_10 > 0
      |    THEN CAST(n_01 - n_10 AS DOUBLE) * (n_01 - n_10)
      |      / (n_01 + n_10) ELSE 0.0 END, 6) AS chi2,
      |  CASE WHEN n_01 + n_10 > 0
      |    THEN CAST(n_01 - n_10 AS DOUBLE) * (n_01 - n_10)
      |      / (n_01 + n_10) ELSE 0.0 END > 3.841459 AS sig_95
      |FROM cells""".stripMargin

  /** TOST equivalence test (Schuirmann, J. Pharmacokinet. 1987) —
    * the question [[welchTTest]] CANNOT answer: "is B the same as A
    * within ±margin?" A non-significant t is NOT evidence of
    * equivalence (absence of evidence); TOST runs two one-sided
    * tests against the margin bounds and declares equivalence only
    * when BOTH reject — the standard A/B guardrail for "the refactor
    * changed nothing". Margin δ = `marginFrac`·|mean_a| (relative,
    * the practical convention); Welch standard error; normal
    * critical value 1.6449 (z approximation, same regime as the
    * panel's other large-n tests). One row `(n_a, n_b, mean_a,
    * mean_b, lift, margin, t_lower, t_upper, equivalent)`.
    *
    * Same single-pass moment dataflow as [[welchTTest]]. */
  def tostEquivalence(units: DataFrame, variant: Column,
      metric: Column, marginFrac: Double = 0.1): DataFrame = {
    val g = units.select(variant.as("__b"), metric.cast("double").as("__m"))
      .where(col("__b").isNotNull && col("__m").isNotNull)
      .groupBy()
      .agg(
        sum(when(!col("__b"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__b"), 1L).otherwise(0L)).as("n_b"),
        avg(when(!col("__b"), col("__m"))).as("__ma"),
        avg(when(col("__b"), col("__m"))).as("__mb"),
        var_samp(when(!col("__b"), col("__m"))).as("__va"),
        var_samp(when(col("__b"), col("__m"))).as("__vb"))
    val se = sqrt(col("__va") / col("n_a") + col("__vb") / col("n_b"))
    val diff = col("__mb") - col("__ma")
    val margin = abs(col("__ma")) * marginFrac
    val tl = (diff + margin) / se
    val tu = (margin - diff) / se
    g.select(
      col("n_a"), col("n_b"),
      round(col("__ma"), 6).as("mean_a"),
      round(col("__mb"), 6).as("mean_b"),
      round(diff, 6).as("lift"),
      round(margin, 6).as("margin"),
      round(tl, 6).as("t_lower"),
      round(tu, 6).as("t_upper"),
      (tl > 1.6448536269514722 && tu > 1.6448536269514722)
        .as("equivalent"))
  }

  /** Cohen's d standardized mean difference (Cohen 1988 §2.2) with
    * Hedges' g small-sample correction (Hedges, J. Educ. Stat.
    * 1981): the continuous-metric effect size beside [[cohensH]]
    * (proportions) and Cliff's δ (ordinal) — [[welchTTest]] says the
    * means differ, d says by how many pooled standard deviations,
    * the unit meta-analyses and power calculations actually use.
    * One row `(n_a, n_b, mean_a, mean_b, pooled_sd, cohens_d,
    * hedges_g, magnitude)`.
    *
    * Same single-pass moment dataflow as [[welchTTest]]. */
  def cohensD(units: DataFrame, variant: Column,
      metric: Column): DataFrame = {
    val g = units.select(variant.as("__b"), metric.cast("double").as("__m"))
      .where(col("__b").isNotNull && col("__m").isNotNull)
      .groupBy()
      .agg(
        sum(when(!col("__b"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__b"), 1L).otherwise(0L)).as("n_b"),
        avg(when(!col("__b"), col("__m"))).as("__ma"),
        avg(when(col("__b"), col("__m"))).as("__mb"),
        var_samp(when(!col("__b"), col("__m"))).as("__va"),
        var_samp(when(col("__b"), col("__m"))).as("__vb"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val sp = sqrt(((na - 1.0) * col("__va") + (nb - 1.0) *
      col("__vb")) / (na + nb - 2.0))
    val d = (col("__mb") - col("__ma")) / sp
    val corr = lit(1.0) - lit(3.0) / ((na + nb) * 4.0 - 9.0)
    g.select(
      col("n_a"), col("n_b"),
      round(col("__ma"), 6).as("mean_a"),
      round(col("__mb"), 6).as("mean_b"),
      round(sp, 6).as("pooled_sd"),
      round(when(sp > 0.0, d), 6).as("cohens_d"),
      round(when(sp > 0.0, d * corr), 6).as("hedges_g"),
      when(abs(d) < 0.2, "negligible")
        .when(abs(d) < 0.5, "small")
        .when(abs(d) < 0.8, "medium")
        .otherwise("large").as("magnitude"))
  }

  /** DuckDB oracle for [[cohensD]] on the q248 per-user
    * purchase-value fixture (variant = odd user id). */
  val cohensDOracleSql: String =
    """WITH u AS (
      |  SELECT user_id % 2 = 1 AS b, SUM(value) AS m
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY user_id),
      |g AS (
      |  SELECT
      |    SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) AS n_a,
      |    SUM(CASE WHEN b THEN 1 ELSE 0 END) AS n_b,
      |    AVG(CASE WHEN NOT b THEN m END) AS ma,
      |    AVG(CASE WHEN b THEN m END) AS mb,
      |    VAR_SAMP(CASE WHEN NOT b THEN m END) AS va,
      |    VAR_SAMP(CASE WHEN b THEN m END) AS vb
      |  FROM u),
      |f AS (
      |  SELECT *, CAST(n_a AS DOUBLE) AS na,
      |    CAST(n_b AS DOUBLE) AS nb
      |  FROM g),
      |s AS (
      |  SELECT *,
      |    SQRT(((na - 1.0) * va + (nb - 1.0) * vb) /
      |      (na + nb - 2.0)) AS sp
      |  FROM f),
      |d AS (
      |  SELECT *, (mb - ma) / sp AS dd,
      |    1.0 - 3.0 / ((na + nb) * 4.0 - 9.0) AS corr
      |  FROM s)
      |SELECT CAST(n_a AS BIGINT) AS n_a,
      |  CAST(n_b AS BIGINT) AS n_b,
      |  ROUND(ma, 6) AS mean_a, ROUND(mb, 6) AS mean_b,
      |  ROUND(sp, 6) AS pooled_sd,
      |  ROUND(CASE WHEN sp > 0 THEN dd END, 6) AS cohens_d,
      |  ROUND(CASE WHEN sp > 0 THEN dd * corr END, 6) AS hedges_g,
      |  CASE WHEN ABS(dd) < 0.2 THEN 'negligible'
      |    WHEN ABS(dd) < 0.5 THEN 'small'
      |    WHEN ABS(dd) < 0.8 THEN 'medium'
      |    ELSE 'large' END AS magnitude
      |FROM d""".stripMargin

  /** Cohen's h effect size for two proportions (Cohen, "Statistical
    * Power Analysis" 1988 §6.2): h = 2·arcsin√p₁ − 2·arcsin√p₂ on
    * the variance-stabilizing arcsine scale — the number that makes
    * 1% vs 2% (huge) and 50% vs 51% (negligible) commensurable,
    * which a raw difference never is. The proportions panel's
    * counterpart of Cliff's δ (q348): q255's SRM χ² says WHETHER the
    * split is off, h says HOW MUCH in power-analysis units, read
    * against Cohen's 0.2/0.5/0.8 bands. One row `(n_a, n_b, conv_a,
    * conv_b, p_a, p_b, h, magnitude)`.
    *
    * ONE grouped count pass; everything else is closed-form. */
  def cohensH(units: DataFrame, variant: Column,
      success: Column): DataFrame = {
    val g = units.select(variant.as("__b"), success.as("__s"))
      .where(col("__b").isNotNull && col("__s").isNotNull)
      .agg(
        sum(when(!col("__b"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__b"), 1L).otherwise(0L)).as("n_b"),
        sum(when(!col("__b") && col("__s"), 1L).otherwise(0L))
          .as("conv_a"),
        sum(when(col("__b") && col("__s"), 1L).otherwise(0L))
          .as("conv_b"))
    val pa = col("conv_a").cast("double") / col("n_a")
    val pb = col("conv_b").cast("double") / col("n_b")
    val h = asin(sqrt(pa)) * 2.0 - asin(sqrt(pb)) * 2.0
    g.select(
      col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
      round(pa, 6).as("p_a"),
      round(pb, 6).as("p_b"),
      round(h, 6).as("h"),
      when(abs(h) < 0.2, "negligible")
        .when(abs(h) < 0.5, "small")
        .when(abs(h) < 0.8, "medium")
        .otherwise("large").as("magnitude"))
  }

  /** DuckDB oracle for [[cohensH]] on per-user purchase conversion
    * (variant = odd user id). */
  val cohensHOracleSql: String =
    """WITH u AS (
      |  SELECT user_id % 2 = 1 AS b,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      = 1 AS s
      |  FROM events GROUP BY user_id),
      |g AS (
      |  SELECT
      |    SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) AS n_a,
      |    SUM(CASE WHEN b THEN 1 ELSE 0 END) AS n_b,
      |    SUM(CASE WHEN NOT b AND s THEN 1 ELSE 0 END) AS conv_a,
      |    SUM(CASE WHEN b AND s THEN 1 ELSE 0 END) AS conv_b
      |  FROM u),
      |f AS (
      |  SELECT *, CAST(conv_a AS DOUBLE) / n_a AS pa,
      |    CAST(conv_b AS DOUBLE) / n_b AS pb
      |  FROM g),
      |h AS (
      |  SELECT *, ASIN(SQRT(pa)) * 2.0 - ASIN(SQRT(pb)) * 2.0 AS hh
      |  FROM f)
      |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      |  CAST(conv_a AS BIGINT) AS conv_a,
      |  CAST(conv_b AS BIGINT) AS conv_b,
      |  ROUND(pa, 6) AS p_a, ROUND(pb, 6) AS p_b,
      |  ROUND(hh, 6) AS h,
      |  CASE WHEN ABS(hh) < 0.2 THEN 'negligible'
      |    WHEN ABS(hh) < 0.5 THEN 'small'
      |    WHEN ABS(hh) < 0.8 THEN 'medium'
      |    ELSE 'large' END AS magnitude
      |FROM h""".stripMargin

  /** DuckDB oracle for [[tostEquivalence]] on the q248 per-user
    * purchase-value fixture (variant = odd user id, margin 10%). */
  val tostOracleSql: String =
    """WITH u AS (
      |  SELECT user_id % 2 = 1 AS b, SUM(value) AS m
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY user_id),
      |g AS (
      |  SELECT
      |    SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) AS n_a,
      |    SUM(CASE WHEN b THEN 1 ELSE 0 END) AS n_b,
      |    AVG(CASE WHEN NOT b THEN m END) AS ma,
      |    AVG(CASE WHEN b THEN m END) AS mb,
      |    VAR_SAMP(CASE WHEN NOT b THEN m END) AS va,
      |    VAR_SAMP(CASE WHEN b THEN m END) AS vb
      |  FROM u),
      |f AS (
      |  SELECT *, SQRT(va / n_a + vb / n_b) AS se,
      |    mb - ma AS diff, ABS(ma) * 0.1 AS margin
      |  FROM g)
      |SELECT CAST(n_a AS BIGINT) AS n_a,
      |  CAST(n_b AS BIGINT) AS n_b,
      |  ROUND(ma, 6) AS mean_a, ROUND(mb, 6) AS mean_b,
      |  ROUND(diff, 6) AS lift, ROUND(margin, 6) AS margin,
      |  ROUND((diff + margin) / se, 6) AS t_lower,
      |  ROUND((margin - diff) / se, 6) AS t_upper,
      |  (diff + margin) / se > 1.6448536269514722 AND
      |    (margin - diff) / se > 1.6448536269514722 AS equivalent
      |FROM f""".stripMargin

  /** Wilson score intervals (Wilson, JASA 1927) for a per-slice
    * conversion proportion — the interval every rate LEADERBOARD
    * should carry instead of the Wald ±z√(p(1−p)/n) it usually does:
    * Wald collapses to zero width at p̂ ∈ {0,1} and escapes [0,1] at
    * small n, exactly the slices a leaderboard sorts to the top;
    * Wilson inverts the score test instead, staying inside [0,1]
    * with correct coverage at any n. Per-slice row
    * `(slice, n, conv, p_hat, ci_lo, ci_hi)`, ordered.
    *
    * Scale shape: ONE grouped conditional count to slice cardinality,
    * then closed-form scalar arithmetic per row. */
  def wilsonIntervals(df: DataFrame, slice: Column,
      success: Column): DataFrame = {
    val z = 1.959964
    val g = df.select(slice.as("slice"), success.cast("boolean").as("__s"))
      .where(col("slice").isNotNull && col("__s").isNotNull)
      .groupBy("slice")
      .agg(count(lit(1)).as("n"),
        sum(when(col("__s"), 1L).otherwise(0L)).as("conv"))
    val nD = col("n").cast("double")
    val p = col("conv").cast("double") / nD
    val denom = lit(1.0) + lit(z * z) / nD
    val center = (p + lit(z * z) / (nD * 2.0)) / denom
    val half = lit(z) * sqrt(p * (lit(1.0) - p) / nD +
      lit(z * z) / (nD * nD * 4.0)) / denom
    g.select(
        col("slice"), col("n"), col("conv"),
        round(p, 6).as("p_hat"),
        round(center - half, 6).as("ci_lo"),
        round(center + half, 6).as("ci_hi"))
      .orderBy("slice")
  }

  /** DuckDB oracle for the registered Wilson fixture: per-weekday
    * purchase share (Spark dayofweek Sun=1 mirrored as DuckDB
    * dayofweek + 1). */
  val wilsonOracleSql: String =
    """WITH g AS (
      |  SELECT dayofweek(ts) + 1 AS slice, COUNT(*) AS n,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS conv
      |  FROM events GROUP BY 1),
      |f AS (
      |  SELECT slice, n, conv,
      |    CAST(conv AS DOUBLE) / n AS p,
      |    1.0 + 1.959964 * 1.959964 / n AS den
      |  FROM g)
      |SELECT CAST(slice AS BIGINT) AS slice, CAST(n AS BIGINT) AS n,
      |  CAST(conv AS BIGINT) AS conv,
      |  ROUND(p, 6) AS p_hat,
      |  ROUND((p + 1.959964 * 1.959964 / (CAST(n AS DOUBLE) * 2.0))
      |      / den
      |    - 1.959964 * SQRT(p * (1.0 - p) / n +
      |        1.959964 * 1.959964 /
      |        (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 4.0)) / den,
      |    6) AS ci_lo,
      |  ROUND((p + 1.959964 * 1.959964 / (CAST(n AS DOUBLE) * 2.0))
      |      / den
      |    + 1.959964 * SQRT(p * (1.0 - p) / n +
      |        1.959964 * 1.959964 /
      |        (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 4.0)) / den,
      |    6) AS ci_hi
      |FROM f ORDER BY slice""".stripMargin

  /** Hodges–Lehmann shift estimator (Hodges & Lehmann, Ann. Math.
    * Stat. 1963) between two cohorts' DAILY revenue series — the
    * robust "how big is the shift" companion to Mann–Whitney's "is
    * there one" (q249): the median of all cross-pair differences
    * B − A estimates the location shift with 50% breakdown-free
    * efficiency ~0.955 vs the mean under normality, and unlike
    * mean_B − mean_A one whale day cannot move it.
    *
    * Scale shape: the pair grid is DAYS², calendar-bounded forever
    * (the Theil–Sen precedent) — the corpus is touched once by the
    * daily agg. Exact interpolated median over the pair table, the
    * same convention both engines share (brownForsythe precedent).
    * One row `(n_a, n_b, n_pairs, hl_shift)`. */
  def hodgesLehmann(events: DataFrame, inB: Column): DataFrame = {
    val daily = events
      .select(to_date(col("ts")).as("d"), col("value"),
        inB.as("__b"))
      .groupBy("d", "__b").agg(sum("value").as("y"))
    val a = daily.where(!col("__b")).select(col("y").as("ya"))
    val b = daily.where(col("__b")).select(col("y").as("yb"))
    val na = a.agg(count(lit(1)).as("n_a"))
    val nb = b.agg(count(lit(1)).as("n_b"))
    val pairs = a.crossJoin(b)   // days² — calendar-bounded
      .select((col("yb") - col("ya")).as("diff"))
    pairs.agg(count(lit(1)).as("n_pairs"),
        expr("percentile(diff, 0.5)").as("__hl"))
      .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .select(col("n_a"), col("n_b"), col("n_pairs"),
        round(col("__hl"), 6).as("hl_shift"))
  }

  /** DuckDB oracle for the registered H–L fixture: weekend vs
    * weekday daily revenue (the q295/q378 cohort split at day
    * grain). DuckDB's `quantile_cont(0.5)` interpolates identically
    * to Spark's exact `percentile`. */
  val hodgesLehmannOracleSql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS d,
      |    dayofweek(ts) IN (0, 6) AS b, SUM(value) AS y
      |  FROM events GROUP BY 1, 2),
      |a AS (SELECT y AS ya FROM daily WHERE NOT b),
      |bb AS (SELECT y AS yb FROM daily WHERE b),
      |p AS (SELECT yb - ya AS diff FROM a CROSS JOIN bb)
      |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS n_a,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM bb) AS n_b,
      |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  ROUND(quantile_cont(diff, 0.5), 6) AS hl_shift
      |FROM p""".stripMargin
}
