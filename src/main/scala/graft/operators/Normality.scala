package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.PrefixSum

/** Jarque–Bera normality test (Jarque & Bera, Economics Letters
  * 1980): JB = n/6 · (S² + (K−3)²/4) from the sample skewness S and
  * kurtosis K — the moment-based normality check that gates every
  * "±1.96σ" readout this engine emits (control charts, Welch
  * intervals, z-scored anomaly flags assume the tails are roughly
  * Gaussian; JB is the one-row audit that says whether they are).
  * Asymptotically χ²(2) under normality; sig_95 against 5.991465.
  *
  * Scale shape: ONE aggregate pass collecting Σx..Σx⁴ (map-side
  * combined), central moments by the standard raw-moment expansion —
  * no second scan, no sort. One row
  * `(n, mean, skewness, kurtosis, jb, sig_95)`. */
object Normality {

  def jarqueBera(df: DataFrame, metric: Column): DataFrame = {
    val g = df.select(metric.cast("double").as("x"))
      .where(col("x").isNotNull)
      .agg(count(lit(1)).as("n"), sum("x").as("__s1"),
        sum(col("x") * col("x")).as("__s2"),
        sum(col("x") * col("x") * col("x")).as("__s3"),
        sum(col("x") * col("x") * col("x") * col("x")).as("__s4"))
    val n = col("n").cast("double")
    val mu = col("__s1") / n
    // central moments via the raw-moment expansion, one pass
    val m2 = col("__s2") / n - mu * mu
    val m3 = col("__s3") / n - mu * (col("__s2") / n) * 3.0 +
      mu * mu * mu * 2.0
    val m4 = col("__s4") / n - mu * (col("__s3") / n) * 4.0 +
      mu * mu * (col("__s2") / n) * 6.0 - mu * mu * mu * mu * 3.0
    val skew = m3 / pow(m2, 1.5)
    val kurt = m4 / (m2 * m2)
    val jb = n / 6.0 * (skew * skew +
      (kurt - 3.0) * (kurt - 3.0) / 4.0)
    g.select(
      col("n"),
      round(mu, 6).as("mean"),
      round(when(m2 > 0.0, skew), 6).as("skewness"),
      round(when(m2 > 0.0, kurt), 6).as("kurtosis"),
      round(when(m2 > 0.0, jb), 6).as("jb"),
      when(m2 > 0.0, jb > 5.991465).otherwise(lit(false))
        .as("sig_95"))
  }

  /** Abramowitz & Stegun 26.2.17 standard-normal CDF as a Column —
    * |error| < 7.5e-8, IDENTICAL polynomial on the oracle side, so
    * both engines compute the same Φ to the last ulp-or-two. */
  private def normCdf(z: Column): Column = {
    val az = abs(z)
    val t = lit(1.0) / (lit(1.0) + az * 0.2316419)
    val poly = t * (lit(0.319381530) + t * (lit(-0.356563782) +
      t * (lit(1.781477937) + t * (lit(-1.821255978) +
        t * lit(1.330274429)))))
    val upper = exp(az * az * -0.5) * 0.3989422804014327 * poly
    when(z >= 0.0, lit(1.0) - upper).otherwise(upper)
  }

  /** Lilliefors-style ECDF normality test (Lilliefors, JASA 1967):
    * D = sup|ECDF(x) − Φ((x−x̄)/s)| with mean and sd ESTIMATED from
    * the data — the composite-hypothesis case where the plain KS
    * critical values are wrong, compared against Lilliefors'
    * large-n 5% approximation 0.886/√n. The ECDF-based complement
    * of [[jarqueBera]]: JB sees tails through moments (one outlier
    * moves it), D sees the whole CDF shape. One row
    * `(n, mean, sd, d_stat, d_crit_95, sig_95)`.
    *
    * Scale shape: one moment pass, then the sup over the VALUE-
    * FREQUENCY table (distinct values, running counts from
    * [[PrefixSum]] — the q178 KS recipe; both D⁺ and D⁻ corners of the step function).
    * Φ via a fixed polynomial shared verbatim with the oracle. */
  def lilliefors(df: DataFrame, metric: Column): DataFrame = {
    val vals = df.select(metric.cast("double").as("x"))
      .where(col("x").isNotNull)
    val m = vals.agg(count(lit(1)).as("__n"), avg("x").as("__mu"),
      stddev_samp(col("x")).as("__sd"))
    val freq = vals.groupBy("x").agg(count(lit(1)).as("__c"))
    val ecdf = PrefixSum.running(freq, "x", Seq("__c"))
      .crossJoin(broadcast(m))   // 1-row moment factor
    val n = col("__n").cast("double")
    val phi = normCdf((col("x") - col("__mu")) / col("__sd"))
    val dPlus = col("__c_cum") / n - phi
    val dMinus = phi - (col("__c_cum") - col("__c")) / n
    val s = ecdf.agg(first("__n").as("__n"), first("__mu").as("__mu"),
      first("__sd").as("__sd"),
      max(greatest(dPlus, dMinus)).as("__d"))
    val crit = lit(0.886) / sqrt(col("__n").cast("double"))
    s.select(
      col("__n").cast("bigint").as("n"),
      round(col("__mu"), 6).as("mean"),
      round(col("__sd"), 6).as("sd"),
      round(col("__d"), 6).as("d_stat"),
      round(crit, 6).as("d_crit_95"),
      (col("__d") > crit).as("sig_95"))
  }

  /** DuckDB oracle for [[lilliefors]] on a named table/metric. */
  def lillieforsOracleSql(table: String, metric: String): String =
    s"""WITH vals AS (
       |  SELECT CAST($metric AS DOUBLE) AS x FROM $table
       |  WHERE $metric IS NOT NULL),
       |m AS (
       |  SELECT COUNT(*) AS n, AVG(x) AS mu, STDDEV_SAMP(x) AS sd
       |  FROM vals),
       |freq AS (
       |  SELECT x, COUNT(*) AS c FROM vals GROUP BY 1),
       |ecdf AS (
       |  SELECT x, c, SUM(c) OVER (ORDER BY x
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM freq),
       |phi AS (
       |  SELECT ecdf.*, m.n, m.mu, m.sd,
       |    CASE WHEN (x - mu) / sd >= 0
       |      THEN 1.0 - EXP(ABS((x - mu) / sd) *
       |          ABS((x - mu) / sd) * -0.5) * 0.3989422804014327 *
       |        ((1.0 / (1.0 + ABS((x - mu) / sd) * 0.2316419)) *
       |         (0.319381530 +
       |          (1.0 / (1.0 + ABS((x - mu) / sd) * 0.2316419)) *
       |          (-0.356563782 +
       |           (1.0 / (1.0 + ABS((x - mu) / sd) * 0.2316419)) *
       |           (1.781477937 +
       |            (1.0 / (1.0 + ABS((x - mu) / sd) * 0.2316419)) *
       |            (-1.821255978 +
       |             (1.0 / (1.0 + ABS((x - mu) / sd) * 0.2316419)) *
       |             1.330274429)))))
       |      ELSE EXP(ABS((x - mu) / sd) *
       |          ABS((x - mu) / sd) * -0.5) * 0.3989422804014327 *
       |        ((1.0 / (1.0 + ABS((x - mu) / sd) * 0.2316419)) *
       |         (0.319381530 +
       |          (1.0 / (1.0 + ABS((x - mu) / sd) * 0.2316419)) *
       |          (-0.356563782 +
       |           (1.0 / (1.0 + ABS((x - mu) / sd) * 0.2316419)) *
       |           (1.781477937 +
       |            (1.0 / (1.0 + ABS((x - mu) / sd) * 0.2316419)) *
       |            (-1.821255978 +
       |             (1.0 / (1.0 + ABS((x - mu) / sd) * 0.2316419)) *
       |             1.330274429)))))
       |      END AS p
       |  FROM ecdf CROSS JOIN m),
       |s AS (
       |  SELECT ANY_VALUE(n) AS n, ANY_VALUE(mu) AS mu,
       |    ANY_VALUE(sd) AS sd,
       |    MAX(GREATEST(cum / CAST(n AS DOUBLE) - p,
       |      p - (cum - c) / CAST(n AS DOUBLE))) AS d
       |  FROM phi)
       |SELECT CAST(n AS BIGINT) AS n,
       |  ROUND(mu, 6) AS mean, ROUND(sd, 6) AS sd,
       |  ROUND(d, 6) AS d_stat,
       |  ROUND(0.886 / SQRT(CAST(n AS DOUBLE)), 6) AS d_crit_95,
       |  d > 0.886 / SQRT(CAST(n AS DOUBLE)) AS sig_95
       |FROM s""".stripMargin

  /** D'Agostino–Pearson K² omnibus normality test (D'Agostino,
    * Biometrika 1970; Anscombe & Glynn 1983; D'Agostino, Belanger &
    * D'Agostino Jr., Am. Stat. 1990) — the FINITE-n refinement of
    * [[jarqueBera]]: JB compares raw S²/K² against their asymptotic
    * normal limits, which is badly anticonservative below n ≈ 2000;
    * K² first NORMALIZES skewness through the Johnson-SU transform
    * and kurtosis through the Anscombe–Glynn cube-root transform
    * (both exact closed forms in n), then sums the two z² — χ²(2)
    * holding at practical sample sizes. All constants and transforms
    * are replayed verbatim on the oracle side.
    *
    * Same scale shape as JB: ONE Σx..Σx⁴ aggregate pass, scalar
    * arithmetic on the 1-row result. One row `(n, skewness,
    * kurtosis, z_skew, z_kurt, k2, sig_95)`; NULL family when n ≤ 8
    * (the transforms' validity floor) or the variance degenerates. */
  def dagostinoK2(df: DataFrame, metric: Column): DataFrame = {
    val g = df.select(metric.cast("double").as("x"))
      .where(col("x").isNotNull)
      .agg(count(lit(1)).as("n"), sum("x").as("__s1"),
        sum(col("x") * col("x")).as("__s2"),
        sum(col("x") * col("x") * col("x")).as("__s3"),
        sum(col("x") * col("x") * col("x") * col("x")).as("__s4"))
    // every intermediate is its own column: inlined into one projection
    // the transforms repeat mu..m4 so often that the generated method
    // outgrows what Janino compiles (codegen then falls back). Past m2
    // each stage is guarded by `ok`, as the inlined form was by the
    // output's `when(ok, ...)` (ANSI division by zero otherwise throws)
    val n = col("n").cast("double")
    val Seq(mu, m2, m3, m4, g1, b2, y, w2, z1, xx, aa, z2) =
      Seq("mu", "m2", "m3", "m4", "g1", "b2", "y", "w2", "z1", "xx", "aa",
        "z2").map(c => col(s"__$c"))
    val beta2 = lit(3.0) * (n * n + n * 27.0 - 70.0) * (n + 1.0) *
      (n + 3.0) / ((n - 2.0) * (n + 5.0) * (n + 7.0) * (n + 9.0))
    val eb2 = lit(3.0) * (n - 1.0) / (n + 1.0)
    val vb2 = lit(24.0) * n * (n - 2.0) * (n - 3.0) /
      ((n + 1.0) * (n + 1.0) * (n + 3.0) * (n + 5.0))
    val sb1 = lit(6.0) * (n * n - n * 5.0 + 2.0) /
      ((n + 7.0) * (n + 9.0)) *
      sqrt(lit(6.0) * (n + 3.0) * (n + 5.0) /
        (n * (n - 2.0) * (n - 3.0)))
    val ok = col("__ok")
    val staged = Seq(
      "__m3" -> (col("__s3") / n - mu * (col("__s2") / n) * 3.0 +
        mu * mu * mu * 2.0),
      "__m4" -> (col("__s4") / n - mu * (col("__s3") / n) * 4.0 +
        mu * mu * (col("__s2") / n) * 6.0 - mu * mu * mu * mu * 3.0),
      "__g1" -> m3 / pow(m2, 1.5),
      "__b2" -> m4 / (m2 * m2),
      // skewness z (Johnson SU, D'Agostino 1970)
      "__y" -> g1 * sqrt((n + 1.0) * (n + 3.0) / ((n - 2.0) * 6.0)),
      "__w2" -> (sqrt((beta2 - 1.0) * 2.0) - 1.0),
      "__z1" -> {
        val dlt = lit(1.0) / sqrt(log(sqrt(w2)))
        val alp = sqrt(lit(2.0) / (w2 - 1.0))
        dlt * log(y / alp + sqrt((y / alp) * (y / alp) + 1.0))
      },
      // kurtosis z (Anscombe–Glynn 1983)
      "__xx" -> (b2 - eb2) / sqrt(vb2),
      "__aa" -> (lit(6.0) + lit(8.0) / sb1 *
        (lit(2.0) / sb1 + sqrt(lit(1.0) + lit(4.0) / (sb1 * sb1)))),
      "__z2" -> ((lit(1.0) - lit(2.0) / (aa * 9.0)) -
        cbrt((lit(1.0) - lit(2.0) / aa) /
          (lit(1.0) + xx * sqrt(lit(2.0) / (aa - 4.0))))) /
        sqrt(lit(2.0) / (aa * 9.0))
    ).foldLeft(g
      .withColumn("__mu", col("__s1") / n)
      .withColumn("__m2", col("__s2") / n - mu * mu)
      .withColumn("__ok", m2 > 0.0 && col("n") > 8)) {
      case (d, (c, e)) => d.withColumn(c, when(ok, e))
    }
    val k2 = z1 * z1 + z2 * z2
    staged.select(
      col("n"),
      round(when(ok, g1), 6).as("skewness"),
      round(when(ok, b2), 6).as("kurtosis"),
      round(when(ok, z1), 6).as("z_skew"),
      round(when(ok, z2), 6).as("z_kurt"),
      round(when(ok, k2), 6).as("k2"),
      when(ok, k2 > 5.991465).otherwise(lit(false)).as("sig_95"))
  }

  /** DuckDB oracle for [[dagostinoK2]] on a named table/metric. */
  def dagostinoOracleSql(table: String, metric: String): String =
    s"""WITH g AS (
       |  SELECT COUNT(*) AS n, SUM(x) AS s1, SUM(x * x) AS s2,
       |    SUM(x * x * x) AS s3, SUM(x * x * x * x) AS s4
       |  FROM (SELECT CAST($metric AS DOUBLE) AS x FROM $table
       |        WHERE $metric IS NOT NULL)),
       |f AS (
       |  SELECT CAST(n AS BIGINT) AS n, CAST(n AS DOUBLE) AS nd,
       |    s1, s2, s3, s4, s1 / n AS mu
       |  FROM g),
       |m AS (
       |  SELECT n, nd, mu,
       |    s2 / nd - mu * mu AS m2,
       |    s3 / nd - mu * (s2 / nd) * 3.0 + mu * mu * mu * 2.0
       |      AS m3,
       |    s4 / nd - mu * (s3 / nd) * 4.0 +
       |      mu * mu * (s2 / nd) * 6.0 - mu * mu * mu * mu * 3.0
       |      AS m4
       |  FROM f),
       |s AS (
       |  SELECT n, nd, m2,
       |    m3 / POW(m2, 1.5) AS g1,
       |    m4 / (m2 * m2) AS b2
       |  FROM m),
       |zs AS (
       |  SELECT *,
       |    g1 * SQRT((nd + 1.0) * (nd + 3.0) / (6.0 * (nd - 2.0)))
       |      AS y,
       |    SQRT((3.0 * (nd * nd + nd * 27.0 - 70.0) * (nd + 1.0) *
       |      (nd + 3.0) / ((nd - 2.0) * (nd + 5.0) * (nd + 7.0) *
       |      (nd + 9.0)) - 1.0) * 2.0) - 1.0 AS w2
       |  FROM s),
       |z1c AS (
       |  SELECT *,
       |    (1.0 / SQRT(LN(SQRT(w2)))) *
       |      LN(y / SQRT(2.0 / (w2 - 1.0)) +
       |        SQRT((y / SQRT(2.0 / (w2 - 1.0))) *
       |          (y / SQRT(2.0 / (w2 - 1.0))) + 1.0)) AS z1
       |  FROM zs),
       |z2p AS (
       |  SELECT *,
       |    (b2 - 3.0 * (nd - 1.0) / (nd + 1.0)) /
       |      SQRT(24.0 * nd * (nd - 2.0) * (nd - 3.0) /
       |        ((nd + 1.0) * (nd + 1.0) * (nd + 3.0) * (nd + 5.0)))
       |      AS xx,
       |    6.0 * (nd * nd - nd * 5.0 + 2.0) /
       |      ((nd + 7.0) * (nd + 9.0)) *
       |      SQRT(6.0 * (nd + 3.0) * (nd + 5.0) /
       |        (nd * (nd - 2.0) * (nd - 3.0))) AS sb1
       |  FROM z1c),
       |z2c AS (
       |  SELECT *,
       |    6.0 + 8.0 / sb1 *
       |      (2.0 / sb1 + SQRT(1.0 + 4.0 / (sb1 * sb1))) AS aa
       |  FROM z2p),
       |z2f AS (
       |  SELECT *,
       |    ((1.0 - 2.0 / (aa * 9.0)) -
       |      CBRT((1.0 - 2.0 / aa) /
       |        (1.0 + xx * SQRT(2.0 / (aa - 4.0))))) /
       |      SQRT(2.0 / (aa * 9.0)) AS z2
       |  FROM z2c),
       |k AS (
       |  SELECT *, z1 * z1 + z2 * z2 AS k2,
       |    m2 > 0 AND n > 8 AS ok
       |  FROM z2f)
       |SELECT n,
       |  ROUND(CASE WHEN ok THEN g1 END, 6) AS skewness,
       |  ROUND(CASE WHEN ok THEN b2 END, 6) AS kurtosis,
       |  ROUND(CASE WHEN ok THEN z1 END, 6) AS z_skew,
       |  ROUND(CASE WHEN ok THEN z2 END, 6) AS z_kurt,
       |  ROUND(CASE WHEN ok THEN k2 END, 6) AS k2,
       |  CASE WHEN ok THEN k2 > 5.991465 ELSE FALSE END AS sig_95
       |FROM k""".stripMargin

  /** DuckDB oracle for [[jarqueBera]] on a named table/metric. */
  def jarqueBeraOracleSql(table: String, metric: String): String =
    s"""WITH g AS (
       |  SELECT COUNT(*) AS n, SUM(x) AS s1, SUM(x * x) AS s2,
       |    SUM(x * x * x) AS s3, SUM(x * x * x * x) AS s4
       |  FROM (SELECT CAST($metric AS DOUBLE) AS x FROM $table
       |        WHERE $metric IS NOT NULL)),
       |f AS (
       |  SELECT CAST(n AS BIGINT) AS n, CAST(n AS DOUBLE) AS nd,
       |    s1, s2, s3, s4, s1 / n AS mu
       |  FROM g),
       |m AS (
       |  SELECT n, nd, mu,
       |    s2 / nd - mu * mu AS m2,
       |    s3 / nd - mu * (s2 / nd) * 3.0 + mu * mu * mu * 2.0
       |      AS m3,
       |    s4 / nd - mu * (s3 / nd) * 4.0 +
       |      mu * mu * (s2 / nd) * 6.0 - mu * mu * mu * mu * 3.0
       |      AS m4
       |  FROM f),
       |s AS (
       |  SELECT n, mu, m2,
       |    m3 / POW(m2, 1.5) AS skew,
       |    m4 / (m2 * m2) AS kurt
       |  FROM m),
       |j AS (
       |  SELECT *, CAST(n AS DOUBLE) / 6.0 * (skew * skew +
       |    (kurt - 3.0) * (kurt - 3.0) / 4.0) AS jb
       |  FROM s)
       |SELECT n, ROUND(mu, 6) AS mean,
       |  ROUND(CASE WHEN m2 > 0 THEN skew END, 6) AS skewness,
       |  ROUND(CASE WHEN m2 > 0 THEN kurt END, 6) AS kurtosis,
       |  ROUND(CASE WHEN m2 > 0 THEN jb END, 6) AS jb,
       |  CASE WHEN m2 > 0 THEN jb > 5.991465 ELSE FALSE END
       |    AS sig_95
       |FROM j""".stripMargin

  /** Anderson–Darling one-sample normality test with estimated
    * parameters (Anderson & Darling, Ann. Math. Stat. 1952;
    * Stephens, JASA 1974 case 3): A² = −n − (1/n)·Σᵢ(2i−1)·
    * [ln Φ(z₍ᵢ₎) + ln(1−Φ(z₍ₙ₊₁₋ᵢ₎))] — the TAIL-WEIGHTED member of
    * the normality shelf: [[jarqueBera]] reads 4 moments,
    * [[lilliefors]] reads the one worst CDF gap, A² integrates the
    * squared gap weighted by 1/(Φ(1−Φ)), so heavy tails move it
    * first. Small-sample correction A²* = A²(1 + 0.75/n + 2.25/n²);
    * 5% critical value 0.752.
    *
    * The order-statistic sum is computed per DISTINCT value via the
    * rank-stair closed forms (the watsonU2 trick): a tie run ending
    * at cumulative rank b with count c contributes S₁ = b² − a₀² to
    * Σ(2i−1) and S₂ = 2cn − S₁ to the reflected sum — so the corpus
    * is touched once and the test runs over the value-frequency
    * table. Φ by the same shared A&S 26.2.17 polynomial as
    * [[lilliefors]], clamped away from {0,1} before the log (both
    * engines identically). One row
    * `(n, mean, sd, a2, a2_star, sig_95)`. */
  def adNormality(df: DataFrame, metric: Column): DataFrame = {
    val vals = df.select(metric.cast("double").as("x"))
      .where(col("x").isNotNull)
    val m = vals.agg(count(lit(1)).as("__n"), avg("x").as("__mu"),
      stddev_samp(col("x")).as("__sd"))
    val freq = vals.groupBy("x").agg(count(lit(1)).as("__c"))
    val ecdf = PrefixSum.running(freq, "x", Seq("__c"))
      .crossJoin(broadcast(m))   // 1-row moment factor
    val n = col("__n").cast("double")
    val b = col("__c_cum").cast("double")
    val a0 = (col("__c_cum") - col("__c")).cast("double")
    val cD = col("__c").cast("double")
    val s1 = b * b - a0 * a0
    val s2 = cD * n * 2.0 - s1
    val phi = greatest(least(
      normCdf((col("x") - col("__mu")) / col("__sd")),
      lit(1.0 - 1e-15)), lit(1e-15))
    val s = ecdf.agg(
      first("__n").as("__n"), first("__mu").as("__mu"),
      first("__sd").as("__sd"),
      sum(s1 * log(phi) + s2 * log(lit(1.0) - phi)).as("__t"))
    val nn = col("__n").cast("double")
    val a2 = -nn - col("__t") / nn
    val a2s = a2 * (lit(1.0) + lit(0.75) / nn +
      lit(2.25) / (nn * nn))
    s.select(
      col("__n").cast("bigint").as("n"),
      round(col("__mu"), 6).as("mean"),
      round(col("__sd"), 6).as("sd"),
      round(a2, 6).as("a2"),
      round(a2s, 6).as("a2_star"),
      (a2s > 0.752).as("sig_95"))
  }

  /** DuckDB oracle for [[adNormality]] — the Φ polynomial staged
    * through CTE columns (t, upper) with the exact operation order
    * of the engine's [[normCdf]]. */
  def adNormalityOracleSql(table: String, metric: String): String =
    s"""WITH vals AS (
       |  SELECT CAST($metric AS DOUBLE) AS x FROM $table
       |  WHERE $metric IS NOT NULL),
       |m AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(x) AS mu,
       |    STDDEV_SAMP(x) AS sd
       |  FROM vals),
       |freq AS (
       |  SELECT x, CAST(COUNT(*) AS DOUBLE) AS c FROM vals
       |  GROUP BY 1),
       |ecdf AS (
       |  SELECT x, c, CAST(SUM(c) OVER (ORDER BY x
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS DOUBLE) AS b
       |  FROM freq),
       |z AS (
       |  SELECT ecdf.*, m.n, m.mu, m.sd,
       |    (x - mu) / sd AS zz
       |  FROM ecdf CROSS JOIN m),
       |p1 AS (
       |  SELECT *, 1.0 / (1.0 + ABS(zz) * 0.2316419) AS t FROM z),
       |p2 AS (
       |  SELECT *, EXP(ABS(zz) * ABS(zz) * -0.5) *
       |    0.3989422804014327 *
       |    (t * (0.319381530 + t * (-0.356563782 +
       |      t * (1.781477937 + t * (-1.821255978 +
       |        t * 1.330274429))))) AS up
       |  FROM p1),
       |p3 AS (
       |  SELECT *, GREATEST(LEAST(
       |    CASE WHEN zz >= 0 THEN 1.0 - up ELSE up END,
       |    1.0 - 1e-15), 1e-15) AS phi
       |  FROM p2),
       |s AS (
       |  SELECT ANY_VALUE(n) AS n, ANY_VALUE(mu) AS mu,
       |    ANY_VALUE(sd) AS sd,
       |    SUM((b * b - (b - c) * (b - c)) * LN(phi) +
       |      (2.0 * c * n - (b * b - (b - c) * (b - c))) *
       |      LN(1.0 - phi)) AS t
       |  FROM p3),
       |f AS (
       |  SELECT n, mu, sd, -n - t / n AS a2 FROM s)
       |SELECT CAST(n AS BIGINT) AS n,
       |  ROUND(mu, 6) AS mean, ROUND(sd, 6) AS sd,
       |  ROUND(a2, 6) AS a2,
       |  ROUND(a2 * (1.0 + 0.75 / n + 2.25 / (n * n)), 6) AS a2_star,
       |  a2 * (1.0 + 0.75 / n + 2.25 / (n * n)) > 0.752 AS sig_95
       |FROM f""".stripMargin
}
