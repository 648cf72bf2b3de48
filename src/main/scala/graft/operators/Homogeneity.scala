package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Group-homogeneity tests the ANOVA tier was missing: Brown–Forsythe
  * (Levene's test with the median center — Brown & Forsythe, JASA
  * 1974), which asks whether group VARIANCES differ (the assumption
  * every plain-F comparison quietly makes), and the Friedman rank test
  * (Friedman, JASA 1937), the nonparametric k-treatment test over
  * matched blocks — "does order priority shift monthly revenue, with
  * each month serving as its own control?".
  *
  * Both are moment/rank reductions with no corpus-sized joins:
  * Brown–Forsythe is two grouped aggregates (medians, then the
  * one-way F over |x−med| — the [[Anova]] identity on a
  * group-cardinality table); Friedman ranks a blocks×treatments cell
  * table (calendar-bounded) inside block-partitioned windows.
  */
object Homogeneity {

  /** Brown–Forsythe test of variance homogeneity across groups:
    * one-way ANOVA on zᵢⱼ = |xᵢⱼ − medianⱼ|. One row
    * `(n, k, f_stat, df1, df2)`; F is NULL when the within-spread is
    * numerically zero. Median is the exact interpolated percentile in
    * both engines.
    *
    * Scale shape: group medians via one grouped exact percentile
    * (group-cardinality output, broadcast back), then the standard
    * moment reduction — SST/SSW from per-group (n, Σz, Σz²). */
  def brownForsythe(df: DataFrame, group: Column,
      metric: Column): DataFrame = {
    val gv = df.select(group.as("g"), metric.cast("double").as("x"))
      .where(col("g").isNotNull && col("x").isNotNull)
    val med = gv.groupBy("g").agg(median(col("x")).as("med"))
    val z = gv.join(broadcast(med), Seq("g"))
      .select(col("g"), abs(col("x") - col("med")).as("z"))
    val perG = z.groupBy("g").agg(
      count(lit(1)).as("n_g"), sum("z").as("sz"),
      sum(col("z") * col("z")).as("szz"))
    perG.agg(
        sum("n_g").as("n"), count(lit(1)).as("k"),
        sum("szz").as("__szz"), sum("sz").as("__sz"),
        sum(col("szz") - col("sz") * col("sz") / col("n_g"))
          .as("__ssw"))
      .withColumn("__sst",
        col("__szz") - col("__sz") * col("__sz") / col("n"))
      .withColumn("__ssb", greatest(col("__sst") - col("__ssw"), lit(0.0)))
      .select(
        col("n").cast("bigint").as("n"),
        col("k").cast("bigint").as("k"),
        round(when(col("__ssw") > 0.0,
          (col("__ssb") / (col("k") - 1)) /
            (col("__ssw") / (col("n") - col("k")))), 6).as("f_stat"),
        (col("k") - 1).cast("bigint").as("df1"),
        (col("n") - col("k")).cast("bigint").as("df2"))
  }

  /** DuckDB oracle for [[brownForsythe]] on orders
    * (group = o_orderpriority, metric = o_totalprice). */
  val brownForsytheOracleSql: String =
    """WITH gv AS (
      |  SELECT o_orderpriority AS g,
      |    CAST(o_totalprice AS DOUBLE) AS x
      |  FROM orders
      |  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
      |med AS (SELECT g, MEDIAN(x) AS med FROM gv GROUP BY 1),
      |z AS (
      |  SELECT gv.g, ABS(gv.x - med.med) AS z
      |  FROM gv JOIN med ON gv.g = med.g),
      |per_g AS (
      |  SELECT g, COUNT(*) AS n_g, SUM(z) AS sz, SUM(z * z) AS szz
      |  FROM z GROUP BY 1),
      |tot AS (
      |  SELECT SUM(n_g) AS n, COUNT(*) AS k,
      |    SUM(szz) AS szz, SUM(sz) AS sz,
      |    SUM(szz - sz * sz / n_g) AS ssw
      |  FROM per_g),
      |s AS (
      |  SELECT n, k, ssw,
      |    GREATEST(szz - sz * sz / n - ssw, 0.0) AS ssb
      |  FROM tot)
      |SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
      |  ROUND(CASE WHEN ssw > 0 THEN
      |    (ssb / (k - 1)) / (ssw / (n - k)) END, 6) AS f_stat,
      |  CAST(k - 1 AS BIGINT) AS df1,
      |  CAST(n - k AS BIGINT) AS df2
      |FROM s""".stripMargin

  /** Friedman rank test over complete blocks: cells are
    * `round(SUM(metric), 2)` per (block, treatment); blocks missing
    * any treatment are dropped (the test needs complete blocks);
    * ranks 1..k within block ascend by (cell, treatment) — the
    * treatment tie-break makes the rank assignment deterministic in
    * both engines (ties in six-figure revenue sums are measure-zero,
    * so the min-rank-vs-mean-rank distinction never binds). Output:
    * one row per treatment `(treatment, n_blocks, rank_sum,
    * mean_rank, chi2_f, df)` ordered by treatment, with the shared
    * χ²_F = 12/(nk(k+1))·ΣRⱼ² − 3n(k+1) repeated per row.
    *
    * Scale shape: corpus → blocks×treatments grouped agg; every
    * window after that is k-bounded per block. */
  /** Complete-block cells with within-block ranks — the shared front
    * half of [[friedman]], [[quade]] and [[conoverIman]]: columns
    * `(b, t, cell, __k, r)`, blocks missing any treatment dropped,
    * ranks tie-broken by treatment. */
  private def rankedCells(df: DataFrame, block: Column,
      treatment: Column, metric: Column): DataFrame = {
    // NOTE: r14o1 persisted both the cell table and the ranked frame;
    // the close bench regressed all three consumers (q325 0.74x, q431
    // 0.54x, q432 0.64x) — the cache write + blocked codegen across the
    // InMemoryTableScan boundary cost more than replaying the cheap
    // block-cardinality aggregate. Reverted.
    val cells = df
      .select(block.as("b"), treatment.as("t"),
        metric.cast("double").as("x"))
      .where(col("b").isNotNull && col("t").isNotNull)
      .groupBy("b", "t").agg(round(sum("x"), 2).as("cell"))
    val k = cells.agg(countDistinct(col("t")).as("__k"))
    cells
      .withColumn("__nt", count(lit(1))
        .over(Window.partitionBy("b")))
      .crossJoin(broadcast(k))   // 1-row stat factor
      .where(col("__nt") === col("__k"))
      .withColumn("r", rank().over(Window.partitionBy("b")
        .orderBy(col("cell"), col("t"))).cast("double"))
  }

  def friedman(df: DataFrame, block: Column, treatment: Column,
      metric: Column): DataFrame = {
    val ranked = rankedCells(df, block, treatment, metric)
    val perT = ranked.groupBy("t").agg(
      count(lit(1)).as("n_blocks"), sum("r").as("rank_sum"),
      first("__k").as("__k"))
    val stat = perT.agg(
      first("__k").cast("double").as("__kk"),
      first("n_blocks").cast("double").as("__nn"),
      sum(col("rank_sum") * col("rank_sum")).as("__sr2"))
      .select((lit(12.0) / (col("__nn") * col("__kk") *
          (col("__kk") + 1.0)) * col("__sr2") -
          col("__nn") * (col("__kk") + 1.0) * 3.0).as("__chi2"),
        (col("__kk") - 1.0).cast("bigint").as("df"))
    perT.crossJoin(broadcast(stat))   // 1-row stat factor
      .select(col("t").as("treatment"), col("n_blocks"),
        round(col("rank_sum"), 1).as("rank_sum"),
        round(col("rank_sum") / col("n_blocks"), 6).as("mean_rank"),
        round(col("__chi2"), 6).as("chi2_f"), col("df"))
      .orderBy("treatment")
  }

  /** DuckDB oracle for [[friedman]] on orders (block = order month,
    * treatment = o_orderpriority, metric = o_totalprice). */
  val friedmanOracleSql: String =
    """WITH cells AS (
      |  SELECT DATE_TRUNC('month', o_orderdate) AS b,
      |    o_orderpriority AS t,
      |    ROUND(SUM(CAST(o_totalprice AS DOUBLE)), 2) AS cell
      |  FROM orders
      |  WHERE o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL
      |  GROUP BY 1, 2),
      |k AS (SELECT COUNT(DISTINCT t) AS k FROM cells),
      |complete AS (
      |  SELECT b, t, cell FROM (
      |    SELECT b, t, cell, COUNT(*) OVER (PARTITION BY b) AS nt
      |    FROM cells) CROSS JOIN k WHERE nt = k.k),
      |ranked AS (
      |  SELECT t, CAST(RANK() OVER (PARTITION BY b
      |    ORDER BY cell, t) AS DOUBLE) AS r
      |  FROM complete),
      |per_t AS (
      |  SELECT t, COUNT(*) AS n_blocks, SUM(r) AS rank_sum
      |  FROM ranked GROUP BY 1),
      |stat AS (
      |  SELECT 12.0 / (MAX(CAST(n_blocks AS DOUBLE)) *
      |      (SELECT k FROM k) * ((SELECT k FROM k) + 1.0)) *
      |      SUM(rank_sum * rank_sum) -
      |      3.0 * MAX(CAST(n_blocks AS DOUBLE)) *
      |      ((SELECT k FROM k) + 1.0) AS chi2,
      |    (SELECT k FROM k) - 1 AS df
      |  FROM per_t)
      |SELECT t AS treatment, n_blocks,
      |  ROUND(rank_sum, 1) AS rank_sum,
      |  ROUND(rank_sum / n_blocks, 6) AS mean_rank,
      |  ROUND(stat.chi2, 6) AS chi2_f,
      |  CAST(stat.df AS BIGINT) AS df
      |FROM per_t CROSS JOIN stat
      |ORDER BY treatment""".stripMargin

  /** Quade test (Quade, JASA 1979): the block-weighted sibling of
    * [[friedman]] — blocks are ranked by their within-block RANGE, so
    * months where treatments actually differ carry more weight than
    * flat months (Friedman weights every complete block equally).
    * Same (block, treatment, cell) design as q325: complete blocks
    * only, ranks tie-broken by treatment.
    *
    * With Q_i the rank of block i's range among blocks (tie-broken by
    * block), r_ij the within-block rank, S_ij = Q_i·(r_ij − (k+1)/2),
    * S_j = Σ_i S_ij, A = Σ S_ij², B = (Σ_j S_j²)/b:
    *   F = (b−1)·B / (A − B),  df = (k−1, (b−1)(k−1)).
    * All S terms are integer/half-integer-valued, so the statistic is
    * exact arithmetic on both engines.
    *
    * The 0.95 significance gate is deliberately OMITTED: no shared
    * closed-form F quantile meets the accuracy bar — the Paulson/
    * Wilson–Hilferty inversion was measured at |err| ≈ 7e-3 in the
    * critical value at these df (exact incomplete-beta reference),
    * 70× the 1e-4 bound this engine holds shared quantile machinery
    * to (cf. the Acklam+Cornish–Fisher chain at 2e-6). The exact
    * statistic plus its dfs is the [[anovaOneWay]] convention.
    *
    * Output: one row per treatment `(treatment, n_blocks, s_j,
    * f_stat, df1, df2)` ordered by treatment, stat repeated per row
    * (the Friedman convention); NULL F when A = B (perfect
    * separation — significant at any level).
    *
    * Scale shape: corpus → blocks×treatments grouped agg; block
    * table is month-bounded, so its global range-rank window is a
    * bounded single-partition sort, and everything after is k- or
    * b-bounded. */
  def quade(df: DataFrame, block: Column, treatment: Column,
      metric: Column): DataFrame = {
    val ranked = rankedCells(df, block, treatment, metric)
    // month-bounded block table: range rank across blocks
    val blocks = ranked.groupBy("b")
      .agg((max("cell") - min("cell")).as("__rng"))
      .withColumn("q", rank()
        .over(Window.orderBy(col("__rng"), col("b")))
        .cast("double"))
    val sij = ranked
      .join(broadcast(blocks.select("b", "q")), Seq("b"))
      .withColumn("s", col("q") *
        (col("r") - (col("__k").cast("double") + 1.0) / 2.0))
    val perT = sij.groupBy("t").agg(
      count(lit(1)).as("n_blocks"), sum("s").as("s_j"),
      first("__k").as("__k"))
    val tot = sij.agg(sum(col("s") * col("s")).as("__A"))
    val stat = perT.agg(
        first("__k").cast("double").as("__kk"),
        first("n_blocks").cast("double").as("__bb"),
        sum(col("s_j") * col("s_j")).as("__sb2"))
      .crossJoin(broadcast(tot))   // 1-row stat factor
      .select(col("__kk"), col("__bb"),
        (col("__sb2") / col("__bb")).as("__B"), col("__A"))
      .select(
        round(when(col("__A") > col("__B"),
          (col("__bb") - 1.0) * col("__B") /
            (col("__A") - col("__B"))), 6).as("f_stat"),
        (col("__kk") - 1.0).cast("bigint").as("df1"),
        ((col("__bb") - 1.0) * (col("__kk") - 1.0)).cast("bigint")
          .as("df2"))
    perT.crossJoin(broadcast(stat))   // 1-row stat factor
      .select(col("t").as("treatment"), col("n_blocks"),
        round(col("s_j"), 1).as("s_j"),
        col("f_stat"), col("df1"), col("df2"))
      .orderBy("treatment")
  }

  /** DuckDB oracle for [[quade]] on orders (block = order month,
    * treatment = o_orderpriority, metric = o_totalprice). */
  val quadeOracleSql: String =
    """WITH cells AS (
      |  SELECT DATE_TRUNC('month', o_orderdate) AS b,
      |    o_orderpriority AS t,
      |    ROUND(SUM(CAST(o_totalprice AS DOUBLE)), 2) AS cell
      |  FROM orders
      |  WHERE o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL
      |  GROUP BY 1, 2),
      |k AS (SELECT COUNT(DISTINCT t) AS k FROM cells),
      |complete AS (
      |  SELECT b, t, cell FROM (
      |    SELECT b, t, cell, COUNT(*) OVER (PARTITION BY b) AS nt
      |    FROM cells) CROSS JOIN k WHERE nt = k.k),
      |ranked AS (
      |  SELECT b, t, CAST(RANK() OVER (PARTITION BY b
      |    ORDER BY cell, t) AS DOUBLE) AS r
      |  FROM complete),
      |blocks AS (
      |  SELECT b, CAST(RANK() OVER (ORDER BY rng, b) AS DOUBLE) AS q
      |  FROM (
      |    SELECT b, MAX(cell) - MIN(cell) AS rng
      |    FROM complete GROUP BY 1)),
      |sij AS (
      |  SELECT ranked.t,
      |    blocks.q * (ranked.r -
      |      ((SELECT k FROM k) + 1.0) / 2.0) AS s
      |  FROM ranked JOIN blocks ON ranked.b = blocks.b),
      |per_t AS (
      |  SELECT t, COUNT(*) AS n_blocks, SUM(s) AS s_j
      |  FROM sij GROUP BY 1),
      |tot AS (SELECT SUM(s * s) AS a FROM sij),
      |stat AS (
      |  SELECT (SELECT k FROM k) AS kk,
      |    MAX(CAST(n_blocks AS DOUBLE)) AS bb,
      |    SUM(s_j * s_j) / MAX(CAST(n_blocks AS DOUBLE)) AS bq,
      |    (SELECT a FROM tot) AS a
      |  FROM per_t)
      |SELECT per_t.t AS treatment, per_t.n_blocks,
      |  ROUND(per_t.s_j, 1) AS s_j,
      |  ROUND(CASE WHEN stat.a > stat.bq THEN
      |    (stat.bb - 1.0) * stat.bq / (stat.a - stat.bq) END, 6)
      |    AS f_stat,
      |  CAST(stat.kk - 1 AS BIGINT) AS df1,
      |  CAST((stat.bb - 1.0) * (stat.kk - 1.0) AS BIGINT) AS df2
      |FROM per_t CROSS JOIN stat
      |ORDER BY treatment""".stripMargin

  /** Conover–Iman post-hoc for the Friedman design (Conover, Practical
    * Nonparametric Statistics 3e, §5.8): WHICH treatment pairs differ
    * once q325's omnibus fires. For pair (j,l):
    *   t = |R_j − R_l| / √(2b(A − B)/((b−1)(k−1))),
    * with A = Σ r², B = ΣR_j²/b, referred to Student's t at
    * df = (b−1)(k−1). The per-pair level is Bonferroni-corrected to
    * α/m over the m = k(k−1)/2 pairs — which is also what keeps the
    * shared Acklam chain in its p > 0.97575 upper-tail domain
    * (1 − α/(2m) ≥ 0.9875 for m ≥ 2); the critical value is NULL
    * below the m ≥ 2 / df ≥ 19 accuracy floor, mirroring q426. When
    * A = B (perfectly consistent rankings, se = 0) every unequal
    * rank-sum pair differs at any level — Conover's convention.
    *
    * Output: one row per unordered pair `(t_a, t_b, r_a, r_b, t_stat,
    * t_crit, sig_bonf)` ordered by (t_a, t_b). Scale shape: the
    * [[rankedCells]] front half, then k-row reductions and a
    * k²-bounded pair grid. */
  def conoverIman(df: DataFrame, block: Column, treatment: Column,
      metric: Column, alpha: Double = 0.05): DataFrame = {
    require(alpha > 0.0 && alpha <= 0.1,
      s"alpha=$alpha outside (0, 0.1]")
    val ranked = rankedCells(df, block, treatment, metric)
    val perT = ranked.groupBy("t").agg(
      count(lit(1)).as("n_blocks"), sum("r").as("r_j"),
      first("__k").as("__k"))
    val tot = ranked.agg(sum(col("r") * col("r")).as("__A"))
    val stat = perT.agg(
        first("__k").cast("double").as("__kk"),
        first("n_blocks").cast("double").as("__bb"),
        sum(col("r_j") * col("r_j")).as("__sr2"))
      .crossJoin(broadcast(tot))   // 1-row stat factor
      .select(col("__kk"), col("__bb"), col("__A"),
        (col("__sr2") / col("__bb")).as("__B"))
      .select(
        (col("__bb") * 2.0 * (col("__A") - col("__B")) /
          ((col("__bb") - 1.0) * (col("__kk") - 1.0))).as("__se2"),
        ((col("__bb") - 1.0) * (col("__kk") - 1.0)).as("__df"),
        (col("__kk") * (col("__kk") - 1.0) / 2.0).as("__m"))
    // 1-row tail: the quantile chain runs as a scalar UDF (identical
    // operation order, bit-equal to the staged-CTE oracle) — the
    // inlined Column form blew the plan to a multi-MB task binary
    val tqU = udf((m: Double, df: Double) =>
      Outliers.tFromZD(
        Outliers.qnormUpperD(1.0 - alpha / (m * 2.0)), df))
    val statC = stat.select(col("__se2"),
      col("__df").cast("bigint").as("df"),
      when(col("__m") >= 2.0 && col("__df") >= 19.0,
        tqU(col("__m"), col("__df"))).as("__crit"))
    val pairs = perT.as("a")
      .join(perT.as("b"), col("a.t") < col("b.t"))   // k²-bounded grid
      .select(col("a.t").as("t_a"), col("b.t").as("t_b"),
        col("a.r_j").as("__ra"), col("b.r_j").as("__rb"))
      .crossJoin(broadcast(statC))   // 1-row stat factor
    val tstat = when(col("__se2") > 0.0,
      abs(col("__ra") - col("__rb")) / sqrt(col("__se2")))
    pairs.select(
        col("t_a"), col("t_b"),
        round(col("__ra"), 1).as("r_a"),
        round(col("__rb"), 1).as("r_b"),
        round(tstat, 6).as("t_stat"),
        round(col("__crit"), 6).as("t_crit"),
        when(col("__se2") === 0.0, col("__ra") =!= col("__rb"))
          .otherwise(coalesce(tstat > col("__crit"), lit(false)))
          .as("sig_bonf"),
        col("df"))
      .orderBy("t_a", "t_b")
  }

  /** DuckDB oracle for [[conoverIman]] on the q325 design. */
  val conoverImanOracleSql: String =
    """WITH cells AS (
      |  SELECT DATE_TRUNC('month', o_orderdate) AS b,
      |    o_orderpriority AS t,
      |    ROUND(SUM(CAST(o_totalprice AS DOUBLE)), 2) AS cell
      |  FROM orders
      |  WHERE o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL
      |  GROUP BY 1, 2),
      |k AS (SELECT COUNT(DISTINCT t) AS k FROM cells),
      |complete AS (
      |  SELECT b, t, cell FROM (
      |    SELECT b, t, cell, COUNT(*) OVER (PARTITION BY b) AS nt
      |    FROM cells) CROSS JOIN k WHERE nt = k.k),
      |ranked AS (
      |  SELECT b, t, CAST(RANK() OVER (PARTITION BY b
      |    ORDER BY cell, t) AS DOUBLE) AS r
      |  FROM complete),
      |per_t AS (
      |  SELECT t, COUNT(*) AS n_blocks, SUM(r) AS r_j
      |  FROM ranked GROUP BY 1),
      |tot AS (SELECT SUM(r * r) AS a FROM ranked),
      |st AS (
      |  SELECT (SELECT k FROM k) AS kk,
      |    MAX(CAST(n_blocks AS DOUBLE)) AS bb,
      |    (SELECT a FROM tot) AS a,
      |    SUM(r_j * r_j) / MAX(CAST(n_blocks AS DOUBLE)) AS bq
      |  FROM per_t),
      |se AS (
      |  SELECT
      |    bb * 2.0 * (a - bq) / ((bb - 1.0) * (kk - 1.0)) AS se2,
      |    (bb - 1.0) * (kk - 1.0) AS df,
      |    kk * (kk - 1.0) / 2.0 AS m
      |  FROM st),
      |qn AS (
      |  SELECT *,
      |    SQRT(-2.0 * LN(1.0 - (1.0 - 0.05 / (2.0 * m)))) AS q
      |  FROM se),
      |zc AS (
      |  SELECT *,
      |    ((((((q * -7.784894002430293e-3 +
      |      -0.3223964580411365) * q + -2.400758277161838) * q +
      |      -2.549732539343734) * q + 4.374664141464968) * q +
      |      2.938163982698783) /
      |     ((((q * 7.784695709041462e-3 + 0.3224671290700398) * q +
      |      2.445134137142996) * q + 3.754408661907416) * q + 1.0))
      |      * -1.0 AS z
      |  FROM qn),
      |tc AS (
      |  SELECT *,
      |    z + (z * z * z + z) / (df * 4.0) +
      |    (5.0 * z * z * z * z * z + 16.0 * z * z * z + 3.0 * z) /
      |      (df * df * 96.0) +
      |    (3.0 * POW(z, 7) + 19.0 * POW(z, 5) + 17.0 * z * z * z -
      |      15.0 * z) / (POW(df, 3) * 384.0) +
      |    (79.0 * POW(z, 9) + 776.0 * POW(z, 7) +
      |      1482.0 * POW(z, 5) - 1920.0 * z * z * z - 945.0 * z) /
      |      (POW(df, 4) * 92160.0) AS tq
      |  FROM zc),
      |cr AS (
      |  SELECT se2, CAST(df AS BIGINT) AS df,
      |    CASE WHEN m >= 2 AND df >= 19 THEN tq END AS crit
      |  FROM tc),
      |pairs AS (
      |  SELECT a.t AS t_a, b.t AS t_b, a.r_j AS ra, b.r_j AS rb
      |  FROM per_t a JOIN per_t b ON a.t < b.t)
      |SELECT t_a, t_b,
      |  ROUND(ra, 1) AS r_a, ROUND(rb, 1) AS r_b,
      |  ROUND(CASE WHEN se2 > 0 THEN ABS(ra - rb) / SQRT(se2) END, 6)
      |    AS t_stat,
      |  ROUND(crit, 6) AS t_crit,
      |  CASE WHEN se2 = 0 THEN ra <> rb
      |    ELSE COALESCE(ABS(ra - rb) / SQRT(se2) > crit, FALSE) END
      |    AS sig_bonf,
      |  df
      |FROM pairs CROSS JOIN cr
      |ORDER BY t_a, t_b""".stripMargin

  /** Cochran's Q test (Cochran, Biometrika 1950) — the k-treatment
    * generalization of McNemar (q310): across matched units (users),
    * do k BINARY outcomes (did the user perform each event type?)
    * have equal success rates? Q = k(k−1)·Σⱼ(Cⱼ−C̄)² /
    * (k·ΣᵢRᵢ − ΣᵢRᵢ²), with Rᵢ the unit's row total and Cⱼ the
    * treatment's column total; units with Rᵢ = 0 or k carry no
    * information and drop out of the denominator naturally. Exact
    * integer moments — parity is arithmetic identity.
    *
    * Output: one row per treatment `(treatment, n_units, successes,
    * rate, q_stat, df)` with the shared Q repeated (the Friedman
    * convention). Scale shape: one unit×treatment presence agg, one
    * unit-cardinality row-total agg, k-row arithmetic. */
  def cochranQ(df: DataFrame, unit: Column, treatment: Column):
      DataFrame = {
    val pres = df.select(unit.as("u"), treatment.as("t"))
      .where(col("u").isNotNull && col("t").isNotNull)
      .distinct()
    val ts = pres.select("t").distinct()
    // full unit x treatment grid (k-bounded broadcast), 0/1 presence
    val grid = pres.select("u").distinct().crossJoin(broadcast(ts))
    val cells = grid.join(pres.withColumn("x", lit(1L)),
        Seq("u", "t"), "left")
      .select(col("u"), col("t"), coalesce(col("x"), lit(0L)).as("x"))
    val rows = cells.groupBy("u").agg(sum("x").as("r"))
    val k = ts.agg(count(lit(1))).head().getLong(0).toDouble
    val rAgg = rows.agg(
      sum("r").cast("double").as("__sr"),
      sum(col("r") * col("r")).cast("double").as("__sr2"),
      count(lit(1)).as("__n_units"))
    val cols = cells.groupBy("t").agg(sum("x").as("c"),
      count(lit(1)).as("n_units"))
    val stat = cols.crossJoin(broadcast(rAgg))   // 1-row stat factor
      .agg(
        first("__sr").as("__sr"), first("__sr2").as("__sr2"),
        avg(col("c").cast("double")).as("__cbar"),
        sum(col("c").cast("double") * col("c")).as("__sc2"),
        count(lit(1)).cast("double").as("__k"))
      .select(
        round(when(col("__sr") * col("__k") - col("__sr2") > 0.0,
          col("__k") * (col("__k") - 1.0) *
            (col("__sc2") - col("__k") * col("__cbar") * col("__cbar")) /
            (col("__k") * col("__sr") - col("__sr2"))), 6).as("q_stat"),
        (col("__k") - 1.0).cast("bigint").as("df"))
    cols.crossJoin(broadcast(stat))   // 1-row stat factor
      .select(col("t").as("treatment"), col("n_units"),
        col("c").as("successes"),
        round(col("c").cast("double") / col("n_units"), 6).as("rate"),
        col("q_stat"), col("df"))
      .orderBy("treatment")
  }

  /** DuckDB oracle for [[cochranQ]] on events (unit = user_id,
    * treatment = event_type). */
  val cochranQOracleSql: String =
    """WITH pres AS (
      |  SELECT DISTINCT user_id AS u, event_type AS t FROM events
      |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
      |us AS (SELECT DISTINCT u FROM pres),
      |ts AS (SELECT DISTINCT t FROM pres),
      |cells AS (
      |  SELECT us.u, ts.t,
      |    CASE WHEN pres.u IS NOT NULL THEN 1 ELSE 0 END AS x
      |  FROM us CROSS JOIN ts
      |  LEFT JOIN pres ON pres.u = us.u AND pres.t = ts.t),
      |rws AS (SELECT u, SUM(x) AS r FROM cells GROUP BY 1),
      |ra AS (
      |  SELECT CAST(SUM(r) AS DOUBLE) AS sr,
      |    CAST(SUM(r * r) AS DOUBLE) AS sr2
      |  FROM rws),
      |cl AS (
      |  SELECT t, SUM(x) AS c, COUNT(*) AS n_units
      |  FROM cells GROUP BY 1),
      |st AS (
      |  SELECT AVG(CAST(c AS DOUBLE)) AS cbar,
      |    SUM(CAST(c AS DOUBLE) * c) AS sc2,
      |    CAST(COUNT(*) AS DOUBLE) AS k
      |  FROM cl),
      |q AS (
      |  SELECT ROUND(CASE WHEN k * ra.sr - ra.sr2 > 0 THEN
      |    k * (k - 1.0) * (sc2 - k * cbar * cbar) /
      |      (k * ra.sr - ra.sr2) END, 6) AS q_stat,
      |    CAST(k - 1 AS BIGINT) AS df
      |  FROM st CROSS JOIN ra)
      |SELECT t AS treatment, n_units, c AS successes,
      |  ROUND(CAST(c AS DOUBLE) / n_units, 6) AS rate,
      |  q.q_stat, q.df
      |FROM cl CROSS JOIN q ORDER BY treatment""".stripMargin

  /** Bartlett's test of variance homogeneity (Bartlett, Proc. R.
    * Soc. A 1937) — the PARAMETRIC sibling of [[brownForsythe]]:
    * more powerful under normality, notoriously sensitive to
    * heavy tails, which is why a profiler reports both and reads
    * the disagreement ("BF quiet + Bartlett loud" = kurtosis, not
    * variance). χ² = [(N−k)·ln S²ₚ − Σ(nᵢ−1)·ln S²ᵢ] / C with the
    * Bartlett correction C = 1 + (Σ1/(nᵢ−1) − 1/(N−k))/(3(k−1)).
    * One row `(n, k, pooled_var, chi2, df, sig_95)`; groups with
    * nᵢ < 2 or zero variance are excluded (ln undefined), and the
    * χ² is NULL when fewer than two groups survive.
    *
    * Scale shape: one grouped moment pass (n, Σx, Σx²) at group
    * cardinality, then a k-row reduction — the corpus is never
    * joined or re-scanned. sig_95 compares against the χ²₀.₉₅
    * quantile for df ≤ 10 (Wilson–Hilferty beyond), a closed-form
    * table both engines share. */
  def bartlett(df: DataFrame, group: Column,
      metric: Column): DataFrame = {
    val gv = df.select(group.as("g"), metric.cast("double").as("x"))
      .where(col("g").isNotNull && col("x").isNotNull)
    val perG = gv.groupBy("g").agg(
        count(lit(1)).as("n_g"), sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("v_g",
        (col("sxx") - col("sx") * col("sx") / col("n_g")) /
          (col("n_g") - 1.0))
      .where(col("n_g") >= 2 && col("v_g") > 0.0)
    val s = perG.agg(
      sum("n_g").as("n"), count(lit(1)).as("k"),
      sum((col("n_g") - 1.0) * col("v_g")).as("__sw"),
      sum((col("n_g") - 1.0) * log(col("v_g"))).as("__slnv"),
      sum(lit(1.0) / (col("n_g") - 1.0)).as("__sinv"))
    val nk = (col("n") - col("k")).cast("double")
    val sp2 = col("__sw") / nk
    val c = lit(1.0) + (col("__sinv") - lit(1.0) / nk) /
      (lit(3.0) * (col("k") - 1.0))
    val chi2 = (nk * log(sp2) - col("__slnv")) / c
    s.select(
      col("n").cast("bigint").as("n"),
      col("k").cast("bigint").as("k"),
      round(sp2, 6).as("pooled_var"),
      round(when(col("k") >= 2, chi2), 6).as("chi2"),
      (col("k") - 1).cast("bigint").as("df"),
      when(col("k") >= 2, chi2 > chi2Crit95(col("k") - 1))
        .as("sig_95"))
  }

  /** χ²₀.₉₅ critical value as a Column of the df Column: exact table
    * for df 1..10, Wilson–Hilferty cube approximation beyond —
    * identical arithmetic on the oracle side. */
  private[operators] def chi2Crit95(dfree: Column): Column = {
    val wh = dfree.cast("double") *
      pow(lit(1.0) - lit(2.0) / (dfree * 9.0) +
        lit(1.6448536269514722) * sqrt(lit(2.0) / (dfree * 9.0)), 3)
    when(dfree === 1, 3.841459).when(dfree === 2, 5.991465)
      .when(dfree === 3, 7.814728).when(dfree === 4, 9.487729)
      .when(dfree === 5, 11.070498).when(dfree === 6, 12.591587)
      .when(dfree === 7, 14.067140).when(dfree === 8, 15.507313)
      .when(dfree === 9, 16.918978).when(dfree === 10, 18.307038)
      .otherwise(wh)
  }

  /** DuckDB oracle for [[bartlett]] on orders
    * (group = o_orderpriority, metric = o_totalprice). */
  val bartlettOracleSql: String =
    """WITH gv AS (
      |  SELECT o_orderpriority AS g,
      |    CAST(o_totalprice AS DOUBLE) AS x
      |  FROM orders
      |  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
      |per_g AS (
      |  SELECT g, COUNT(*) AS n_g, SUM(x) AS sx, SUM(x * x) AS sxx
      |  FROM gv GROUP BY 1),
      |vg AS (
      |  SELECT n_g,
      |    (sxx - sx * sx / n_g) / (n_g - 1.0) AS v_g
      |  FROM per_g
      |  WHERE n_g >= 2
      |    AND (sxx - sx * sx / n_g) / (n_g - 1.0) > 0.0),
      |s AS (
      |  SELECT SUM(n_g) AS n, COUNT(*) AS k,
      |    SUM((n_g - 1.0) * v_g) AS sw,
      |    SUM((n_g - 1.0) * LN(v_g)) AS slnv,
      |    SUM(1.0 / (n_g - 1.0)) AS sinv
      |  FROM vg),
      |f AS (
      |  SELECT n, k, sw / (n - k) AS sp2,
      |    ((n - k) * LN(sw / (n - k)) - slnv) /
      |      (1.0 + (sinv - 1.0 / (n - k)) / (3.0 * (k - 1.0))) AS chi2
      |  FROM s)
      |SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
      |  ROUND(sp2, 6) AS pooled_var,
      |  ROUND(CASE WHEN k >= 2 THEN chi2 END, 6) AS chi2,
      |  CAST(k - 1 AS BIGINT) AS df,
      |  CASE WHEN k >= 2 THEN chi2 > (CASE CAST(k - 1 AS INT)
      |    WHEN 1 THEN 3.841459 WHEN 2 THEN 5.991465
      |    WHEN 3 THEN 7.814728 WHEN 4 THEN 9.487729
      |    WHEN 5 THEN 11.070498 WHEN 6 THEN 12.591587
      |    WHEN 7 THEN 14.067140 WHEN 8 THEN 15.507313
      |    WHEN 9 THEN 16.918978 WHEN 10 THEN 18.307038
      |    ELSE (k - 1) * POW(1.0 - 2.0 / (9.0 * (k - 1)) +
      |      1.6448536269514722 * SQRT(2.0 / (9.0 * (k - 1))), 3)
      |    END) END AS sig_95
      |FROM f""".stripMargin

  /** Mood's median test (Mood, "Introduction to the Theory of
    * Statistics" 1950 §16.4): a χ² on the k×2 table of
    * above-grand-median counts — the BLUNTEST k-sample location test,
    * which is exactly its use: it survives arbitrary outliers and
    * wildly unequal variances that bias Kruskal–Wallis's rank sums
    * (KW assumes similar shapes; this assumes nothing but the
    * median). One row `(n, k, n_above, chi2, df, sig_95)`.
    *
    * Scale shape: one exact grouped median (broadcast 1-row factor),
    * one grouped above/below count, a k-row χ² reduction. Both
    * engines compute the SAME interpolated median (the
    * [[brownForsythe]] precedent), so the above/≤ classification is
    * identical. */
  def moodMedian(df: DataFrame, group: Column,
      metric: Column): DataFrame = {
    val gv = df.select(group.as("g"), metric.cast("double").as("x"))
      .where(col("g").isNotNull && col("x").isNotNull)
    val med = gv.agg(median(col("x")).as("__med"))
    val perG = gv.crossJoin(broadcast(med))   // 1-row stat factor
      .groupBy("g")
      .agg(count(lit(1)).as("n_g"),
        sum(when(col("x") > col("__med"), 1L).otherwise(0L))
          .as("a_g"))
    val tot = perG.agg(sum("n_g").as("__n"), sum("a_g").as("__a"))
    val cells = perG.crossJoin(broadcast(tot))   // 1-row stat factor
    val p = col("__a").cast("double") / col("__n")
    val ea = col("n_g") * p
    val eb = col("n_g") * (lit(1.0) - p)
    val term = pow(col("a_g") - ea, 2) / ea +
      pow((col("n_g") - col("a_g")) - eb, 2) / eb
    val s = cells.agg(first("__n").as("__n"), first("__a").as("__a"),
      count(lit(1)).as("k"), sum(term).as("__chi2"))
    s.select(
      col("__n").cast("bigint").as("n"),
      col("k").cast("bigint").as("k"),
      col("__a").cast("bigint").as("n_above"),
      round(col("__chi2"), 6).as("chi2"),
      (col("k") - 1).cast("bigint").as("df"),
      when(col("k") >= 2,
        col("__chi2") > chi2Crit95(col("k") - 1))
        .otherwise(lit(false)).as("sig_95"))
  }

  /** DuckDB oracle for [[moodMedian]] on orders
    * (group = o_orderpriority, metric = o_totalprice). */
  val moodMedianOracleSql: String =
    """WITH gv AS (
      |  SELECT o_orderpriority AS g,
      |    CAST(o_totalprice AS DOUBLE) AS x
      |  FROM orders
      |  WHERE o_orderpriority IS NOT NULL
      |    AND o_totalprice IS NOT NULL),
      |med AS (SELECT MEDIAN(x) AS med FROM gv),
      |per_g AS (
      |  SELECT g, COUNT(*) AS n_g,
      |    SUM(CASE WHEN x > med THEN 1 ELSE 0 END) AS a_g
      |  FROM gv CROSS JOIN med GROUP BY 1),
      |tot AS (SELECT SUM(n_g) AS n, SUM(a_g) AS a FROM per_g),
      |s AS (
      |  SELECT ANY_VALUE(n) AS n, ANY_VALUE(a) AS a,
      |    COUNT(*) AS k,
      |    SUM(POW(a_g - n_g * (CAST(a AS DOUBLE) / n), 2) /
      |        (n_g * (CAST(a AS DOUBLE) / n)) +
      |      POW((n_g - a_g) - n_g * (1.0 - CAST(a AS DOUBLE) / n), 2)
      |        / (n_g * (1.0 - CAST(a AS DOUBLE) / n))) AS chi2
      |  FROM per_g CROSS JOIN tot)
      |SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
      |  CAST(a AS BIGINT) AS n_above,
      |  ROUND(chi2, 6) AS chi2,
      |  CAST(k - 1 AS BIGINT) AS df,
      |  CASE WHEN k >= 2 THEN chi2 > (CASE CAST(k - 1 AS INT)
      |    WHEN 1 THEN 3.841459 WHEN 2 THEN 5.991465
      |    WHEN 3 THEN 7.814728 WHEN 4 THEN 9.487729
      |    WHEN 5 THEN 11.070498 WHEN 6 THEN 12.591587
      |    WHEN 7 THEN 14.067140 WHEN 8 THEN 15.507313
      |    WHEN 9 THEN 16.918978 WHEN 10 THEN 18.307038
      |    ELSE (k - 1) * POW(1.0 - 2.0 / (9.0 * (k - 1)) +
      |      1.6448536269514722 * SQRT(2.0 / (9.0 * (k - 1))), 3)
      |    END) ELSE FALSE END AS sig_95
      |FROM s""".stripMargin

  /** Jonckheere–Terpstra ordered-alternative test (Jonckheere,
    * Biometrika 1954): against Kruskal–Wallis's "some group
    * differs", JT tests the DIRECTIONAL hypothesis that the metric
    * RISES along the given group order — the question a monotone
    * hypothesis ("higher balance ⇒ more orders") actually asks, with
    * far more power than KW when the order is right. JT = Σᵢ<ⱼ Uᵢⱼ
    * with ties counting half; normal approximation with the
    * Hollander–Wolfe tie-corrected null variance. One row `(n, k,
    * jt_stat, e_jt, var_jt, z, sig_95)`.
    *
    * Scale shape: metric must be DISCRETE (counts, buckets) — pair
    * counts come from joining the per-group VALUE HISTOGRAMS (|V|²·k²
    * bounded, never row pairs), the Kendall/MWU histogram recipe.
    * Tie counts reduce from the combined value histogram. */
  def jonckheere(df: DataFrame, groupOrd: Column,
      metric: Column): DataFrame = {
    val gv = df.select(groupOrd.cast("int").as("g"),
        metric.cast("long").as("v"))
      .where(col("g").isNotNull && col("v").isNotNull)
    val hist = gv.groupBy("g", "v").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // U_ij over ordered pairs i<j from the histogram cross:
    // full pairs where the lower-order group's value is smaller,
    // half for equal values
    val u = hist.as("a").join(hist.as("b"),
        col("a.g") < col("b.g"))
      .agg(sum(
        when(col("a.v") < col("b.v"),
          (col("a.c") * col("b.c")).cast("double"))
          .when(col("a.v") === col("b.v"),
            (col("a.c") * col("b.c")) / 2.0)
          .otherwise(0.0)).as("__jt"))
    val perG = hist.groupBy("g").agg(sum("c").as("ng"))
      .agg(sum("ng").as("n"), count(lit(1)).as("k"),
        sum(col("ng") * (col("ng") - 1) * (col("ng") * 2 + 5))
          .as("__g25"),
        sum(col("ng") * (col("ng") - 1)).as("__g2"),
        sum(col("ng") * (col("ng") - 1) * (col("ng") - 2))
          .as("__g3"),
        sum(col("ng") * col("ng")).as("__gsq"))
    val ties = hist.groupBy("v").agg(sum("c").as("t"))
      .agg(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5))
        .as("__t25"),
        sum(col("t") * (col("t") - 1)).as("__t2"),
        sum(col("t") * (col("t") - 1) * (col("t") - 2)).as("__t3"))
    val one = u.crossJoin(perG).crossJoin(ties)   // 1-row factors
    val n = col("n").cast("double")
    val e = (n * n - col("__gsq")) / 4.0
    val v1 = (n * (n - 1.0) * (n * 2.0 + 5.0) -
      col("__g25") - col("__t25")) / 72.0
    // factors multiply in DOUBLE: the long product overflows at
    // scale (g3·t3 ~ n³·t³), and since each factor is < 2^53 the
    // double·double product rounds the exact value to the same
    // nearest double as DuckDB's HUGEINT-product-then-cast
    val v2 = (col("__g3").cast("double") *
        col("__t3").cast("double")) /
      (n * (n - 1.0) * (n - 2.0) * 36.0)
    val v3 = (col("__g2").cast("double") *
        col("__t2").cast("double")) /
      (n * (n - 1.0) * 8.0)
    val vr = v1 + v2 + v3
    val z = (col("__jt") - e) / sqrt(vr)
    one.select(
      col("n").cast("bigint").as("n"),
      col("k").cast("bigint").as("k"),
      round(col("__jt"), 6).as("jt_stat"),
      round(e, 6).as("e_jt"),
      round(vr, 6).as("var_jt"),
      round(when(vr > 0.0, z), 6).as("z"),
      when(vr > 0.0, abs(z) > 1.96).otherwise(lit(false))
        .as("sig_95"))
  }

  /** DuckDB oracle for [[jonckheere]] on the customer balance-band
    * → per-customer order-count fixture (bands: <0, <5000, rest;
    * customers without orders count 0). */
  val jonckheereOracleSql: String =
    """WITH gv AS (
      |  SELECT CASE WHEN c.c_acctbal < 0 THEN 0
      |           WHEN c.c_acctbal < 5000 THEN 1 ELSE 2 END AS g,
      |    COUNT(o.o_orderkey) AS v
      |  FROM customer c LEFT JOIN orders o
      |    ON o.o_custkey = c.c_custkey
      |  GROUP BY c.c_custkey, 1),
      |hist AS (
      |  SELECT g, v, COUNT(*) AS c FROM gv GROUP BY 1, 2),
      |u AS (
      |  SELECT SUM(CASE
      |      WHEN a.v < b.v THEN CAST(a.c * b.c AS DOUBLE)
      |      WHEN a.v = b.v THEN (a.c * b.c) / 2.0
      |      ELSE 0.0 END) AS jt
      |  FROM hist a JOIN hist b ON a.g < b.g),
      |pg AS (
      |  SELECT SUM(ng) AS n, COUNT(*) AS k,
      |    SUM(ng * (ng - 1) * (ng * 2 + 5)) AS g25,
      |    SUM(ng * (ng - 1)) AS g2,
      |    SUM(ng * (ng - 1) * (ng - 2)) AS g3,
      |    SUM(ng * ng) AS gsq
      |  FROM (SELECT g, SUM(c) AS ng FROM hist GROUP BY 1)),
      |tt AS (
      |  SELECT SUM(t * (t - 1) * (t * 2 + 5)) AS t25,
      |    SUM(t * (t - 1)) AS t2,
      |    SUM(t * (t - 1) * (t - 2)) AS t3
      |  FROM (SELECT v, SUM(c) AS t FROM hist GROUP BY 1)),
      |f AS (
      |  SELECT u.jt, pg.*, tt.*,
      |    CAST(pg.n AS DOUBLE) AS nd
      |  FROM u CROSS JOIN pg CROSS JOIN tt),
      |s AS (
      |  SELECT *,
      |    (nd * nd - gsq) / 4.0 AS e,
      |    (nd * (nd - 1.0) * (nd * 2.0 + 5.0) - g25 - t25) / 72.0 +
      |      CAST(g3 * t3 AS DOUBLE) /
      |        (nd * (nd - 1.0) * (nd - 2.0) * 36.0) +
      |      CAST(g2 * t2 AS DOUBLE) / (nd * (nd - 1.0) * 8.0) AS vr
      |  FROM f)
      |SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
      |  ROUND(jt, 6) AS jt_stat,
      |  ROUND(e, 6) AS e_jt,
      |  ROUND(vr, 6) AS var_jt,
      |  ROUND(CASE WHEN vr > 0 THEN (jt - e) / SQRT(vr) END, 6)
      |    AS z,
      |  CASE WHEN vr > 0 THEN ABS((jt - e) / SQRT(vr)) > 1.96
      |    ELSE FALSE END AS sig_95
      |FROM s""".stripMargin

  /** Page's L test for ordered alternatives in a complete block
    * design (Page, JASA 1963) — the ORDERED counterpart of
    * [[friedman]]: Friedman asks "do the treatments differ at all
    * across blocks"; Page asks "do they increase IN A SPECIFIED
    * ORDER" (here: does the per-block metric trend across ordered
    * treatment levels), which has far more power when the order is
    * the hypothesis. L = Σⱼ j·Rⱼ over within-block average ranks,
    * z = (L − b·k(k+1)²/4) / √(b·k²(k+1)(k²−1)/144), two-sided 5%
    * against 1.959964.
    *
    * Treatment levels are densified to 1..k by their natural order
    * (so callers can pass e.g. weekday codes with gaps). Blocks
    * missing any level are dropped — the statistic requires complete
    * blocks. Ranks use the average-rank tie convention (min-rank +
    * (ties−1)/2), identical in both engines.
    *
    * Scale shape: one corpus-scale grouped agg to (block, level)
    * cells, then every window/join runs at b·k cell cardinality. One
    * row `(n_blocks, k, l_stat, e_l, z, sig_95)`. */
  def pageTrend(df: DataFrame, block: Column, treatOrd: Column,
      metric: Column): DataFrame = {
    val cell = df.select(block.as("b"), treatOrd.cast("long").as("j"),
        metric.cast("double").as("x"))
      .where(col("b").isNotNull && col("j").isNotNull &&
        col("x").isNotNull)
      .groupBy("b", "j").agg(sum("x").as("v"))
    val kf = cell.agg(countDistinct("j").as("__k"))   // 1-row factor
    val bc = cell.groupBy("b").agg(count(lit(1)).as("__cnt"))
    val full = cell.join(bc, "b").crossJoin(broadcast(kf))
      .where(col("__cnt") === col("__k"))
    val wJ = Window.orderBy("j")   // b·k cells (treatment levels): bounded
    val wRank = Window.partitionBy("b").orderBy("v")
    val wTie = Window.partitionBy("b", "v")
    val ranked = full
      .withColumn("__jo", dense_rank().over(wJ).cast("double"))
      .withColumn("__minr", rank().over(wRank))
      .withColumn("__eq", count(lit(1)).over(wTie))
      .withColumn("__r", col("__minr") + (col("__eq") - 1) / 2.0)
    val s = ranked.agg(
      countDistinct("b").as("n_blocks"),
      first("__k").as("k"),
      sum(col("__jo") * col("__r")).as("__l"))
    val bD = col("n_blocks").cast("double")
    val kD = col("k").cast("double")
    val eL = bD * kD * (kD + 1.0) * (kD + 1.0) / 4.0
    val vL = bD * kD * kD * (kD + 1.0) * (kD * kD - 1.0) / 144.0
    val z = when(vL > 0.0, (col("__l") - eL) / sqrt(vL))
    s.select(
      col("n_blocks").cast("bigint").as("n_blocks"),
      col("k").cast("bigint").as("k"),
      round(col("__l"), 6).as("l_stat"),
      round(eL, 6).as("e_l"),
      round(z, 6).as("z"),
      when(z.isNotNull, abs(z) > 1.959964).otherwise(lit(false))
        .as("sig_95"))
  }

  /** Kendall's coefficient of concordance W (Kendall & Babington
    * Smith, Ann. Math. Stat. 1939), tie-corrected — the EFFECT SIZE
    * for [[friedman]]'s hypothesis test: χ² says whether the blocks
    * rank the treatments consistently; W ∈ [0,1] says HOW consistent
    * (1 = every block produces the identical ordering, 0 = orderings
    * are uncorrelated), comparable across studies the χ² never is.
    * W = 12·S / (b²k(k²−1) − b·ΣT_b) over the within-block
    * average-rank sums, T_b = Σ(t³−t) the per-block tie term;
    * χ² = b(k−1)W against k−1 df.
    *
    * Same complete-block cell construction as [[pageTrend]]; all
    * windows at b·k cell cardinality. One row `(n_blocks, k, w_stat,
    * chi2, df, sig_95)`. */
  def kendallW(df: DataFrame, block: Column, treat: Column,
      metric: Column): DataFrame = {
    val cell = df.select(block.as("b"), treat.cast("long").as("j"),
        metric.cast("double").as("x"))
      .where(col("b").isNotNull && col("j").isNotNull &&
        col("x").isNotNull)
      .groupBy("b", "j").agg(sum("x").as("v"))
    val kf = cell.agg(countDistinct("j").as("__k"))   // 1-row factor
    val bc = cell.groupBy("b").agg(count(lit(1)).as("__cnt"))
    val full = cell.join(bc, "b").crossJoin(broadcast(kf))
      .where(col("__cnt") === col("__k"))
    val wRank = Window.partitionBy("b").orderBy("v")
    val wTie = Window.partitionBy("b", "v")
    val ranked = full
      .withColumn("__minr", rank().over(wRank))
      .withColumn("__eq", count(lit(1)).over(wTie))
      .withColumn("__r", col("__minr") + (col("__eq") - 1) / 2.0)
    // per-block tie term: each tie group of size t contributes t³−t,
    // counted once (the group's cells each see __eq = t)
    val tieT = ranked
      .groupBy("b", "v").agg(first("__eq").as("__t"))
      .agg(coalesce(sum(col("__t") * col("__t") * col("__t") -
        col("__t")), lit(0L)).as("__T"))
    val perTreat = ranked.groupBy("j")
      .agg(sum("__r").as("__rj"), first("__k").as("__k2"))
    val nbF = ranked.agg(countDistinct("b").as("__nb"))
    val s = perTreat.crossJoin(broadcast(nbF))
      .select(col("__rj"), col("__k2"), col("__nb"),
        pow(col("__rj") - col("__nb").cast("double") *
          (col("__k2").cast("double") + 1.0) / 2.0, 2).as("__dev"))
      .agg(first("__k2").as("k"), first("__nb").as("n_blocks"),
        sum("__dev").as("__S"))
    val bD = col("n_blocks").cast("double")
    val kD = col("k").cast("double")
    val denom = bD * bD * kD * (kD * kD - 1.0) - bD * col("__T")
    val w = when(denom > 0.0, col("__S") * 12.0 / denom)
    val chi2 = bD * (kD - 1.0) * w
    s.crossJoin(broadcast(tieT))
      .select(
        col("n_blocks").cast("bigint").as("n_blocks"),
        col("k").cast("bigint").as("k"),
        round(w, 6).as("w_stat"),
        round(chi2, 6).as("chi2"),
        (col("k") - 1).cast("bigint").as("df"),
        when(chi2.isNotNull,
          chi2 > chi2Crit95(col("k") - 1)).otherwise(lit(false))
          .as("sig_95"))
  }

  /** DuckDB oracle for the registered Kendall-W fixture (same
    * cells as [[pageTrendOracleSql]]). */
  val kendallWOracleSql: String =
    """WITH cell AS (
      |  SELECT event_type AS b, dayofweek(ts) + 1 AS j,
      |    SUM(CAST(value AS DOUBLE)) AS v
      |  FROM events
      |  WHERE event_type IS NOT NULL AND value IS NOT NULL
      |  GROUP BY 1, 2),
      |kf AS (SELECT COUNT(DISTINCT j) AS k FROM cell),
      |bc AS (SELECT b, COUNT(*) AS cnt FROM cell GROUP BY 1),
      |fl AS (
      |  SELECT cell.b, cell.j, cell.v
      |  FROM cell JOIN bc ON cell.b = bc.b CROSS JOIN kf
      |  WHERE bc.cnt = kf.k),
      |r AS (
      |  SELECT b, j, v,
      |    RANK() OVER (PARTITION BY b ORDER BY v) +
      |      (COUNT(*) OVER (PARTITION BY b, v) - 1) / 2.0 AS rr
      |  FROM fl),
      |tt AS (
      |  SELECT COALESCE(SUM(t * t * t - t), 0) AS tsum FROM (
      |    SELECT b, v, COUNT(*) AS t FROM fl GROUP BY 1, 2)),
      |nb AS (SELECT COUNT(DISTINCT b) AS nb FROM r),
      |rj AS (
      |  SELECT j, SUM(rr) AS rjs FROM r GROUP BY 1),
      |s AS (
      |  SELECT SUM(POW(rjs - (SELECT nb FROM nb) *
      |    ((SELECT k FROM kf) + 1.0) / 2.0, 2)) AS ss
      |  FROM rj),
      |f AS (
      |  SELECT (SELECT nb FROM nb) AS b2, (SELECT k FROM kf) AS k,
      |    ss, (SELECT tsum FROM tt) AS tsum
      |  FROM s),
      |g AS (
      |  SELECT b2, k, CASE WHEN
      |      b2 * b2 * k * (k * k - 1.0) - b2 * tsum > 0
      |    THEN ss * 12.0 / (b2 * b2 * k * (k * k - 1.0) - b2 * tsum)
      |    END AS w
      |  FROM f)
      |SELECT CAST(b2 AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k,
      |  ROUND(w, 6) AS w_stat,
      |  ROUND(b2 * (k - 1.0) * w, 6) AS chi2,
      |  CAST(k - 1 AS BIGINT) AS df,
      |  CASE WHEN w IS NOT NULL THEN
      |    b2 * (k - 1.0) * w > (CASE CAST(k - 1 AS INT)
      |      WHEN 1 THEN 3.841459 WHEN 2 THEN 5.991465
      |      WHEN 3 THEN 7.814728 WHEN 4 THEN 9.487729
      |      WHEN 5 THEN 11.070498 WHEN 6 THEN 12.591587
      |      WHEN 7 THEN 14.067140 WHEN 8 THEN 15.507313
      |      WHEN 9 THEN 16.918978 WHEN 10 THEN 18.307038
      |      ELSE (k - 1) * POW(1.0 - 2.0 / (9.0 * (k - 1)) +
      |        1.6448536269514722 * SQRT(2.0 / (9.0 * (k - 1))), 3)
      |      END) ELSE FALSE END AS sig_95
      |FROM g""".stripMargin

  /** DuckDB oracle for the registered Page fixture: blocks =
    * event_type, ordered levels = weekday, metric = total value
    * (Spark dayofweek Sun=1..Sat=7 mirrored as DuckDB
    * dayofweek + 1). */
  val pageTrendOracleSql: String =
    """WITH cell AS (
      |  SELECT event_type AS b, dayofweek(ts) + 1 AS j,
      |    SUM(CAST(value AS DOUBLE)) AS v
      |  FROM events
      |  WHERE event_type IS NOT NULL AND value IS NOT NULL
      |  GROUP BY 1, 2),
      |kf AS (SELECT COUNT(DISTINCT j) AS k FROM cell),
      |bc AS (SELECT b, COUNT(*) AS cnt FROM cell GROUP BY 1),
      |fl AS (
      |  SELECT cell.b, cell.j, cell.v
      |  FROM cell JOIN bc ON cell.b = bc.b CROSS JOIN kf
      |  WHERE bc.cnt = kf.k),
      |r AS (
      |  SELECT b, v,
      |    CAST(DENSE_RANK() OVER (ORDER BY j) AS DOUBLE) AS jo,
      |    RANK() OVER (PARTITION BY b ORDER BY v) AS minr,
      |    COUNT(*) OVER (PARTITION BY b, v) AS eq
      |  FROM fl),
      |s AS (
      |  SELECT COUNT(DISTINCT b) AS nb, (SELECT k FROM kf) AS k,
      |    SUM(jo * (minr + (eq - 1) / 2.0)) AS l
      |  FROM r),
      |f AS (
      |  SELECT nb, k, l,
      |    nb * k * (k + 1.0) * (k + 1.0) / 4.0 AS e_l,
      |    nb * k * k * (k + 1.0) * (k * k - 1.0) / 144.0 AS v_l
      |  FROM s)
      |SELECT CAST(nb AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k,
      |  ROUND(l, 6) AS l_stat, ROUND(e_l, 6) AS e_l,
      |  ROUND(CASE WHEN v_l > 0 THEN (l - e_l) / SQRT(v_l) END, 6)
      |    AS z,
      |  CASE WHEN v_l > 0
      |    THEN ABS((l - e_l) / SQRT(v_l)) > 1.959964
      |    ELSE FALSE END AS sig_95
      |FROM f""".stripMargin
}
