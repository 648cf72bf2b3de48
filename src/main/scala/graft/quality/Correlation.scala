package graft.quality

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.PrefixSum

/** Pairwise correlation profiling — Pearson r (linear association)
  * beside Spearman ρ (monotone association, outlier-robust) for every
  * pair of numeric columns: the third leg of the dependency-audit
  * stool after [[Dependencies.fdReport]] (exact determination) and
  * [[Dependencies.mutualInformation]] (categorical bits). Pearson ≫
  * Spearman flags outlier-driven "correlation"; Spearman ≫ Pearson
  * flags a monotone-but-curved link a linear model would miss.
  *
  * Scale shape: Spearman needs ranks, and a global row-level rank
  * window is a single-partition scale-killer — so ranks come from the
  * VALUE-FREQUENCY table instead (groupBy value → cumulative count →
  * average rank per tie group, the standard Spearman tie convention),
  * and the cumulative count is [[graft.util.PrefixSum]]: bucket
  * boundaries for every column come from one quantile job (none while
  * the input fits one task), so no single task sorts a corpus-scale
  * distinct-value frame and the ranks are exact integers + n/2 whatever
  * the boundaries. The correlations themselves are ONE aggregate pass
  * (p² `corr` aggregates); the collected result is a single row. */
object Correlation {

  /** `(col_a, col_b, pearson, spearman)` for every unordered pair of
    * `cols`, ordered (col_a, col_b). NULL rows are excluded per pair
    * by `corr` itself (both engines skip null pairs). */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(cols.map(c => col(c).cast("double").as(c)): _*)
    // ranks over NON-NULL values only (PrefixSum drops the null key),
    // attached with a LEFT join so a row that is null in column c keeps
    // its other columns and gets a null rank — `corr` then excludes it
    // from exactly the pairs involving c
    val d = cols.zip(PrefixSum.boundaries(base, cols)).foldLeft(base) {
      case (acc, (c, bounds)) =>
        val freq = base.groupBy(col(c).as("__v")).agg(count(lit(1)).as("__c"))
        val rk = PrefixSum.running(freq, "__v", Seq("__c"), bounds)
          .select(col("__v").as(c),   // average rank over the tie run
            (col("__c_cum") - (col("__c") - 1.0) / 2.0).as(s"__r_$c"))
        acc.join(rk, Seq(c), "left")
    }
    val pairs = for {
      (a, i) <- cols.zipWithIndex; b <- cols.drop(i + 1)
    } yield (a, b)
    val aggs = pairs.flatMap { case (a, b) => Seq(
      corr(col(a), col(b)).as(s"__p_${a}__$b"),
      corr(col(s"__r_$a"), col(s"__r_$b")).as(s"__s_${a}__$b"))
    }
    val one = d.agg(aggs.head, aggs.tail: _*).collect()(0)
    pairs.map { case (a, b) =>
      (a, b,
        round6(one.getAs[Double](s"__p_${a}__$b")),
        round6(one.getAs[Double](s"__s_${a}__$b")))
    }.toDF("col_a", "col_b", "pearson", "spearman")
      .orderBy("col_a", "col_b")
  }

  private def round6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** DuckDB oracle for [[correlationMatrix]] on a named table. The
    * rank mirror is row-level (`rank() + (tie − 1)/2`) — value-
    * identical to the engine's frequency-table form. */
  def oracleSql(table: String, cols: Seq[String]): String = {
    val rankCols = cols.map { c =>
      s"""rank() OVER (ORDER BY CAST($c AS DOUBLE)) +
         |    (COUNT(*) OVER (PARTITION BY CAST($c AS DOUBLE)) - 1) / 2.0
         |    AS __r_$c""".stripMargin
    }.mkString(",\n  ")
    val selects = (for {
      (a, i) <- cols.zipWithIndex; b <- cols.drop(i + 1)
    } yield
      s"""SELECT '$a' AS col_a, '$b' AS col_b,
         |  ROUND(corr(CAST($a AS DOUBLE), CAST($b AS DOUBLE)), 6)
         |    AS pearson,
         |  ROUND(corr(__r_$a, __r_$b), 6) AS spearman
         |FROM r""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH r AS (
       |  SELECT *,
       |  $rankCols
       |  FROM $table)
       |SELECT * FROM (
       |$selects
       |) ORDER BY col_a, col_b""".stripMargin
  }

  /** Kendall τ-b between two metrics over a BOUNDED entity frame
    * `(k, x, y)` (Kendall 1938; tie correction per Agresti §2.1.2):
    * τ_b = (C − D) / √((n₀−n₁)(n₀−n₂)) with n₁/n₂ the tied-pair
    * counts in x/y. Completes the rank-association family next to
    * Spearman ([[correlationMatrix]]) and RBO (top-k lists): τ reads
    * directly as P(concordant) − P(discordant), the number an analyst
    * quotes when two league tables disagree.
    *
    * Pair generation is an explicit self-cross of the ENTITY table —
    * correct only because the caller aggregates to a bounded grain
    * first (nations, stores, segments: the q176 audience-overlap
    * precedent, PlanAudit-allowlisted). The corpus-scale work is
    * whatever aggregation built `m`; this step is |m|² on a dimension-
    * sized frame. One output row: `(n_pairs, concordant, discordant,
    * ties_x, ties_y, tau_b)`. */
  def kendallTau(m: DataFrame): DataFrame = {
    val a = m.select(col("k").as("__ka"), col("x").as("__xa"),
      col("y").as("__ya"))
    val b = m.select(col("k").as("__kb"), col("x").as("__xb"),
      col("y").as("__yb"))
    val s = (col("__xa") - col("__xb")) * (col("__ya") - col("__yb"))
    val cnt = (c: org.apache.spark.sql.Column) =>
      sum(when(c, 1L).otherwise(0L))
    a.crossJoin(b).where(col("__ka") < col("__kb"))
      .agg(
        count(lit(1)).as("n_pairs"),
        cnt(s > 0.0).as("concordant"),
        cnt(s < 0.0).as("discordant"),
        cnt(col("__xa") === col("__xb")).as("ties_x"),
        cnt(col("__ya") === col("__yb")).as("ties_y"))
      .select(col("n_pairs"), col("concordant"), col("discordant"),
        col("ties_x"), col("ties_y"),
        round((col("concordant") - col("discordant")).cast("double") /
          sqrt((col("n_pairs") - col("ties_x")).cast("double") *
            (col("n_pairs") - col("ties_y")).cast("double")), 6)
          .as("tau_b"))
  }

  /** DuckDB oracle for [[kendallTau]] over the nation-grain
    * revenue-vs-order-count league tables (the q301 registration). */
  val kendallNationOracleSql: String =
    """WITH m AS (
      |  SELECT n_name AS k,
      |    CAST(SUM(o_totalprice) AS DOUBLE) AS x,
      |    CAST(COUNT(*) AS DOUBLE) AS y
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1),
      |p AS (
      |  SELECT a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
      |  FROM m a JOIN m b ON a.k < b.k)
      |SELECT COUNT(*) AS n_pairs,
      |  SUM(CASE WHEN (xa-xb)*(ya-yb) > 0 THEN 1 ELSE 0 END)
      |    AS concordant,
      |  SUM(CASE WHEN (xa-xb)*(ya-yb) < 0 THEN 1 ELSE 0 END)
      |    AS discordant,
      |  SUM(CASE WHEN xa = xb THEN 1 ELSE 0 END) AS ties_x,
      |  SUM(CASE WHEN ya = yb THEN 1 ELSE 0 END) AS ties_y,
      |  ROUND(CAST(SUM(CASE WHEN (xa-xb)*(ya-yb) > 0 THEN 1 ELSE 0 END)
      |      - SUM(CASE WHEN (xa-xb)*(ya-yb) < 0 THEN 1 ELSE 0 END)
      |      AS DOUBLE) /
      |    sqrt(CAST(COUNT(*) - SUM(CASE WHEN xa = xb THEN 1 ELSE 0 END)
      |        AS DOUBLE) *
      |      CAST(COUNT(*) - SUM(CASE WHEN ya = yb THEN 1 ELSE 0 END)
      |        AS DOUBLE)), 6) AS tau_b
      |FROM p""".stripMargin

  /** First-order partial correlation r_xy·z (Fisher's recursion) —
    * the association between x and y with z HELD CONSTANT:
    * r_xy·z = (r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²)). The
    * confounder check the q243 pairwise matrix can't make: quantity
    * and revenue may correlate only because discount drives both;
    * this is the single number that says so. One row `(n, r_xy,
    * r_xz, r_yz, r_xy_z)`, NULL when either conditioning leg is
    * (numerically) perfect.
    *
    * Scale shape: rows with a NULL in any leg drop once (listwise,
    * the textbook convention), then ONE aggregate pass computing the
    * three `corr`s — no ranks, no joins. */
  def partialCorrelation(df: DataFrame, x: String, y: String,
      z: String): DataFrame = {
    val d = df
      .select(col(x).cast("double").as("__x"),
        col(y).cast("double").as("__y"),
        col(z).cast("double").as("__z"))
      .where(col("__x").isNotNull && col("__y").isNotNull &&
        col("__z").isNotNull)
    // the recursion runs on the 6-ROUNDED legs: the q243 gate proves
    // the rounded corrs match across engines, so deriving from them
    // keeps the output bit-stable (unrounded corr accumulators are
    // each engine's own streaming-moment implementation)
    val g = d.agg(
      count(lit(1)).as("n"),
      round(corr(col("__x"), col("__y")), 6).as("__rxy"),
      round(corr(col("__x"), col("__z")), 6).as("__rxz"),
      round(corr(col("__y"), col("__z")), 6).as("__ryz"))
    val den = sqrt((lit(1.0) - col("__rxz") * col("__rxz")) *
      (lit(1.0) - col("__ryz") * col("__ryz")))
    g.select(
      col("n"),
      col("__rxy").as("r_xy"),
      col("__rxz").as("r_xz"),
      col("__ryz").as("r_yz"),
      round(when(den > 0.0,
        (col("__rxy") - col("__rxz") * col("__ryz")) / den), 6)
        .as("r_xy_z"))
  }

  /** DuckDB oracle for [[partialCorrelation]] on a named table. */
  def partialCorrelationOracleSql(table: String, x: String,
      y: String, z: String): String =
    s"""WITH d AS (
       |  SELECT CAST($x AS DOUBLE) AS x, CAST($y AS DOUBLE) AS y,
       |    CAST($z AS DOUBLE) AS z
       |  FROM $table
       |  WHERE $x IS NOT NULL AND $y IS NOT NULL
       |    AND $z IS NOT NULL),
       |g AS (
       |  SELECT COUNT(*) AS n,
       |    ROUND(corr(x, y), 6) AS rxy,
       |    ROUND(corr(x, z), 6) AS rxz,
       |    ROUND(corr(y, z), 6) AS ryz
       |  FROM d)
       |SELECT CAST(n AS BIGINT) AS n,
       |  rxy AS r_xy,
       |  rxz AS r_xz,
       |  ryz AS r_yz,
       |  ROUND(CASE WHEN SQRT((1.0 - rxz * rxz) *
       |      (1.0 - ryz * ryz)) > 0
       |    THEN (rxy - rxz * ryz) /
       |      SQRT((1.0 - rxz * rxz) * (1.0 - ryz * ryz)) END, 6)
       |    AS r_xy_z
       |FROM g""".stripMargin
}
