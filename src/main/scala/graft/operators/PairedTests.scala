package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Paired-difference tests over the same units measured twice — the
  * within-subject counterpart of the two-sample panel (q248 Welch,
  * q249 MWU): the Wilcoxon signed-rank test (Wilcoxon, Biometrics
  * 1945; normal approximation with the tie correction) and the sign
  * test beside it. McNemar (q310) answers the paired question for a
  * BINARY outcome; this pair answers it for a magnitude — "did the
  * same users do more in the second half?", immune to the
  * between-user variance that drowns an unpaired test.
  *
  * The paired metric is the per-user EVENT COUNT per half — an
  * integer by construction, so the zero/tie classification and the
  * |d| rank table are EXACT in both engines (a rounded mean here
  * would re-roll the round-11 one-ulp dice inside a GROUP BY key,
  * where canonicalizing the output can't reach). Average ranks land
  * on the exact .5 grid and w_plus sums multiples of 0.5 — exact
  * binary, order-independent.
  *
  * Scale shape: one grouped pass builds the per-unit half counts
  * (span midpoint rides as a 1-row stat factor, the q310 shape);
  * ranks of |d| come from the VALUE-FREQUENCY table (the
  * [[graft.quality.Correlation]] Spearman recipe — an ordered window
  * over a value-cardinality frame, never a row-level global sort). */
object PairedTests {

  /** One row `(n_pairs, n_zero, n_pos, n_neg, w_plus, z_wilcoxon,
    * z_sign, sig_95_wilcoxon, sig_95_sign)` for the paired
    * first-half vs second-half per-user event count. Zero
    * differences drop from both tests (the standard Wilcoxon
    * zero-handling); ties in |d| take average ranks with the
    * Σ(t³−t)/48 variance correction. */
  def signedRankHalves(events: DataFrame): DataFrame = {
    val span = events.agg(
      to_date(min(col("ts"))).as("__lo"),
      to_date(max(col("ts"))).as("__hi"))
      .withColumn("__mid",
        date_add(col("__lo"),
          floor(datediff(col("__hi"), col("__lo")) / 2).cast("int")))
    val pairs = events.crossJoin(broadcast(span))   // 1-row factor
      .groupBy("user_id")
      .agg(
        sum(when(to_date(col("ts")) <= col("__mid"), 1L)
          .otherwise(0L)).as("__c1"),
        sum(when(to_date(col("ts")) > col("__mid"), 1L)
          .otherwise(0L)).as("__c2"))
      .select((col("__c2") - col("__c1")).as("d"))
    val counts = pairs.agg(
      count(lit(1)).as("n_pairs"),
      sum(when(col("d") === 0L, 1L).otherwise(0L)).as("n_zero"),
      sum(when(col("d") > 0L, 1L).otherwise(0L)).as("n_pos"),
      sum(when(col("d") < 0L, 1L).otherwise(0L)).as("n_neg"))
    // value-frequency ranks over |d| of the nonzero differences
    val freq = pairs.where(col("d") =!= 0L)
      .groupBy(abs(col("d")).as("__v"))
      .agg(count(lit(1)).as("__c"),
        sum(when(col("d") > 0L, 1L).otherwise(0L)).as("__cp"))
    val ranked = graft.util.PrefixSum.running(freq, "__v", Seq("__c"))
      .withColumn("__rank", col("__c_cum") - (col("__c") - 1.0) / 2.0)
    val stats = ranked.agg(
      sum(col("__rank") * col("__cp")).as("__wp"),
      sum(col("__c") * col("__c") * col("__c") - col("__c"))
        .as("__tie3"))
    val one = counts.crossJoin(stats)   // two 1-row stat factors
    val n = (col("n_pos") + col("n_neg")).cast("double")
    val ew = n * (n + 1.0) / 4.0
    val vw = n * (n + 1.0) * (n * 2.0 + 1.0) / 24.0 -
      col("__tie3").cast("double") / 48.0
    val zw = (col("__wp") - ew) / sqrt(vw)
    val zs = (col("n_pos") - col("n_neg")).cast("double") / sqrt(n)
    one.select(
      col("n_pairs"), col("n_zero"), col("n_pos"), col("n_neg"),
      round(col("__wp"), 6).as("w_plus"),
      round(when(vw > 0.0, zw), 6).as("z_wilcoxon"),
      round(when(n > 0.0, zs), 6).as("z_sign"),
      when(vw > 0.0, abs(zw) > 1.96).otherwise(lit(false))
        .as("sig_95_wilcoxon"),
      when(n > 0.0, abs(zs) > 1.96).otherwise(lit(false))
        .as("sig_95_sign"))
  }

  /** DuckDB oracle for [[signedRankHalves]] on events. */
  val signedRankOracleSql: String =
    """WITH span AS (
      |  SELECT CAST(MIN(ts) AS DATE) AS lo,
      |    CAST(MAX(ts) AS DATE) AS hi FROM events),
      |mid AS (
      |  SELECT lo + CAST((hi - lo) // 2 AS INTEGER) AS m FROM span),
      |pairs AS (
      |  SELECT
      |    SUM(CASE WHEN CAST(ts AS DATE) > m THEN 1 ELSE 0 END) -
      |    SUM(CASE WHEN CAST(ts AS DATE) <= m THEN 1 ELSE 0 END)
      |      AS d
      |  FROM events, mid GROUP BY user_id),
      |counts AS (
      |  SELECT COUNT(*) AS n_pairs,
      |    SUM(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS n_zero,
      |    SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS n_pos,
      |    SUM(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS n_neg
      |  FROM pairs),
      |freq AS (
      |  SELECT ABS(d) AS v, COUNT(*) AS c,
      |    SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS cp
      |  FROM pairs WHERE d <> 0 GROUP BY 1),
      |ranked AS (
      |  SELECT *, COALESCE(SUM(c) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) +
      |      (c + 1.0) / 2.0 AS rnk
      |  FROM freq),
      |stats AS (
      |  SELECT SUM(rnk * cp) AS wp,
      |    SUM(c * c * c - c) AS tie3
      |  FROM ranked),
      |f AS (
      |  SELECT counts.*, stats.wp, stats.tie3,
      |    CAST(n_pos + n_neg AS DOUBLE) AS n
      |  FROM counts CROSS JOIN stats)
      |SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
      |  CAST(n_zero AS BIGINT) AS n_zero,
      |  CAST(n_pos AS BIGINT) AS n_pos,
      |  CAST(n_neg AS BIGINT) AS n_neg,
      |  ROUND(wp, 6) AS w_plus,
      |  ROUND(CASE WHEN n * (n + 1.0) * (2.0 * n + 1.0) / 24.0 -
      |      CAST(tie3 AS DOUBLE) / 48.0 > 0
      |    THEN (wp - n * (n + 1.0) / 4.0) /
      |      SQRT(n * (n + 1.0) * (2.0 * n + 1.0) / 24.0 -
      |        CAST(tie3 AS DOUBLE) / 48.0) END, 6) AS z_wilcoxon,
      |  ROUND(CASE WHEN n > 0
      |    THEN CAST(n_pos - n_neg AS DOUBLE) / SQRT(n) END, 6)
      |    AS z_sign,
      |  CASE WHEN n * (n + 1.0) * (2.0 * n + 1.0) / 24.0 -
      |      CAST(tie3 AS DOUBLE) / 48.0 > 0
      |    THEN ABS((wp - n * (n + 1.0) / 4.0) /
      |      SQRT(n * (n + 1.0) * (2.0 * n + 1.0) / 24.0 -
      |        CAST(tie3 AS DOUBLE) / 48.0)) > 1.96
      |    ELSE FALSE END AS sig_95_wilcoxon,
      |  CASE WHEN n > 0
      |    THEN ABS(CAST(n_pos - n_neg AS DOUBLE) / SQRT(n)) > 1.96
      |    ELSE FALSE END AS sig_95_sign
      |FROM f""".stripMargin
}
