package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.PrefixSum

/** Split-conformal outlier gate — a quality filter with a
  * DISTRIBUTION-FREE guarantee (Vovk et al., "Algorithmic Learning in
  * a Random World"; Angelopoulos & Bates 2023 tutorial form): fit
  * nothing, just take the ⌈(n+1)(1−α)⌉-th smallest nonconformity
  * score on a held-out calibration split; flagging new points above
  * that threshold false-alarms with probability ≤ α under
  * exchangeability, whatever the score distribution looks like. For a
  * curation pipeline this turns an arbitrary heuristic score into a
  * gate with a stated budget: "drop at most ~α of in-distribution
  * documents" — auditable by the very report this operator emits.
  *
  * Scale shape: the order statistic is the textbook scale trap (global
  * sort); like [[ClassifierEval]] the engine aggregates to the
  * distinct-score histogram first (scores are rounded) and walks the
  * running counts ([[PrefixSum]]) over that bounded table — exact, no
  * corpus-wide rank. The threshold is a 1-row broadcast stat factor
  * into the eval side.
  */
object Conformal {

  /** One-row gate audit: `(alpha, n_cal, qhat, n_eval, n_flagged,
    * flag_rate)`. `scoreCol` is a NONCONFORMITY score (higher = more
    * anomalous), discretized (round it first if continuous). The
    * empirical `flag_rate` on an exchangeable eval split must land at
    * or below ~α — the audit that the guarantee is being honored. */
  def outlierGate(cal: DataFrame, eval: DataFrame, scoreCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha in (0,1), got $alpha")
    val byScore = cal
      .groupBy(col(scoreCol).cast("double").as("s"))
      .agg(count(lit(1)).as("n"))
    // k-th smallest via the cumulative of the bounded histogram; if
    // k > n (tiny calibration set) the threshold is +∞: flag nothing —
    // the honest degenerate reading of the guarantee. A NULL score has
    // no rank: PrefixSum drops its group and n_cal skips it, counted
    // off the histogram so a computed score is evaluated once
    val tot = byScore.agg(
      coalesce(sum(when(col("s").isNotNull, col("n"))), lit(0L)).as("n_cal"),
      lit(alpha).as("alpha"))
    val qhat = PrefixSum.running(byScore, "s", Seq("n"), Nil)   // bounded
      .crossJoin(broadcast(tot))   // 1-row stat factor
      .where(col("n_cum") >= ceil((col("n_cal") + 1) * (1.0 - alpha)))
      .agg(min("s").as("__q"))
    val gate = tot.crossJoin(broadcast(qhat))
      .withColumn("qhat",
        when(col("__q").isNull, lit(Double.PositiveInfinity))
          .otherwise(col("__q")))
    eval
      .select(col(scoreCol).cast("double").as("s"))
      .crossJoin(broadcast(gate))  // 1-row stat factor
      .agg(
        first("alpha").as("alpha"),
        first("n_cal").as("n_cal"),
        round(first("qhat"), 4).as("qhat"),
        count(lit(1)).as("n_eval"),
        sum(when(col("s") > col("qhat"), 1L).otherwise(0L))
          .as("n_flagged"))
      .withColumn("flag_rate",
        round(col("n_flagged").cast("double") / col("n_eval"), 6))
  }

  /** DuckDB oracle for the registered fixture: nonconformity =
    * −quality over documents, even ids calibrate, odd ids evaluate. */
  def oracleSql(alpha: Double): String =
    s"""WITH t AS (
       |  SELECT doc_id, str_split_regex(trim(text), '\\s+') AS toks
       |  FROM documents),
       |s AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS DOUBLE) AS n,
       |    CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
       |      AS sumlen,
       |    CAST(list_sum(list_transform(toks, x -> CASE WHEN x IN
       |      ('the','a','of','and','to','in','is','on',
       |       'der','die','das','und','ist','nicht','ein','zu',
       |       'el','la','de','que','y','en','un','es',
       |       'le','et','les','des','est','une') THEN 1 ELSE 0 END))
       |      AS DOUBLE) AS stop_all
       |  FROM t),
       |q AS (
       |  SELECT doc_id, -ROUND(
       |      LEAST(n / 16.0, 1.0) * 0.4 +
       |      (CASE WHEN sumlen / n BETWEEN 2.0 AND 9.0
       |            THEN 1.0 ELSE 0.5 END) * 0.4 +
       |      LEAST(stop_all / n * 4.0, 1.0) * 0.2, 4) AS s
       |  FROM s),
       |cal AS (SELECT s FROM q WHERE doc_id % 2 = 0),
       |tot AS (SELECT COUNT(*) AS n_cal FROM cal),
       |r AS (SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS i FROM cal),
       |qh AS (
       |  SELECT MIN(s) AS qhat FROM r
       |  WHERE i >= ceil(((SELECT n_cal FROM tot) + 1) * ${1.0 - alpha})),
       |ev AS (SELECT s FROM q WHERE doc_id % 2 = 1)
       |SELECT CAST($alpha AS DOUBLE) AS alpha,
       |  CAST((SELECT n_cal FROM tot) AS BIGINT) AS n_cal,
       |  ROUND((SELECT qhat FROM qh), 4) AS qhat,
       |  CAST(COUNT(*) AS BIGINT) AS n_eval,
       |  CAST(SUM(CASE WHEN s > (SELECT qhat FROM qh)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       |  ROUND(CAST(SUM(CASE WHEN s > (SELECT qhat FROM qh)
       |    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS flag_rate
       |FROM ev""".stripMargin
}
