package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.PrefixSum

/** Threshold-free classifier evaluation at corpus scale — ROC AUC via
  * the Mann–Whitney U identity (AUC = P(score⁺ > score⁻) + ½P(tie)),
  * the metric every quality-filter / language-ID / toxicity scorer in
  * a training-data pipeline is judged by before its threshold is
  * chosen.
  *
  * Scale shape — the textbook computation ranks every row by score,
  * which on Spark is a GLOBAL window (single task; banned here for
  * the same reason as q128's exact-ntile RFM). The distributed form
  * exploits that AUC only depends on the score DISTRIBUTION per
  * class, not on row identity:
  *   1. one corpus-scale grouped agg to the distinct-score table
  *      `(score, n_pos, n_neg)` — scores in these pipelines are
  *      rounded/bucketed (this engine rounds quality to 4 decimals),
  *      so the table is at most ~10⁴ rows regardless of corpus size;
  *   2. running counts over THAT table ([[PrefixSum]]) give the
  *      negatives strictly below each score; AUC = Σ_s n_pos(s)·
  *      (cneg_below(s) + ½·n_neg(s)) / (P·N) — the ½ term IS the
  *      tied-pair correction, identical to average-rank Mann–Whitney.
  * Continuous scores take the same path after an explicit
  * `round(score, d)` (a documented resolution choice, not a silent
  * approximation: with d decimals the bucketing perturbs AUC by at
  * most the mass of within-bucket pairs).
  */
object ClassifierEval {

  /** Distinct-score class-count table: `(score, n_pos, n_neg)`. Its
    * NULL-score group has no rank: [[PrefixSum]] drops it, and so must
    * every total. Not a filter: Spark pushes a filter on the grouping
    * key below the agg, which evaluates a computed score twice. */
  private def scoreTable(scored: DataFrame, scoreCol: String,
      labelCol: String): DataFrame =
    scored
      .groupBy(col(scoreCol).cast("double").as("score"))
      .agg(
        sum(when(col(labelCol), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("n_neg"))

  /** One-row AUC summary: `(n_pos, n_neg, n_scores, auc, gini)`.
    * `labelCol` must be boolean; `scoreCol` numeric (already
    * discretized — round it first if continuous). Gini = 2·AUC − 1,
    * the rescaling credit-scoring reports use. Returns AUC 0.5 on a
    * degenerate corpus (single class): no ordering evidence either
    * way. */
  def aucSummary(scored: DataFrame, scoreCol: String,
      labelCol: String): DataFrame =
    PrefixSum.running(scoreTable(scored, scoreCol, labelCol), "score",
        Seq("n_neg"), Nil)   // bounded score table: one task
      .agg(
        sum("n_pos").as("n_pos"),
        sum("n_neg").as("n_neg"),
        count(lit(1)).as("n_scores"),
        // negatives strictly below the score, plus half the tied ones
        sum(col("n_pos") *
          ((col("n_neg_cum") - col("n_neg")).cast("double") +
            col("n_neg").cast("double") / 2.0)).as("__u"))
      .select(
        col("n_pos"), col("n_neg"), col("n_scores"),
        round(when(col("n_pos") === 0 || col("n_neg") === 0, 0.5)
          .otherwise(col("__u") /
            (col("n_pos").cast("double") * col("n_neg").cast("double"))),
          6).as("auc"))
      .withColumn("gini", round(col("auc") * 2.0 - 1.0, 6))

  /** The distinct-score table with the class totals `__p`, `__n` and
    * the class counts at or above each score, `__tp` and `__fp` — the
    * rule "predict positive when score ≥ s" at every threshold. */
  private def atOrAbove(scored: DataFrame, scoreCol: String,
      labelCol: String): DataFrame = {
    val byScore = scoreTable(scored, scoreCol, labelCol)
    val ranked = col("score").isNotNull
    val totals = byScore.agg(sum(when(ranked, col("n_pos"))).as("__p"),
      sum(when(ranked, col("n_neg"))).as("__n"))
    PrefixSum.running(byScore, "score", Seq("n_pos", "n_neg"), Nil)   // bounded
      .crossJoin(broadcast(totals))  // 1-row stat factor, not data-sized
      // at or above s = the total less what lies strictly below s
      .withColumn("__tp", col("__p") - col("n_pos_cum") + col("n_pos"))
      .withColumn("__fp", col("__n") - col("n_neg_cum") + col("n_neg"))
  }

  /** ROC curve at score-distribution resolution: one point per
    * distinct score threshold — `(score, tpr, fpr, prec)` for
    * the rule "predict positive when score ≥ s", descending-score
    * order so the curve reads left-to-right from (0,0). Same two-agg
    * dataflow as [[aucSummary]]; the curve table is what a threshold
    * chooser actually plots, and its trapezoid sum re-derives AUC
    * (asserted in the spec). */
  def rocCurve(scored: DataFrame, scoreCol: String,
      labelCol: String): DataFrame =
    atOrAbove(scored, scoreCol, labelCol)
      .select(
        col("score"),
        round(col("__tp").cast("double") / col("__p"), 6).as("tpr"),
        round(col("__fp").cast("double") / col("__n"), 6).as("fpr"),
        round(col("__tp").cast("double") /
          (col("__tp") + col("__fp")).cast("double"), 6).as("prec"))
      .orderBy(col("score").desc)

  /** Average precision (the area under the precision–recall curve in
    * its standard step-interpolated form, as in the TREC/IR and
    * object-detection literature): AP = Σ_s Δrecall(s)·precision(s)
    * over descending score thresholds. The class-imbalance-honest
    * companion to [[aucSummary]]: ROC AUC is blind to the
    * positive:negative ratio (a 1:10⁴ corpus can post AUC 0.99 while
    * every alert is noise); AP is anchored to precision, so it
    * collapses exactly when the alert queue would. One row
    * `(n_pos, n_neg, n_scores, avg_prec)`; NULL AP with no
    * positives. Same two-agg distinct-score dataflow as
    * [[rocCurve]]. */
  def averagePrecision(scored: DataFrame, scoreCol: String,
      labelCol: String): DataFrame =
    atOrAbove(scored, scoreCol, labelCol)
      .agg(
        first("__p").as("n_pos"), first("__n").as("n_neg"),
        count(lit(1)).as("n_scores"),
        sum(col("n_pos").cast("double") *
          (col("__tp").cast("double") /
            (col("__tp") + col("__fp")).cast("double"))).as("__s"))
      .select(
        col("n_pos"), col("n_neg"), col("n_scores"),
        round(when(col("n_pos") > 0,
          col("__s") / col("n_pos").cast("double")), 6).as("avg_prec"))

  /** Youden-J optimal operating point (Youden, Cancer 1950): the
    * score threshold maximizing J = TPR − FPR over the [[rocCurve]] —
    * the one-row "where do I actually set the cutoff" answer the full
    * curve defers. Ties in J (at the curve's 6-decimal resolution) go
    * to the HIGHER threshold (fewer positives for the same J). One
    * row: `(threshold, tpr, fpr, prec, j_stat)`.
    *
    * Scale shape: the ROC's score-cardinality table, one ordered
    * limit. */
  def youdenThreshold(scored: DataFrame, scoreCol: String,
      labelCol: String): DataFrame =
    rocCurve(scored, scoreCol, labelCol)
      .withColumn("j_stat", round(col("tpr") - col("fpr"), 6))
      .orderBy(col("j_stat").desc, col("score").desc)
      .limit(1)
      .select(col("score").as("threshold"), col("tpr"), col("fpr"),
        col("prec"), col("j_stat"))

  /** Thresholded confusion summary — the DEPLOYED-cutoff verdict the
    * threshold-free shelf (AUC q202, ROC q205, AP q386, Youden q345)
    * defers: Matthews correlation (Matthews, BBA 1975 — the
    * imbalance-honest single number: the Pearson correlation of the
    * binary prediction/label pair, 0 for any constant classifier
    * however skewed the base rate), F1, balanced accuracy, and
    * informedness (= Youden's J at THIS threshold) for the rule
    * "predict positive when score ≥ threshold".
    *
    * Degenerate margins (a constant classifier or a single-class
    * corpus) make MCC 0/0 — reported NULL (undefined correlation),
    * while F1/balanced-accuracy/informedness coalesce their empty
    * ratios to 0 (no retrieval, no skill — their natural floors).
    *
    * Scale shape: ONE corpus aggregate to the 4-cell confusion —
    * map-side partial, no shuffle beyond the 1-row reduce. One row
    * `(tp, fp, tn, fn, mcc, f1, balanced_acc, informedness)`. */
  def confusionSummary(scored: DataFrame, scoreCol: String,
      labelCol: String, threshold: Double): DataFrame = {
    val pred = col(scoreCol).cast("double") >= threshold
    val y = col(labelCol)
    val m = scored.agg(
      sum(when(pred && y, 1L).otherwise(0L)).as("__tp"),
      sum(when(pred && !y, 1L).otherwise(0L)).as("__fp"),
      sum(when(!pred && !y, 1L).otherwise(0L)).as("__tn"),
      sum(when(!pred && y, 1L).otherwise(0L)).as("__fn"))
    val tp = col("__tp").cast("double"); val fp = col("__fp").cast("double")
    val tn = col("__tn").cast("double"); val fn = col("__fn").cast("double")
    val mccDen = sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))
    val tpr = when(tp + fn > 0.0, tp / (tp + fn)).otherwise(lit(0.0))
    val tnr = when(tn + fp > 0.0, tn / (tn + fp)).otherwise(lit(0.0))
    m.select(
      col("__tp").as("tp"), col("__fp").as("fp"),
      col("__tn").as("tn"), col("__fn").as("fn"),
      round(when(mccDen > 0.0,
        (tp * tn - fp * fn) / mccDen), 6).as("mcc"),
      round(when(tp * 2.0 + fp + fn > 0.0,
        tp * 2.0 / (tp * 2.0 + fp + fn)).otherwise(lit(0.0)), 6)
        .as("f1"),
      round((tpr + tnr) / 2.0, 6).as("balanced_acc"),
      round(tpr + tnr - 1.0, 6).as("informedness"))
  }
}
