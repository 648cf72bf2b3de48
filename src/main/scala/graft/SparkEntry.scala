package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.io.Sources
import graft.marts.DailyStoreMetrics
import graft.staging.Staging
import graft.lake.MergeWriter
import graft.quality.Expectations
import graft.quality.Expectations._
import graft.functions.TextFunctions
import graft.operators.{Dedup, DupClusters, Similarity, Multimodal, AsOfJoin, Sessionize, RangeJoin}
import graft.streaming.Streams

/** Driver contract — one named query per implemented operator
  * (SURVEY.md §2), each with DuckDB oracle SQL where SQL-expressible.
  *
  * Determinism discipline (SURVEY §7.4): every query ends in a stable
  * `orderBy` on a key prefix; every double aggregate is `round`ed; every
  * int that DuckDB widens to BIGINT is cast to bigint on the Spark side;
  * dates are compared as pushdown-friendly timestamp bounds.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Sources.table(s, dir, name)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    DailyStoreMetrics.build(t(spark, dir, "orders"), t(spark, dir, "events"))
  }

  /** Column specs (name, isNumeric) profiled by q191 — one list
    * drives BOTH the engine plan and the DuckDB oracle. */
  val profiledOrderCols: Seq[(String, Boolean)] = Seq(
    ("o_orderkey", true), ("o_custkey", true),
    ("o_orderstatus", false), ("o_totalprice", true),
    ("o_orderpriority", false))

  /** The q205 ROC oracle, extracted so q345's Youden oracle can wrap
    * the SAME curve as a CTE — one definition drives both. */
  private val rocOracleQ205: String =
    """WITH t AS (
      |  SELECT str_split_regex(trim(text), '\s+') AS toks, lang
      |  FROM documents),
      |s AS (
      |  SELECT lang,
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
      |  SELECT ROUND(
      |      LEAST(n / 16.0, 1.0) * 0.4 +
      |      (CASE WHEN sumlen / n BETWEEN 2.0 AND 9.0
      |            THEN 1.0 ELSE 0.5 END) * 0.4 +
      |      LEAST(stop_all / n * 4.0, 1.0) * 0.2, 4) AS score,
      |    (lang = 'en') AS label
      |  FROM s),
      |bys AS (
      |  SELECT score,
      |    SUM(CASE WHEN label THEN 1 ELSE 0 END) AS n_pos,
      |    SUM(CASE WHEN label THEN 0 ELSE 1 END) AS n_neg
      |  FROM q GROUP BY score),
      |acc AS (
      |  SELECT score,
      |    SUM(n_pos) OVER (ORDER BY score DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
      |    SUM(n_neg) OVER (ORDER BY score DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
      |  FROM bys),
      |tot AS (
      |  SELECT SUM(n_pos) AS p, SUM(n_neg) AS nn FROM bys)
      |SELECT score,
      |  ROUND(CAST(tp AS DOUBLE) / (SELECT p FROM tot), 6) AS tpr,
      |  ROUND(CAST(fp AS DOUBLE) / (SELECT nn FROM tot), 6) AS fpr,
      |  ROUND(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) AS prec
      |FROM acc ORDER BY score DESC""".stripMargin

  /** DuckDB oracle for q409 — the [[rocOracleQ205]] score/label CTEs
    * reduced to the 4-cell confusion at threshold 0.5, with MCC and
    * companions (margins cast to DOUBLE before multiplying, matching
    * the engine's float path — the integer product overflows i64). */
  private val mccOracleQ409: String =
    """WITH t AS (
      |  SELECT str_split_regex(trim(text), '\s+') AS toks, lang
      |  FROM documents),
      |s AS (
      |  SELECT lang,
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
      |  SELECT ROUND(
      |      LEAST(n / 16.0, 1.0) * 0.4 +
      |      (CASE WHEN sumlen / n BETWEEN 2.0 AND 9.0
      |            THEN 1.0 ELSE 0.5 END) * 0.4 +
      |      LEAST(stop_all / n * 4.0, 1.0) * 0.2, 4) AS score,
      |    (lang = 'en') AS label
      |  FROM s),
      |m AS (
      |  SELECT
      |    SUM(CASE WHEN score >= 0.5 AND label THEN 1 ELSE 0 END) AS tp,
      |    SUM(CASE WHEN score >= 0.5 AND NOT label THEN 1 ELSE 0 END) AS fp,
      |    SUM(CASE WHEN score < 0.5 AND NOT label THEN 1 ELSE 0 END) AS tn,
      |    SUM(CASE WHEN score < 0.5 AND label THEN 1 ELSE 0 END) AS fn
      |  FROM q),
      |d AS (
      |  SELECT CAST(tp AS DOUBLE) AS tp, CAST(fp AS DOUBLE) AS fp,
      |    CAST(tn AS DOUBLE) AS tn, CAST(fn AS DOUBLE) AS fn
      |  FROM m)
      |SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
      |  CAST(tn AS BIGINT) AS tn, CAST(fn AS BIGINT) AS fn,
      |  ROUND(CASE WHEN (tp+fp)*(tp+fn)*(tn+fp)*(tn+fn) > 0 THEN
      |    (tp*tn - fp*fn) /
      |    SQRT((tp+fp)*(tp+fn)*(tn+fp)*(tn+fn)) END, 6) AS mcc,
      |  ROUND(CASE WHEN 2*tp+fp+fn > 0
      |    THEN 2*tp/(2*tp+fp+fn) ELSE 0.0 END, 6) AS f1,
      |  ROUND(((CASE WHEN tp+fn > 0 THEN tp/(tp+fn) ELSE 0.0 END) +
      |    (CASE WHEN tn+fp > 0 THEN tn/(tn+fp) ELSE 0.0 END)) / 2.0,
      |    6) AS balanced_acc,
      |  ROUND((CASE WHEN tp+fn > 0 THEN tp/(tp+fn) ELSE 0.0 END) +
      |    (CASE WHEN tn+fp > 0 THEN tn/(tn+fp) ELSE 0.0 END) - 1.0,
      |    6) AS informedness
      |FROM d""".stripMargin

  /** DuckDB oracle for q386 — the [[rocOracleQ205]] score/label CTEs
    * reduced to the one-row step-interpolated average precision. */
  private val apOracleQ386: String =
    """WITH t AS (
      |  SELECT str_split_regex(trim(text), '\s+') AS toks, lang
      |  FROM documents),
      |s AS (
      |  SELECT lang,
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
      |  SELECT ROUND(
      |      LEAST(n / 16.0, 1.0) * 0.4 +
      |      (CASE WHEN sumlen / n BETWEEN 2.0 AND 9.0
      |            THEN 1.0 ELSE 0.5 END) * 0.4 +
      |      LEAST(stop_all / n * 4.0, 1.0) * 0.2, 4) AS score,
      |    (lang = 'en') AS label
      |  FROM s),
      |bys AS (
      |  SELECT score,
      |    SUM(CASE WHEN label THEN 1 ELSE 0 END) AS n_pos,
      |    SUM(CASE WHEN label THEN 0 ELSE 1 END) AS n_neg
      |  FROM q GROUP BY score),
      |acc AS (
      |  SELECT score, n_pos,
      |    SUM(n_pos) OVER (ORDER BY score DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
      |    SUM(n_neg) OVER (ORDER BY score DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
      |  FROM bys),
      |tot AS (
      |  SELECT SUM(n_pos) AS p, SUM(n_neg) AS nn FROM bys)
      |SELECT (SELECT CAST(p AS BIGINT) FROM tot) AS n_pos,
      |  (SELECT CAST(nn AS BIGINT) FROM tot) AS n_neg,
      |  CAST(COUNT(*) AS BIGINT) AS n_scores,
      |  ROUND(CASE WHEN (SELECT p FROM tot) > 0 THEN
      |    SUM(CAST(n_pos AS DOUBLE) *
      |      (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE))) /
      |    (SELECT CAST(p AS DOUBLE) FROM tot) END, 6) AS avg_prec
      |FROM acc""".stripMargin

  /** (determinant, dependent) shortlist for the q336 g3 pass — the
    * key column (exact FDs, g3 = 0) plus the near/violated pairs the
    * q211 report surfaces; one list drives engine + oracle. */
  val g3Pairs: Seq[(String, String)] = Seq(
    ("o_orderkey", "o_orderstatus"),
    ("o_custkey", "o_orderstatus"),
    ("o_custkey", "o_orderpriority"),
    ("o_orderstatus", "o_orderpriority"),
    ("o_orderpriority", "o_orderstatus"),
    ("o_totalprice", "o_custkey"))

  /** One entry per implemented operator from SURVEY.md §2 — RAW
    * registrations. The public [[queries]] applies [[canonPlan]]'s
    * hash-stable canonicalization on top; register here, and if the
    * query is oracled and emits round()-produced doubles, add a
    * [[canonPlan]] entry (PlanAudit fails the build otherwise). */
  private[graft] def registered: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- Bartlett variance homogeneity: the parametric sibling of
    //      q324's Brown-Forsythe — read the DISAGREEMENT (BF quiet +
    //      Bartlett loud = kurtosis, not variance) ----
    "q350_bartlett" -> ((s, dir) =>
      graft.operators.Homogeneity.bartlett(t(s, dir, "orders"),
        col("o_orderpriority"), col("o_totalprice"))),

    // ---- Cramér's V (+ Bergsma bias correction): the effect size
    //      behind q286/q346's chi-square significance ----
    "q351_cramers_v" -> ((s, dir) =>
      graft.quality.Dependencies.cramersV(t(s, dir, "orders"),
        col("o_orderpriority"), col("o_orderstatus"))),

    // ---- Participation ratio: linear effective dimension
    //      (tr C)²/‖C‖²F from the q241 covariance triangle — no
    //      eigensolve, exact parity by construction ----
    "q352_participation_ratio" -> ((s, dir) =>
      graft.operators.Dimensionality.participationRatio(
        t(s, dir, "embeddings"))),

    // ---- Balanced per-class downsample to the minority class, with
    //      an id checksum pinning the EXACT kept set ----
    "q353_balanced_sample" -> ((s, dir) =>
      graft.operators.Sampling.balancedByClass(
        t(s, dir, "documents"), "lang", "doc_id", "n_chars")),

    // ---- C4.5 gain-ratio feature ranking: which cheap metadata
    //      column predicts lang — what to stratify/route on before
    //      paying for a classifier ----
    "q354_gain_ratio" -> ((s, dir) =>
      graft.operators.FeatureRank.gainRatio(t(s, dir, "documents"),
        col("lang"), Seq(
          ("digit_flag", col("text").rlike("[0-9]")),
          ("len_bucket", when(col("n_chars") < 120, "xs")
            .when(col("n_chars") < 300, "s")
            .when(col("n_chars") < 800, "m").otherwise("l")),
          ("source", col("source"))))),

    // ---- TwoNN intrinsic dimension (Facco 2017): manifold dim from
    //      exact 1st/2nd-NN distance ratios over the q332 probe
    //      sample — read against q352's LINEAR dimension ----
    "q355_intrinsic_dim" -> ((s, dir) =>
      graft.operators.Dimensionality.twoNN(t(s, dir, "embeddings"))),

    // ---- Hubness: skewness of the k-occurrence distribution — the
    //      high-dim failure mode that silently poisons kNN dedup ----
    "q356_hubness" -> ((s, dir) =>
      graft.operators.Dimensionality.hubness(t(s, dir, "embeddings"))),

    // ---- Fisher's exact 2×2 (log-ratio recurrence, no lgamma):
    //      the small-cell regime where q351's chi-square is invalid ----
    "q357_fisher_exact" -> ((s, dir) =>
      graft.operators.ExactTests.fisherExact(t(s, dir, "customer"),
        col("c_acctbal") < 0, col("c_mktsegment") === "BUILDING")),

    // ---- Wilcoxon signed-rank + sign test on paired per-user half
    //      counts: the continuous-magnitude sibling of q310's
    //      McNemar, integer-exact by construction ----
    "q358_signed_rank" -> ((s, dir) =>
      graft.operators.PairedTests.signedRankHalves(
        t(s, dir, "events"))),

    // ---- Jonckheere-Terpstra ordered trend: does order count RISE
    //      with balance band — the directional question q290's
    //      Kruskal-Wallis can't ask ----
    "q359_jonckheere" -> ((s, dir) => {
      val pc = t(s, dir, "customer")
        .join(t(s, dir, "orders"),
          col("o_custkey") === col("c_custkey"), "left")
        .groupBy(col("c_custkey"),
          when(col("c_acctbal") < 0, 0)
            .when(col("c_acctbal") < 5000, 1).otherwise(2).as("g"))
        .agg(count(col("o_orderkey")).as("v"))
      graft.operators.Homogeneity.jonckheere(pc, col("g"), col("v"))
    }),

    // ---- HITS hubs/authorities over the q150 navigation graph:
    //      router pages vs destination pages, the two-sided
    //      importance PageRank collapses ----
    "q360_hits" -> ((s, dir) =>
      graft.operators.GraphRank.navigationHits(s,
        t(s, dir, "events"))),

    // ---- Banded DTW between the view/click daily-count series:
    //      elastic alignment distance where q228's CCF only sees
    //      fixed lags; integer-exact DP, oracle replays it with one
    //      materialized CTE per anti-diagonal ----
    "q361_dtw" -> ((s, dir) =>
      graft.operators.TimeWarp.dtwDaily(t(s, dir, "events"),
        "view", "click")),

    // ---- TOST equivalence: the "is B the SAME as A within ±10%"
    //      verdict q248's non-significant t cannot give ----
    "q362_tost" -> ((s, dir) => {
      val u = t(s, dir, "events")
        .where(col("event_type") === "purchase")
        .groupBy("user_id").agg(sum("value").as("m"))
      graft.operators.Experiment.tostEquivalence(u,
        col("user_id") % 2 === 1, col("m"))
    }),

    // ---- First-order partial correlation: price↔quantity with
    //      discount held constant — the confounder check q243's
    //      pairwise matrix can't make ----
    "q363_partial_corr" -> ((s, dir) =>
      graft.quality.Correlation.partialCorrelation(
        t(s, dir, "lineitem"),
        "l_extendedprice", "l_quantity", "l_discount")),

    // ---- Cronbach's alpha over per-user event-type counts: is
    //      "engagement" one trait — the justification behind q69's
    //      composite profiles ----
    "q364_cronbach_alpha" -> ((s, dir) =>
      graft.operators.Reliability.cronbachAlpha(
        t(s, dir, "events"), col("user_id"), col("event_type"))),

    // ---- Streaming engagement-reliability monitor: per-batch
    //      (user, type) cell increments folded replay-safe; additive
    //      cells, so the q364 batch oracle applies verbatim ----
    "q365_stream_cronbach" -> ((s, dir) => {
      val root = graft.util.TempDirs.create("graft_q365")
      graft.streaming.EngagementMatrix.monitor(s, dir,
        "events.parquet", root.resolve("matrix").toString,
        root.resolve("ckpt").toString)
      graft.streaming.EngagementMatrix.dashboard(s,
        root.resolve("matrix").toString)
    }),

    // ---- Mood's median test: the outlier-proof k-sample location
    //      check beside q290's Kruskal-Wallis ----
    "q366_mood_median" -> ((s, dir) =>
      graft.operators.Homogeneity.moodMedian(t(s, dir, "orders"),
        col("o_orderpriority"), col("o_totalprice"))),

    // ---- Cohen's h on per-user conversion: effect size in
    //      power-analysis units beside q255's SRM chi-square ----
    "q367_cohens_h" -> ((s, dir) => {
      val u = t(s, dir, "events")
        .groupBy("user_id")
        .agg((max(when(col("event_type") === "purchase", 1)
          .otherwise(0)) === 1).as("s"))
      graft.operators.Experiment.cohensH(u,
        col("user_id") % 2 === 1, col("s"))
    }),

    // ---- Jarque-Bera normality: the one-row audit behind every
    //      ±1.96σ readout the monitoring tier emits ----
    "q368_jarque_bera" -> ((s, dir) =>
      graft.operators.Normality.jarqueBera(t(s, dir, "orders"),
        col("o_totalprice"))),

    // ---- Wald IV estimator: intent-to-treat lift rescaled by the
    //      first stage — the causal number when exposure (clicking)
    //      is self-selected but assignment is the instrument ----
    "q369_iv_wald" -> ((s, dir) => {
      val u = t(s, dir, "events").groupBy("user_id").agg(
        max(when(col("event_type") === "click", 1).otherwise(0))
          .cast("double").as("x"),
        coalesce(sum(when(col("event_type") === "purchase",
          col("value"))), lit(0.0)).as("y"))
      graft.operators.CausalPanel.ivWald(u,
        col("user_id") % 2 === 1, col("x"), col("y"))
    }),

    // ---- Cox proportional hazards (binary covariate, Breslow
    //      ties): the hazard RATIO q251's log-rank only tests;
    //      Newton replayed step-for-step by the oracle ----
    "q370_cox_ph" -> ((s, dir) =>
      graft.operators.CoxPh.fit(t(s, dir, "events"))),

    // ---- Mantel-Haenszel pooled OR + CMH chi-square over the q344
    //      strata: after Simpson's paradox is flagged, the
    //      within-stratum effect ----
    "q371_mantel_haenszel" -> ((s, dir) => {
      val pu = t(s, dir, "events").groupBy("user_id").agg(
        count(lit(1)).as("n_ev"),
        (max(when(col("event_type") === "purchase", 1)
          .otherwise(0)) === 1).as("y"))
      graft.operators.CausalPanel.mantelHaenszel(pu,
        when(col("n_ev") <= 62, "low")
          .when(col("n_ev") <= 70, "mid").otherwise("high"),
        col("user_id") % 2 === 1, col("y"))
    }),

    // ---- Newman modularity of the page-section partition: do users
    //      navigate within sections — the coherence check behind the
    //      whole graph tier ----
    "q372_modularity" -> ((s, dir) =>
      graft.operators.GraphAudit.modularity(t(s, dir, "events"))),

    // ---- Degree assortativity: hub-to-hub vs hub-to-leaf wiring of
    //      the navigation graph ----
    "q373_assortativity" -> ((s, dir) =>
      graft.operators.GraphAudit.assortativity(t(s, dir, "events"))),

    // ---- Edge/weight reciprocity: back-and-forth navigation vs
    //      one-way funnels ----
    "q374_reciprocity" -> ((s, dir) =>
      graft.operators.GraphAudit.reciprocity(t(s, dir, "events"))),

    // ---- Lilliefors ECDF normality: the whole-CDF complement of
    //      q368's moment-based Jarque-Bera; Φ via the A&S 26.2.17
    //      polynomial shared verbatim with the oracle ----
    "q375_lilliefors" -> ((s, dir) =>
      graft.operators.Normality.lilliefors(t(s, dir, "orders"),
        col("o_totalprice"))),

    // ---- Cohen's d / Hedges' g on the q248 fixture: the effect
    //      size in pooled-SD units the Welch t-stat lacks ----
    "q376_cohens_d" -> ((s, dir) => {
      val u = t(s, dir, "events")
        .where(col("event_type") === "purchase")
        .groupBy("user_id").agg(sum("value").as("m"))
      graft.operators.Experiment.cohensD(u,
        col("user_id") % 2 === 1, col("m"))
    }),

    // ---- Classic one-way ANOVA on order totals by priority: the
    //      means-comparison member of the k-sample shelf (KW q290
    //      ranks, Mood q366 medians, Brown–Forsythe q324 spreads) ----
    "q377_oneway_anova" -> ((s, dir) =>
      graft.operators.Anova.onewayF(t(s, dir, "orders"),
        col("o_orderpriority"), col("o_totalprice"))),

    // ---- Cramér–von Mises 2-sample on the q295 weekday/weekend
    //      cohorts: integrated-squared-ECDF-gap drift, the mid-curve
    //      complement to KS's sup-norm and AD's tail weighting ----
    "q378_cvm_twosample" -> ((s, dir) =>
      graft.operators.Drift.cvmTwoSample(t(s, dir, "events"),
        dayofweek(col("ts")).isin(1, 7), col("value"))),

    // ---- Restricted mean survival time: area under the q247 KM
    //      curve to the last event day, with the Klein–Moeschberger
    //      variance — expected active days per user ----
    "q379_rmst" -> ((s, dir) =>
      graft.operators.Survival.rmst(t(s, dir, "events"),
        horizonDays = 1)),

    // ---- Gehan–Breslow weighted log-rank on the q251 cohorts:
    //      early-divergence-sensitive survival comparison ----
    "q380_gehan_wilcoxon" -> ((s, dir) =>
      graft.operators.Survival.gehanWilcoxon(t(s, dir, "events"),
        col("user_id") % 2 === 1, horizonDays = 1)),

    // ---- Atkinson inequality (ε = 0.5/1/2) of per-customer spend:
    //      the welfare-weighted index beside Gini (q311) and
    //      Theil (q326), each ε dialing tail sensitivity ----
    "q381_atkinson" -> ((s, dir) =>
      graft.operators.Inequality.atkinson(
        t(s, dir, "orders").groupBy("o_custkey")
          .agg(sum("o_totalprice").as("x")),
        col("x"))),

    // ---- Breusch–Pagan (Koenker) heteroskedasticity on the q269
    //      per-type OLS residuals: the variance-constancy leg of the
    //      OLS diagnostics (q281 DW covers independence) ----
    "q382_breusch_pagan" -> ((s, dir) =>
      graft.operators.Regression.breuschPagan(t(s, dir, "events"))),

    // ---- D'Agostino–Pearson K² omnibus on order totals: the
    //      finite-n refinement of q368's Jarque–Bera (Johnson-SU +
    //      Anscombe–Glynn z-transforms before the χ²) ----
    "q383_dagostino_k2" -> ((s, dir) =>
      graft.operators.Normality.dagostinoK2(t(s, dir, "orders"),
        col("o_totalprice"))),

    // ---- Page's L ordered-alternative trend across weekdays within
    //      event-type blocks: the ordered counterpart of q325's
    //      Friedman ----
    "q384_page_trend" -> ((s, dir) =>
      graft.operators.Homogeneity.pageTrend(t(s, dir, "events"),
        col("event_type"), dayofweek(col("ts")), col("value"))),

    // ---- Sample entropy of the daily count series: the regularity
    //      dial beside spectral entropy (q335) and ACF (q213);
    //      tolerance snapped to the 6-decimal grid pre-comparison ----
    "q385_sample_entropy" -> ((s, dir) =>
      graft.operators.Anomaly.sampleEntropy(t(s, dir, "events"))),

    // ---- Average precision (step-interpolated PR-curve area) on the
    //      q205 quality-score fixture: the imbalance-honest summary
    //      beside ROC AUC (q202) ----
    "q386_avg_precision" -> ((s, dir) =>
      graft.operators.ClassifierEval.averagePrecision(
        t(s, dir, "documents").select(
          TextFunctions.qualityScore(col("text")).as("score"),
          (col("lang") === "en").as("label")),
        "score", "label")),

    // ---- Wilson score intervals for per-weekday purchase share:
    //      the [0,1]-safe rate CI the Wald interval isn't ----
    "q387_wilson_intervals" -> ((s, dir) =>
      graft.operators.Experiment.wilsonIntervals(t(s, dir, "events"),
        dayofweek(col("ts")).cast("long"),
        col("event_type") === "purchase")),

    // ---- Hodges–Lehmann shift between weekend/weekday daily
    //      revenue: the robust effect size beside Mann–Whitney
    //      (q249); days² pair grid, calendar-bounded ----
    "q388_hodges_lehmann" -> ((s, dir) =>
      graft.operators.Experiment.hodgesLehmann(t(s, dir, "events"),
        dayofweek(col("ts")).isin(1, 7))),

    // ---- Kendall's W concordance of weekday orderings across
    //      event-type blocks: the effect size for q325's Friedman ----
    "q389_kendall_w" -> ((s, dir) =>
      graft.operators.Homogeneity.kendallW(t(s, dir, "events"),
        col("event_type"), dayofweek(col("ts")), col("value"))),

    // ---- ICC(1) of order totals within customers: the clustering /
    //      design-effect dial behind every per-row standard error ----
    "q390_icc" -> ((s, dir) =>
      graft.operators.Anova.icc1(t(s, dir, "orders"),
        col("o_custkey"), col("o_totalprice"))),

    // ---- Exact all-pairs BFS over the page graph: per-page
    //      eccentricity/reach/mean distance (diameter = max ecc) —
    //      the geometry audit beside modularity (q372) ----
    "q391_graph_distances" -> ((s, dir) =>
      graft.operators.GraphAudit.bfsDistances(t(s, dir, "events"))),

    // ---- Dunning G² keyness: per-token log-likelihood ratio between
    //      the English slice and the rest — the word-level answer to
    //      q234's corpus-level lexical KL ----
    "q392_dunning_llr" -> ((s, dir) =>
      graft.operators.Keyness.dunningLlr(t(s, dir, "documents"),
        col("lang") === "en")),

    // ---- Monroe–Colaresi–Quinn shrunken log-odds ("Fightin'
    //      Words"): Dirichlet-prior z-scores that don't explode on
    //      rare words the way raw log-odds (and G² ranks) can ----
    "q393_fightin_words" -> ((s, dir) =>
      graft.operators.Keyness.monroeLogOdds(t(s, dir, "documents"),
        col("lang") === "en")),

    // ---- Bigram collocations: PMI strength + t-score confidence,
    //      the phrase-vocabulary builder beside BPE (q140) ----
    "q394_collocations" -> ((s, dir) =>
      graft.operators.Keyness.collocations(t(s, dir, "documents"))),

    // ---- IPW ATT beside q313's CEM: odds-weighted controls on the
    //      same stratum/outcome design, treatment = heavy error
    //      exposure (fixed cutoff) — the estimator robustness pair ----
    "q395_ipw_att" -> ((s, dir) =>
      graft.operators.Matching.errorImpactIpw(t(s, dir, "events"))),

    // ---- Burrows' Delta stylometry: source-pair style distance on
    //      z-scored top-word frequencies — the template/boilerplate
    //      audit beside content keyness (q392) ----
    "q396_burrows_delta" -> ((s, dir) =>
      graft.operators.Keyness.burrowsDelta(t(s, dir, "documents"))),

    // ---- Lexical richness battery: Yule's K / Honoré R / Sichel S
    //      from the frequency spectrum — size-invariant repetition
    //      fingerprints beside Zipf (q117) and Heaps (q172) ----
    "q397_lexical_richness" -> ((s, dir) =>
      graft.operators.Vocab.lexicalRichness(t(s, dir, "documents"))),

    // ---- Energy distance between weekend/weekday daily revenue:
    //      the metric-geometry two-sample test beside KS/CvM/AD;
    //      days² V-statistic pair grids ----
    "q398_energy_distance" -> ((s, dir) =>
      graft.operators.Drift.energyDistance(t(s, dir, "events"),
        dayofweek(col("ts")).isin(1, 7))),

    // ---- Distance correlation between daily traffic and purchase
    //      revenue: zero iff independent — catches the nonlinear
    //      coupling Pearson (q243) and Granger (q323) can miss ----
    "q399_distance_correlation" -> ((s, dir) =>
      graft.operators.Causality.distanceCorrelation(
        t(s, dir, "events"))),

    // ---- Kuiper's circular uniformity of hour-of-day: the
    //      rotation-invariant KS the diurnal question needs (a
    //      midnight-straddling bump halves a plain KS D) ----
    "q400_kuiper_uniformity" -> ((s, dir) =>
      graft.operators.Drift.kuiperUniformity(t(s, dir, "events"))),

    // ---- Seasonal Mann–Kendall (Hirsch–Slack): q287's trend test
    //      within each weekday season — the weekly cycle q213 finds
    //      would otherwise inflate MK's variance ----
    "q401_seasonal_mann_kendall" -> ((s, dir) =>
      graft.operators.Anomaly.seasonalMannKendall(t(s, dir, "events"))),

    // ---- Bartels rank (von Neumann ratio on ranks): serial
    //      randomness beside the sign-only runs test (q288) and the
    //      model-bound Durbin–Watson (q281) ----
    "q402_bartels_rank" -> ((s, dir) =>
      graft.operators.Anomaly.bartelsRank(t(s, dir, "events"))),

    // ---- Watson U² circular uniformity: the quadratic companion to
    //      Kuiper (q400) — integrates deviation around the cycle via
    //      closed-form rank-stair sums per hour bin ----
    "q403_watson_u2" -> ((s, dir) =>
      graft.operators.Drift.watsonU2(t(s, dir, "events"))),

    // ---- Cucconi location-scale test on weekday/weekend value
    //      cohorts: one statistic for "did the mean OR the spread
    //      move" — squared ranks + squared contra-ranks, asymptotic
    //      exponential null ----
    "q405_cucconi" -> ((s, dir) =>
      graft.operators.TwoSampleRank.cucconi(t(s, dir, "events"),
        dayofweek(col("ts")).isin(1, 7), col("value"))),

    // ---- Lepage location-scale test, same cohorts: Wilcoxon² +
    //      Ansari-Bradley² with exact finite-sampling moments over
    //      the realized tied scores; χ²(2) null ----
    "q406_lepage" -> ((s, dir) =>
      graft.operators.TwoSampleRank.lepage(t(s, dir, "events"),
        dayofweek(col("ts")).isin(1, 7), col("value"))),

    // ---- Conover squared-ranks pure-SCALE test, same cohorts:
    //      ranks of |x − cohort mean| squared, so a location shift
    //      can't masquerade as a spread change ----
    "q407_conover_sqranks" -> ((s, dir) =>
      graft.operators.TwoSampleRank.conoverSquaredRanks(
        t(s, dir, "events"),
        dayofweek(col("ts")).isin(1, 7), col("value"))),

    // ---- Ordinal association (Goodman-Kruskal γ, Somers' d, λ):
    //      priority rank × fixed price band — concordance over the
    //      25-cell contingency, never a row-pair join ----
    "q408_ordinal_assoc" -> ((s, dir) =>
      graft.operators.Ordinal.priceUrgencyAssociation(
        t(s, dir, "orders"))),

    // ---- Thresholded confusion at the deployed cutoff (0.5 on the
    //      q205 quality/lang fixture): MCC, F1, balanced accuracy,
    //      informedness — one corpus agg to a 4-cell confusion ----
    "q409_mcc_confusion" -> ((s, dir) =>
      graft.operators.ClassifierEval.confusionSummary(
        t(s, dir, "documents").select(
          TextFunctions.qualityScore(col("text")).as("score"),
          (col("lang") === "en").as("label")),
        "score", "label", threshold = 0.5)),

    // ---- Fleiss' κ: multi-rater chance-corrected agreement, items
    //      = users, raters = each user's first 5 events (by ts) ----
    "q410_fleiss_kappa" -> ((s, dir) =>
      graft.quality.Agreement.firstEventsFleiss(t(s, dir, "events"))),

    // ---- Krippendorff's α (nominal): the q410 panel WITHOUT the
    //      complete-item filter — variable raters per item, which
    //      Fleiss' fixed-m design cannot read ----
    "q428_krippendorff_alpha" -> ((s, dir) =>
      graft.quality.Agreement.firstEventsKrippendorff(
        t(s, dir, "events"))),

    // ---- Format-contract round-trips: the S5 CSV sink / S1 CSV scan
    //      and the JSON-lines sink / S2 scan, audited against the
    //      parquet source by an identical aggregate — quote escaping,
    //      micros timestamps, and double formatting all pinned ----
    "q429_csv_roundtrip" -> ((s, dir) =>
      graft.io.RoundTrip.csvEvents(s, dir)),
    "q430_jsonl_roundtrip" -> ((s, dir) =>
      graft.io.RoundTrip.jsonlEvents(s, dir)),

    // ---- Partition agreement (Rand / ARI / Fowlkes-Mallows):
    //      documents lang vs source as two corpus partitionings —
    //      pair-counting in closed form from the contingency ----
    "q411_partition_agreement" -> ((s, dir) =>
      graft.operators.ClusterQuality.partitionAgreement(
        t(s, dir, "documents"), col("lang"), col("source"))),

    // ---- Serial-randomness panel over daily revenue: each member
    //      reads a different departure (local-extremum rate, half-
    //      series level shift, record arrival rate, spectral-shape
    //      moments, ordinal-pattern diversity) ----
    "q412_turning_points" -> ((s, dir) =>
      graft.operators.SeriesTests.turningPoints(t(s, dir, "events"))),
    "q413_cox_stuart" -> ((s, dir) =>
      graft.operators.SeriesTests.coxStuart(t(s, dir, "events"))),
    "q414_records_test" -> ((s, dir) =>
      graft.operators.SeriesTests.recordsTest(t(s, dir, "events"))),

    // ---- Pettitt changepoint: where does the rank mass split —
    //      the retrospective nonparametric single-changepoint
    //      locator (CUSUM/Page-Hinkley's batch sibling) ----
    "q434_pettitt" -> ((s, dir) =>
      graft.operators.SeriesTests.pettitt(t(s, dir, "events"))),

    // ---- L-moment profile of daily revenue: bounded, outlier-
    //      resistant CV/skew/kurtosis from order statistics (the
    //      robust sibling of q100's classical moment profile) ----
    "q437_lmoments" -> ((s, dir) =>
      graft.operators.SeriesTests.lMoments(t(s, dir, "events"))),

    // ---- Theta-method forecast (Hyndman-Billah reduction: SES +
    //      half the OLS slope) with the honest SES-vs-theta MAE
    //      delta on the shared backtest window ----
    "q438_theta" -> ((s, dir) =>
      graft.operators.Forecast.theta(t(s, dir, "events"))),

    // ---- Croston + SBA on the INTERMITTENT big-urgent-order
    //      series over the full calendar spine: SES chases zeros,
    //      Croston smooths sizes and intervals separately ----
    "q439_croston" -> ((s, dir) =>
      graft.operators.Forecast.croston(t(s, dir, "orders"))),

    // ---- c-chart on daily error counts: Poisson +/-3*sqrt(cbar)
    //      limits, LCL floored at 0 ----
    "q440_c_chart" -> ((s, dir) =>
      graft.operators.ControlCharts.cChart(t(s, dir, "events"))),

    // ---- u-chart on errors per active user with per-day varying
    //      exposure limits: quiet days need wilder rates to signal ----
    "q441_u_chart" -> ((s, dir) =>
      graft.operators.ControlCharts.uChart(t(s, dir, "events"))),

    // ---- trend/seasonal strength (Wang-Smith-Hyndman F_T/F_S):
    //      the two-number triage summary of the classical
    //      decomposition q-series (seasonalDecompose) reports in full ----
    "q442_seasonal_strength" -> ((s, dir) =>
      graft.operators.SeriesTests.seasonalStrength(t(s, dir, "events"))),

    // ---- Western Electric run rules 1-4 on the ImR individuals
    //      chart: runs of moderate deviations signal, not just
    //      single +/-3 sigma points ----
    "q443_weco_rules" -> ((s, dir) =>
      graft.operators.ControlCharts.wecoRules(t(s, dir, "events"))),

    // ---- damped-trend Holt per event type (Gardner-McKenzie):
    //      undamped Holt extrapolates a line forever; phi flattens
    //      toward the finite asymptote l + b*phi/(1-phi) ----
    "q444_damped_holt" -> ((s, dir) =>
      graft.operators.Forecast.dampedHolt(t(s, dir, "events"))),

    // ---- Jonckheere-Terpstra ordered-alternative test: do order
    //      values shift MONOTONICALLY across priority classes
    //      (exact integer doubled-midrank pair arithmetic) ----
    "q445_jonckheere" -> ((s, dir) =>
      graft.operators.Ordinal.jonckheereTerpstra(t(s, dir, "orders"))),

    // ---- Diebold-Mariano: is the SES-vs-seasonal-naive MAE gap
    //      (q259's tournament) distinguishable from noise ----
    "q446_diebold_mariano" -> ((s, dir) =>
      graft.operators.Forecast.dieboldMariano(t(s, dir, "events"))),

    // ---- Trigg tracking signal: smoothed error over smoothed |error|
    //      of the SES backtest — the forecast-bias monitor MAE hides ----
    "q447_tracking_signal" -> ((s, dir) =>
      graft.operators.Forecast.trackingSignal(t(s, dir, "events"))),

    // ---- Engle-Granger cointegration: is revenue-per-event a valid
    //      long-run statement while both levels drift (OLS + DF on
    //      residuals, MacKinnon N=2 gate) ----
    "q448_engle_granger" -> ((s, dir) =>
      graft.operators.Stationarity.engleGranger(t(s, dir, "events"))),

    // ---- Newey-West HAC trend inference: the serial-correlation-
    //      honest se beside q269's naive OLS t (same Bartlett lag
    //      rule as KPSS) ----
    "q449_hac_trend" -> ((s, dir) =>
      graft.operators.Regression.hacTrend(t(s, dir, "events"))),

    // ---- within-doc duplicated-5-gram share (Gopher dup_ngram
    //      family): the looping-generator tell, map-only per doc ----
    "q450_intradoc_repetition" -> ((s, dir) =>
      graft.operators.CorpusFilters.intradocRepetition(
        t(s, dir, "documents"))),

    // ---- full additive Holt-Winters: the 3-state recursion with
    //      LEARNED day-of-week slots (q-seasonalHolt's fixed index
    //      can't track a drifting weekly shape) ----
    "q451_holt_winters" -> ((s, dir) =>
      graft.operators.Forecast.holtWinters(t(s, dir, "events"))),

    // ---- Stationarity pair on daily revenue: KPSS (null =
    //      stationary; Bartlett long-run variance) and un-augmented
    //      Dickey-Fuller (null = unit root) — together they split
    //      stationary / unit-root / ambiguous ----
    "q435_kpss" -> ((s, dir) =>
      graft.operators.Stationarity.kpss(t(s, dir, "events"))),
    "q436_dickey_fuller" -> ((s, dir) =>
      graft.operators.Stationarity.dickeyFuller(t(s, dir, "events"))),
    "q415_hjorth" -> ((s, dir) =>
      graft.operators.SeriesTests.hjorth(t(s, dir, "events"))),
    "q416_perm_entropy" -> ((s, dir) =>
      graft.operators.SeriesTests.permutationEntropy(
        t(s, dir, "events"))),

    // ---- Anderson-Darling normality (estimated params, Stephens
    //      case 3): the tail-weighted member beside JB (q368,
    //      moments) and Lilliefors (q375, sup-gap); rank-stair
    //      closed forms over the value-frequency table ----
    "q417_ad_normality" -> ((s, dir) =>
      graft.operators.Normality.adNormality(t(s, dir, "orders"),
        col("o_totalprice"))),

    // ---- ImR chart on daily revenue: sigma from the MOVING RANGE
    //      (short-term variation), not the drift-inflated global
    //      stddev — the no-subgroup Shewhart chart beside q300's
    //      EWMA ----
    "q418_imr_chart" -> ((s, dir) =>
      graft.operators.ControlCharts.imrChart(t(s, dir, "events"))),

    // ---- p-chart on the daily error share with per-day varying
    //      binomial limits: small days need wilder proportions to
    //      signal than big ones ----
    "q419_p_chart" -> ((s, dir) =>
      graft.operators.ControlCharts.pChart(t(s, dir, "events"))),

    // ---- f-divergence distance panel (TV, Bhattacharyya,
    //      Hellinger) between weekday/weekend value histograms:
    //      the bounded-metric drift numbers beside chi2/KL/JS ----
    "q420_hist_distances" -> ((s, dir) =>
      graft.operators.Drift.histogramDistances(t(s, dir, "events"),
        dayofweek(col("ts")).isin(1, 7), col("value"))),

    // ---- Index of dispersion of daily event counts: Poisson D = 1,
    //      bursty ≫ 1, scheduler-regular ≪ 1; Wilson-Hilferty χ²
    //      normal approximation shared verbatim with the oracle ----
    "q421_dispersion_index" -> ((s, dir) =>
      graft.operators.SeriesTests.dispersionIndex(
        t(s, dir, "events"))),

    // ---- Overlapping Allan deviation at τ = 1/2/4 days: does
    //      averaging more days actually stabilize revenue (white
    //      noise: slope −½) or is there drift (flat) ----
    "q422_allan_deviation" -> ((s, dir) =>
      graft.operators.SeriesTests.allanDeviation(
        t(s, dir, "events"))),

    // ---- Nominal association panel (Theil's U, Goodman-Kruskal τ,
    //      both directions): does source leak lang, or lang leak
    //      source — the asymmetric metadata-audit numbers ----
    "q423_nominal_assoc" -> ((s, dir) =>
      graft.operators.Ordinal.nominalAssociation(
        t(s, dir, "documents"), col("source"), col("lang"))),

    // ---- Cressie-Read power divergence (λ=2/3) on the weekday/
    //      weekend event-type mix: the compromise member between
    //      Pearson χ² and the G-test ----
    "q424_cressie_read" -> ((s, dir) =>
      graft.operators.Drift.cressieRead(t(s, dir, "events"),
        dayofweek(col("ts")).isin(1, 7), col("event_type"))),

    // ---- Poisson rate-ratio test on weekday/weekend ERROR arrival
    //      rates per day of exposure (conditional binomial frame) ----
    "q425_poisson_rate" -> ((s, dir) =>
      graft.operators.Drift.poissonRateRatio(
        t(s, dir, "events").where(col("event_type") === "error"),
        dayofweek(col("ts")).isin(1, 7))),

    // ---- Grubbs' single-outlier test on daily revenue: is the
    //      worst day consistent with the Gaussian bulk at this n —
    //      exact critical value via shared Acklam + Cornish-Fisher
    //      t quantile machinery ----
    "q426_grubbs" -> ((s, dir) =>
      graft.operators.Outliers.grubbs(t(s, dir, "events"))),

    // ---- Generalized ESD (Rosner 1983, k = 3 unrolled): moments
    //      re-estimated after each remove-argmax round, so paired
    //      outliers can't mask each other the way they mask Grubbs;
    //      flagged = every round up to the LAST significant one ----
    "q427_gesd" -> ((s, dir) =>
      graft.operators.Outliers.gesd(t(s, dir, "events"))),

    // ---- Quadratic-weighted Cohen's κ on ordinal length tertiles:
    //      the ordered-scale agreement q239's binary κ can't read ----
    "q404_weighted_kappa" -> ((s, dir) => {
      val toks = size(filter(
        graft.functions.TextFunctions.tokens(col("text")),
        x => x =!= ""))
      graft.quality.Agreement.weightedKappa(t(s, dir, "documents"),
        when(col("n_chars") < 220, 0L).when(col("n_chars") < 380, 1L)
          .otherwise(2L),
        when(toks < 40, 0L).when(toks < 70, 1L).otherwise(2L))
    }),

    // ---- Per-type OLS trend with inference: slope/intercept/r²/t on
    //      daily revenue vs day index — the parametric counterpart to
    //      q236's Theil–Sen; closed-form moments, never a residual
    //      vector ----
    "q269_ols_trend" -> ((s, dir) =>
      graft.operators.Regression.olsTrend(t(s, dir, "events"))),

    // ---- Optimal structural break (Chow): one line vs two, best
    //      split by SSE, F-stat for "did the trend change, and when";
    //      calendar²-bounded candidate grid ----
    "q270_breakpoint" -> ((s, dir) =>
      graft.operators.Regression.breakpoint(t(s, dir, "events"))),

    // ---- Kish effective sample size per lang under n_chars
    //      weighting: how many equal-weight docs the stratum is
    //      actually worth; one grouped agg ----
    "q271_ess_weights" -> ((s, dir) =>
      graft.operators.Sampling.effectiveSampleSize(
        t(s, dir, "documents"), "lang", "n_chars")),

    // ---- Empirical-Bayes shrinkage of per-user conversion rates
    //      (beta-binomial MoM): small-n rates pulled toward the
    //      corpus prior — the leaderboard fix; per-user agg + 1-row
    //      prior factor ----
    "q272_eb_shrinkage" -> ((s, dir) =>
      graft.operators.Regression.ebShrinkage(t(s, dir, "events"))),

    // ---- Hill tail index on order value: α̂ ≲ 2 = infinite-variance
    //      tail, the "is the mean a lie" audit; distributed top-k,
    //      arithmetic on k+1 rows ----
    "q273_hill_tail" -> ((s, dir) =>
      graft.operators.Concentration.hillTailIndex(
        t(s, dir, "orders"), "o_totalprice")),

    // ---- Mass-weighted length quantiles per lang: "half the corpus
    //      TOKENS live in docs shorter than X" — the packing
    //      planner's number; tie-safe RANGE cumulative window ----
    "q274_weighted_quantiles" -> ((s, dir) =>
      graft.operators.Sampling.weightedQuantiles(
        t(s, dir, "documents"), "lang", "n_chars", "n_chars")),

    // ---- 2-D skyline (Pareto frontier) of customers: maximize
    //      revenue, minimize order count — grid-pruned order-
    //      statistics formulation, nothing quadratic ----
    "q275_skyline" -> ((s, dir) =>
      graft.operators.Skyline.customerFrontier(t(s, dir, "orders"))),

    // ---- Streaming trend monitor: micro-batches fold into a
    //      replay-safe (type, day) revenue table; the dashboard
    //      re-fits the q269 OLS — stream ≡ batch by construction ----
    "q276_stream_trend" -> ((s, dir) => {
      val root = graft.util.TempDirs.create("graft_q276")
      graft.streaming.TrendMonitor.monitor(s, dir,
        "events.parquet", root.resolve("daily").toString,
        root.resolve("ckpt").toString)
      graft.streaming.TrendMonitor.dashboard(s,
        root.resolve("daily").toString)
    }),

    // ---- Delete-a-group jackknife SE for the q250 ratio metric:
    //      the resampling cross-check of the delta method — B=20
    //      deterministic user groups, leave-one-out re-estimates;
    //      2B-row arithmetic past the unit agg ----
    "q277_ratio_jackknife" -> ((s, dir) => {
      val u = t(s, dir, "events")
        .groupBy("user_id").agg(
          sum(when(col("event_type") === "purchase", col("value"))
            .otherwise(0.0)).as("x"),
          count(lit(1)).as("y"))
      graft.operators.Experiment.ratioJackknife(u,
        col("user_id") % 2 === 1, col("x"), col("y"), col("user_id"))
    }),

    // ---- Streaming Page–Hinkley: micro-batches fold into the
    //      replay-safe daily revenue table (the q276 recipe), the
    //      dashboard runs the q292 detector over it — stream ≡ batch
    //      by construction, same oracle verbatim ----
    "q296_stream_page_hinkley" -> ((s, dir) => {
      val root = graft.util.TempDirs.create("graft_q296")
      graft.streaming.TrendMonitor.monitor(s, dir,
        "events.parquet", root.resolve("daily").toString,
        root.resolve("ckpt").toString)
      graft.streaming.TrendMonitor.pageHinkleyDashboard(s,
        root.resolve("daily").toString)
    }),

    // ---- C4 filter-rule audit per source (Raffel et al. JMLR'20
    //      §2.2): brace/lorem/javascript/policy-boilerplate/short-doc
    //      flags + terminal-punctuation line share — map-only regex,
    //      one grouped agg ----
    "q297_c4_rules" -> ((s, dir) =>
      graft.operators.CorpusFilters.c4Report(t(s, dir, "documents"))),

    // ---- Gopher quality rules per source (Rae et al. '21 Table A1):
    //      word count/mean word length/alpha share/stopword/top-bigram
    //      gates, one map pass over the RepetitionProfile ----
    "q298_gopher_rules" -> ((s, dir) =>
      graft.operators.CorpusFilters.gopherReport(t(s, dir, "documents"))),

    // ---- DoReMi-style exponential tilting of the source mix by mean
    //      quality (fixed-score closed form of the multiplicative-
    //      weights update): the reweighting step between q137's
    //      calibration and q136's budget fill ----
    "q299_doremi_weights" -> ((s, dir) =>
      graft.operators.CorpusFilters.doremiTilt(t(s, dir, "documents"))),

    // ---- EWMA control chart on daily revenue (Roberts '59): the
    //      small-persistent-shift dial between the 3σ rule and
    //      CUSUM/Page-Hinkley; SES closed form, 1-row μ/σ factor ----
    "q300_ewma_chart" -> ((s, dir) =>
      graft.operators.Anomaly.ewmaChart(t(s, dir, "events"))),

    // ---- Kendall τ-b between the nation league tables by revenue
    //      and by order volume: bounded entity self-cross after the
    //      corpus-scale aggregation ----
    "q301_kendall_tau" -> ((s, dir) => {
      val m = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("k"))
        .agg(sum("o_totalprice").cast("double").as("x"),
          count(lit(1)).cast("double").as("y"))
      graft.quality.Correlation.kendallTau(m)
    }),

    // ---- Market-basket affinity: support/confidence/lift +
    //      Adamic-Adar over co-ordered parts; pair blowup bounded by
    //      basket size via the order-key self-join ----
    "q302_market_basket" -> ((s, dir) =>
      graft.operators.Basket.partAffinity(t(s, dir, "lineitem"))),

    // ---- Cross-doc duplicate-line audit (CCNet/RefinedWeb line
    //      dedup): exact trimmed lines in ≥3 docs, per-source line-
    //      and char-mass removed ----
    "q303_line_dedup" -> ((s, dir) =>
      graft.operators.CorpusFilters.lineDedup(t(s, dir, "documents"))),

    // ---- Gopher line-level rules (bullet-start / ellipsis-end
    //      shares), map-only over the line array ----
    "q304_line_rules" -> ((s, dir) =>
      graft.operators.CorpusFilters.lineRules(t(s, dir, "documents"))),

    // ---- Duplicate-aware soft weights: every exact-dup cluster of
    //      size c contributes unit mass (1/c per copy); per-source
    //      effective mass vs raw count ----
    "q305_soft_dedup" -> ((s, dir) =>
      graft.operators.CorpusFilters.softDedupWeights(
        t(s, dir, "documents"))),

    // ---- Seasonal Holt: classical dow-index adjustment in front of
    //      the Holt fold, one-step forecast re-seasonalized with the
    //      next calendar day's index ----
    "q307_seasonal_holt" -> ((s, dir) =>
      graft.operators.Forecast.seasonalHolt(t(s, dir, "events"))),

    // ---- Periodogram scan: normalized DFT amplitude at day periods
    //      2..14 of centered daily revenue — how the seasonal period
    //      is DISCOVERED rather than assumed ----
    "q308_periodogram" -> ((s, dir) =>
      graft.operators.Spectral.periodogram(t(s, dir, "events"))),

    // ---- Cochran-Armitage trend: does conversion RISE monotonically
    //      through the week (ordered-group score test, k-row agg) ----
    "q309_trend_proportions" -> ((s, dir) =>
      graft.operators.Experiment.cochranArmitage(t(s, dir, "events"),
        dayofweek(col("ts")), col("event_type") === "purchase")),

    // ---- McNemar paired conversion across the span's two halves:
    //      discordant-cell chi-square on the SAME users ----
    "q310_mcnemar" -> ((s, dir) =>
      graft.operators.Experiment.mcnemar(t(s, dir, "events"),
        col("event_type") === "purchase")),

    // ---- Cliff's delta effect size beside the q249 MWU p-value:
    //      significant and useless vs significant and real ----
    "q348_cliffs_delta" -> ((s, dir) => {
      val u = t(s, dir, "events")
        .where(col("event_type") === "purchase")
        .groupBy("user_id").agg(sum("value").as("m"))
      graft.operators.Experiment.cliffsDelta(u,
        col("user_id") % 2 === 1, col("m"))
    }),

    // ---- Rescaled-range Hurst exponent of daily revenue: random
    //      walk vs persistent trend vs mean reversion ----
    "q349_hurst" -> ((s, dir) =>
      graft.operators.Hurst.rescaledRange(t(s, dir, "orders"))),

    // ---- Youden-J optimal threshold over the q205 ROC: where to
    //      actually set the cutoff ----
    "q345_youden" -> ((s, dir) =>
      graft.operators.ClassifierEval.youdenThreshold(
        t(s, dir, "documents").select(
          TextFunctions.qualityScore(col("text")).as("score"),
          (col("lang") === "en").as("label")),
        "score", "label")),

    // ---- Per-cell chi-square residuals: WHICH cells drive the q286
    //      dependence, with N(0,1)-scaled adjusted residuals ----
    "q346_chi2_residuals" -> ((s, dir) =>
      graft.quality.Dependencies.chi2Residuals(
        t(s, dir, "orders"), col("o_orderpriority"),
        col("o_orderstatus"))),

    // ---- Bland-Altman agreement between the heuristic quality score
    //      and a crude length-based proxy: bias + limits of
    //      agreement, not correlation ----
    "q347_bland_altman" -> ((s, dir) =>
      graft.quality.Agreement.blandAltman(t(s, dir, "documents"),
        TextFunctions.qualityScore(col("text")),
        least(col("n_chars").cast("double") / 500.0, lit(1.0)))),

    // ---- Surgical decontamination: excise exactly the benchmark-
    //      matching token spans, keep the rest of the document ----
    "q343_decontaminate_excise" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Decontaminate.exciseContaminated(
        docs.filter(col("doc_id") % 41 =!= 0),
        docs.filter(col("doc_id") % 41 === 0), n = 4)
    }),

    // ---- Simpson's-paradox audit: pooled vs within-stratum sign of
    //      the treated-control conversion difference ----
    "q344_simpsons" -> ((s, dir) => {
      val pu = t(s, dir, "events").groupBy("user_id").agg(
        count(lit(1)).as("n_ev"),
        max(when(col("event_type") === "purchase", 1.0)
          .otherwise(0.0)).as("y"))
      graft.operators.Simpsons.audit(pu,
        when(col("n_ev") <= 62, "low")
          .when(col("n_ev") <= 70, "mid").otherwise("high"),
        col("user_id") % 2 === 1, col("y"))
    }),

    // ---- Aalen-Johansen cumulative incidence: first-purchase vs
    //      first-error competing risks from journey start ----
    "q341_competing_risks" -> ((s, dir) =>
      graft.operators.Survival.competingRisks(t(s, dir, "events"))),

    // ---- Sharp RDD at the zero-balance cutoff: local-linear jump
    //      in per-customer order count ----
    "q342_rdd" -> ((s, dir) =>
      graft.operators.Regression.rddJump(
        t(s, dir, "customer"), t(s, dir, "orders"))),

    // ---- Brier decomposition of the quality score vs the length
    //      label: reliability - resolution + uncertainty, the one-row
    //      verdict behind q137's reliability curve ----
    "q339_brier" -> ((s, dir) =>
      graft.operators.QualityModel.brierDecomposition(
        t(s, dir, "documents").select(
          TextFunctions.qualityScore(col("text")).as("quality"),
          (col("n_chars") >= 300).as("label")),
        "quality", "label", nBins = 10)),

    // ---- Data-constrained effective tokens (Muennighoff scaling)
    //      over the q293 UniMax allocation: what repetition buys ----
    "q340_effective_data" -> ((s, dir) =>
      graft.operators.Curation.effectiveData(
        graft.operators.Curation.unimaxAllocation(
          t(s, dir, "documents"), budgetTokensPerCorpus = 2.0))),

    // ---- LSH (bands, rows) advisor: S-curve separation between the
    //      dup threshold and the MEASURED background similarity, per
    //      factorization of the signature budget ----
    "q337_lsh_advisor" -> ((s, dir) =>
      graft.operators.LshAdvisor.advise(t(s, dir, "documents"))),

    // ---- First/last/linear multi-touch attribution side-by-side
    //      over pre-conversion journeys — the heuristics panel next
    //      to Markov (q185) and Shapley (q283) ----
    "q338_touch_attribution" -> ((s, dir) =>
      graft.operators.Attribution.touchComparison(t(s, dir, "events"))),

    // ---- g3 approximate-FD violation rate over the near-FD
    //      shortlist: how CLOSE do the violated dependencies come to
    //      holding? One grouped count + per-det max per pair ----
    "q336_fd_violation_rate" -> ((s, dir) =>
      graft.quality.Dependencies.g3Report(
        t(s, dir, "orders"), g3Pairs)),

    // ---- Log-log price elasticity per brand: fact-dim join + one
    //      moment agg at brand cardinality ----
    "q333_elasticity" -> ((s, dir) =>
      graft.operators.Elasticity.byBrand(
        t(s, dir, "lineitem"), t(s, dir, "part"))),

    // ---- Cochran's Q: do the k event types have equal per-user
    //      participation rates? Exact integer moments ----
    "q334_cochran_q" -> ((s, dir) =>
      graft.operators.Homogeneity.cochranQ(
        t(s, dir, "events"), col("user_id"), col("event_type"))),

    // ---- Spectral entropy + Wiener flatness over the day-period
    //      scan: one dominant cycle vs white noise ----
    "q335_spectral_entropy" -> ((s, dir) =>
      graft.operators.Spectral.spectralSummary(t(s, dir, "events"))),

    // ---- Alignment/uniformity of the embedding space (Wang-Isola):
    //      label-equi positive pairs + hash-bucketed pair sample ----
    "q330_alignment_uniformity" -> ((s, dir) =>
      graft.operators.EmbeddingAudit.alignmentUniformity(
        t(s, dir, "embeddings"))),

    // ---- Linear CKA between the two halves of the embedding:
    //      redundancy-vs-complement of dimension blocks, from the
    //      q241 centered covariance triangle ----
    "q331_cka" -> ((s, dir) =>
      graft.operators.EmbeddingAudit.cka(
        t(s, dir, "embeddings"), split = 32)),

    // ---- kNN label-noise audit: per-label neighborhood
    //      disagreement over a deterministic probe sample ----
    "q332_knn_label_noise" -> ((s, dir) =>
      graft.operators.EmbeddingAudit.knnLabelNoise(
        t(s, dir, "embeddings"))),

    // ---- Streaming encoding-health monitor: per-batch mojibake
    //      increments folded replay-safe; dashboard re-aggregates,
    //      so the q319 batch oracle applies verbatim ----
    "q327_stream_encoding_audit" -> ((s, dir) => {
      val root = graft.util.TempDirs.create("graft_q327")
      graft.streaming.CorpusHealth.monitor(s, dir,
        "documents.parquet", root.resolve("health").toString,
        root.resolve("ckpt").toString)
      graft.streaming.CorpusHealth.dashboard(s,
        root.resolve("health").toString)
    }),

    // ---- Qini uplift curve at every score threshold: does the
    //      engagement score find users the treatment MOVES, not just
    //      users who convert? Score-cardinality-bounded windows ----
    "q328_qini" -> ((s, dir) =>
      graft.operators.Uplift.qiniFromEvents(t(s, dir, "events"))),

    // ---- Watermarked stream-stream interval join: purchases
    //      attributed to same-user views within 30 minutes, both
    //      sides streamed; bounded state via watermark + range ----
    "q329_stream_stream_join" -> ((s, dir) =>
      graft.streaming.StreamJoin.viewPurchasePairs(s, dir)),

    // ---- Inclusion-dependency (FK) discovery over the TPC-H key
    //      columns: one tagged distinct-value table, one self
    //      equi-join on value, p^2-bounded output ----
    "q321_ind_discovery" -> ((s, dir) => {
      val cols = Seq(
        "customer.c_custkey" -> (t(s, dir, "customer"), "c_custkey"),
        "customer.c_nationkey" -> (t(s, dir, "customer"), "c_nationkey"),
        "lineitem.l_orderkey" -> (t(s, dir, "lineitem"), "l_orderkey"),
        "lineitem.l_partkey" -> (t(s, dir, "lineitem"), "l_partkey"),
        "lineitem.l_suppkey" -> (t(s, dir, "lineitem"), "l_suppkey"),
        "nation.n_nationkey" -> (t(s, dir, "nation"), "n_nationkey"),
        "nation.n_regionkey" -> (t(s, dir, "nation"), "n_regionkey"),
        "orders.o_custkey" -> (t(s, dir, "orders"), "o_custkey"),
        "orders.o_orderkey" -> (t(s, dir, "orders"), "o_orderkey"),
        "region.r_regionkey" -> (t(s, dir, "region"), "r_regionkey"),
        "supplier.s_nationkey" -> (t(s, dir, "supplier"), "s_nationkey"),
        "supplier.s_suppkey" -> (t(s, dir, "supplier"), "s_suppkey"))
      graft.quality.Inclusion.indReport(cols)
    }),

    // ---- Matryoshka truncated-dim recall curve: recall@10 of
    //      first-m-dim retrieval vs full-dim ground truth ----
    "q322_truncated_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.operators.TruncatedRecall.recallCurve(e,
        e.filter(col("vec_id") < 8), k = 10,
        dims = Seq(8, 16, 32, 64))
    }),

    // ---- Lag-1 Granger causality between daily purchase revenue
    //      and daily non-purchase traffic, both directions; closed-
    //      form two-regressor OLS from pooled moments ----
    "q323_granger" -> ((s, dir) =>
      graft.operators.Causality.granger(t(s, dir, "events"))),

    // ---- Brown-Forsythe variance-homogeneity test of order value
    //      across priorities: ANOVA on |x - group median| ----
    "q324_brown_forsythe" -> ((s, dir) =>
      graft.operators.Homogeneity.brownForsythe(
        t(s, dir, "orders"), col("o_orderpriority"),
        col("o_totalprice"))),

    // ---- Friedman rank test: does priority shift monthly revenue
    //      with each month as its own block? ----
    "q325_friedman" -> ((s, dir) =>
      graft.operators.Homogeneity.friedman(
        t(s, dir, "orders"),
        date_trunc("month", col("o_orderdate")),
        col("o_orderpriority"), col("o_totalprice"))),

    // ---- Quade test: Friedman's block-weighted sibling — months
    //      with a wider treatment spread carry more weight; exact
    //      F statistic + dfs (quantile gate documented out) ----
    "q431_quade" -> ((s, dir) =>
      graft.operators.Homogeneity.quade(
        t(s, dir, "orders"),
        date_trunc("month", col("o_orderdate")),
        col("o_orderpriority"), col("o_totalprice"))),

    // ---- Conover-Iman post-hoc: WHICH priority pairs differ once
    //      q325's Friedman omnibus fires — Bonferroni-per-pair t
    //      gate on the shared Acklam+Cornish-Fisher chain ----
    "q432_conover_iman" -> ((s, dir) =>
      graft.operators.Homogeneity.conoverIman(
        t(s, dir, "orders"),
        date_trunc("month", col("o_orderdate")),
        col("o_orderpriority"), col("o_totalprice"))),

    // ---- Baumgartner-Weiss-Schindler two-sample: variance-weighted
    //      rank discrepancy (tail-sensitive where KS/CvM are blind),
    //      urgent vs non-urgent order values ----
    "q433_bws" -> ((s, dir) =>
      graft.operators.TwoSampleRank.bws(t(s, dir, "orders"),
        col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
        col("o_totalprice"), col("o_orderkey"))),

    // ---- Theil-T inequality decomposition of document length into
    //      between-source + within-source terms (exact identity) ----
    "q326_theil" -> ((s, dir) =>
      graft.operators.Inequality.theilDecomposition(
        t(s, dir, "documents"), col("source"), col("n_chars"))),

    // ---- SQ8 scalar-quantized ANN: per-dim uniform grid, asymmetric
    //      full-precision-query x dequantized-candidate search ----
    "q320_sq8_ann" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.operators.ScalarQuantization.sq8TopK(e,
        e.filter(col("vec_id") < 8), k = 5)
    }),

    // ---- Encoding-health audit: replacement chars, control-char
    //      bleed, non-ASCII share per source; map-only regex ----
    "q319_encoding_audit" -> ((s, dir) =>
      graft.operators.CorpusFilters.encodingAudit(
        t(s, dir, "documents"))),

    // ---- Simplified silhouette per label over embeddings: centroid
    //      a/b distances via the sum-of-squares expansion, linear in
    //      the corpus for fixed k,d ----
    "q317_silhouette" -> ((s, dir) =>
      graft.operators.ClusterQuality.silhouette(
        t(s, dir, "embeddings"))),

    // ---- Davies-Bouldin + Calinski-Harabasz whole-clustering
    //      verdict: k-bounded centroid geometry after one corpus
    //      pass ----
    "q318_davies_bouldin" -> ((s, dir) =>
      graft.operators.ClusterQuality.daviesBouldin(
        t(s, dir, "embeddings"))),

    // ---- Link-prediction eval: H1 Adamic-Adar score vs H2 repeat
    //      co-purchase label, ranked by the q202 AUC engine ----
    "q316_link_prediction" -> ((s, dir) =>
      graft.operators.Basket.linkPredictionEval(
        t(s, dir, "lineitem"), t(s, dir, "orders"))),

    // ---- Forecast tournament: naive / seasonal-naive / SES / Holt
    //      one-step MAE on the common window, MASE-style ratios ----
    "q315_forecast_tournament" -> ((s, dir) =>
      graft.operators.Forecast.tournament(t(s, dir, "events"))),

    // ---- PACF via Durbin-Levinson over the q213 ACF table: the
    //      AR-order dial; O(K^2) driver recursion on the K-bounded
    //      rounded ACF, identical inputs in both engines ----
    "q314_pacf" -> ((s, dir) =>
      graft.operators.Anomaly.pacfReport(t(s, dir, "events"))),

    // ---- Nelson-Aalen cumulative hazard + Greenwood SE: the
    //      confidence-band companion to the q247 KM curve, same
    //      risk-table recipe ----
    "q312_nelson_aalen" -> ((s, dir) =>
      graft.operators.Survival.nelsonAalen(t(s, dir, "events"),
        horizonDays = 1)),

    // ---- Coarsened exact matching ATT: effect of seeing an error on
    //      purchase value, matched exactly on active-day count;
    //      naive diff reported beside it ----
    "q313_cem_att" -> ((s, dir) =>
      graft.operators.Matching.errorImpactAtt(t(s, dir, "events"))),

    // ---- HHI / effective competitors / CR-5 of customer revenue
    //      within each nation ----
    "q311_concentration" -> ((s, dir) =>
      graft.operators.Concentration.revenueConcentration(
        t(s, dir, "orders"), t(s, dir, "customer"),
        t(s, dir, "nation"))),

    // ---- Streaming EWMA dashboard over the replay-safe daily table
    //      (q296 recipe): stream ≡ batch, same oracle verbatim ----
    "q306_stream_ewma" -> ((s, dir) => {
      val root = graft.util.TempDirs.create("graft_q306")
      graft.streaming.TrendMonitor.monitor(s, dir,
        "events.parquet", root.resolve("daily").toString,
        root.resolve("ckpt").toString)
      graft.streaming.TrendMonitor.ewmaDashboard(s,
        root.resolve("daily").toString)
    }),

    // ---- Kruskal–Wallis H across ALL event types at once: the
    //      k-group omnibus the pairwise MWU (q249) can't give without
    //      multiplicity; pooled value-frequency ranks, H ~ χ²(k−1) ----
    "q290_kruskal_wallis" -> ((s, dir) =>
      graft.operators.Experiment.kruskalWallis(t(s, dir, "events"),
        col("event_type"), col("value"))),

    // ---- Ljung–Box portmanteau on the daily-count series: one Q
    //      statistic over q213's per-lag ACF — "any autocorrelation
    //      left at all?", Q ~ χ²(m) under white noise ----
    "q291_ljung_box" -> ((s, dir) =>
      graft.operators.Anomaly.ljungBox(t(s, dir, "events"))),

    // ---- Page–Hinkley sequential change detector on daily revenue:
    //      the cumulative-deviation alarm trace beside q224's CUSUM
    //      (running-mean baseline instead of a frozen one) ----
    "q292_page_hinkley" -> ((s, dir) =>
      graft.operators.Anomaly.pageHinkley(t(s, dir, "events"))),

    // ---- UniMax water-filling budget allocation across languages:
    //      closed-form fair sampling under the 4-epoch cap — the
    //      allocation q136's weighted plan only feasibility-checks;
    //      budget = 2× corpus tokens exercises both regimes ----
    "q293_unimax_budget" -> ((s, dir) =>
      graft.operators.Curation.unimaxAllocation(t(s, dir, "documents"),
        budgetTokensPerCorpus = 2.0)),

    // ---- Rényi entropy profile per source (α = ½, 1, 2): the
    //      tokenizer-efficiency spectrum (Zouhar ACL'23) beside the
    //      Shannon-only q78; eff_vocab = 2^H beside raw vocab ----
    "q294_renyi_entropy" -> ((s, dir) =>
      graft.operators.Vocab.renyiProfile(t(s, dir, "documents"))),

    // ---- Anderson–Darling 2-sample between weekday/weekend value
    //      cohorts: the tail-weighted drift test beside KS (q178) —
    //      tie-adjusted Scholz–Stephens statistic ----
    "q295_ad_twosample" -> ((s, dir) =>
      graft.operators.Drift.adTwoSample(t(s, dir, "events"),
        dayofweek(col("ts")).isin(1, 7), col("value"))),

    // ---- Wald–Wolfowitz runs test on daily revenue around its
    //      median: regime-clustering vs oscillation vs random — the
    //      sign-pattern check DW's lag-1 correlation can miss ----
    "q288_runs_test" -> ((s, dir) =>
      graft.operators.Anomaly.runsTest(t(s, dir, "events"))),

    // ---- Mann–Kendall trend test on daily counts: the significance
    //      readout q236's robust slope lacks; tie-corrected variance,
    //      continuity-corrected z; calendar²-bounded pair cross ----
    "q287_mann_kendall" -> ((s, dir) =>
      graft.operators.Anomaly.mannKendall(t(s, dir, "events"))),

    // ---- Categorical association in one row: chi², Cramér's V and
    //      Theil's U for event_type × weekday — the effect sizes the
    //      q216 MI table and q200 chi² drift test don't normalize;
    //      joined-stat-tables shape, |a|×|b|-bounded cells ----
    "q286_association" -> ((s, dir) =>
      graft.quality.Dependencies.association(t(s, dir, "events"),
        col("event_type"), dayofweek(col("ts")))),

    // ---- Isotonic (PAVA) calibration of the quality score: the
    //      monotone least-squares probability map a thresholding
    //      curation rule consumes (q137 displays the curve; this
    //      fixes it); bin agg distributed, PAVA on ≤64 driver rows.
    //      Oracled via the Barlow–Brunk min-max closed form (plain
    //      prefix-sum SQL); IsotonicSpec keeps the brute-force referee ----
    "q285_isotonic" -> ((s, dir) =>
      graft.operators.QualityModel.isotonicCalibration(
        t(s, dir, "documents").select(
          TextFunctions.qualityScore(col("text")).as("quality"),
          (col("n_chars") >= 300).as("label")),
        "quality", "label")),

    // ---- Negative-binomial MoM fit of daily counts: quantifies the
    //      overdispersion q240 only flags, and prints the honest
    //      alert threshold (μ+3σ_fitted) beside the Poisson one ----
    "q284_nb_fit" -> ((s, dir) =>
      graft.operators.Anomaly.negativeBinomialFit(t(s, dir, "events"))),

    // ---- Exact Shapley channel attribution over the 2^C coalition
    //      lattice (C=4 touch channels): fair-division credit beside
    //      q185's Markov removal effects; one per-user mask agg, all
    //      joins 16×16-bounded ----
    "q283_shapley_attribution" -> ((s, dir) =>
      graft.operators.Attribution.shapleyAttribution(
        t(s, dir, "events"))),

    // ---- Streaming Holt dashboard: the q276 replay-safe daily
    //      revenue table re-folded through the q280 recursion —
    //      forecast-on-stream with the batch oracle applying verbatim ----
    "q282_stream_holt" -> ((s, dir) => {
      val root = graft.util.TempDirs.create("graft_q282")
      graft.streaming.TrendMonitor.monitor(s, dir,
        "events.parquet", root.resolve("daily").toString,
        root.resolve("ckpt").toString)
      graft.streaming.TrendMonitor.holtDashboard(s,
        root.resolve("daily").toString)
    }),

    // ---- Holt linear-trend smoothing per type: SES + an explicit
    //      trend state; the recursion folds over the bounded per-type
    //      CALENDAR array, the oracle replays it as a recursive CTE ----
    "q280_holt_trend" -> ((s, dir) =>
      graft.operators.Forecast.holtBacktest(t(s, dir, "events"))),

    // ---- Durbin–Watson over the q269 OLS residuals: ≈2 independent,
    //      →0 serially correlated (the "significant trend" mirage
    //      detector); type-partitioned calendar window ----
    "q281_durbin_watson" -> ((s, dir) =>
      graft.operators.Regression.durbinWatson(t(s, dir, "events"))),

    // ---- Winsorized Welch on the per-user revenue metric: cap at
    //      the POOLED p95 (a per-arm cap would bias the lift), test
    //      the capped means, report the clipped share per arm ----
    "q279_ab_winsorized" -> ((s, dir) => {
      val u = t(s, dir, "events")
        .groupBy("user_id").agg(
          sum(when(col("event_type") === "purchase", col("value"))
            .otherwise(0.0)).as("m"))
      graft.operators.Experiment.winsorizedWelch(u,
        col("user_id") % 2 === 1, col("m"))
    }),

    // ---- 3-core of the navigation graph: the cohesive nucleus the
    //      degree histogram hides (hubs with leaf fans peel out);
    //      round-wise peel, lineage checkpointed per round ----
    "q278_kcore" -> ((s, dir) =>
      graft.operators.KCore.navigationKCore(t(s, dir, "events"), k = 3)),

    // ---- Pairwise Jensen–Shannon divergence between sources'
    //      unigram distributions: the symmetric complement to q234's
    //      KL — which sources are lexically interchangeable; shared
    //      vocab joined, one-sided mass in closed form ----
    "q237_js_divergence" -> ((s, dir) =>
      graft.operators.Vocab.jsDivergenceMatrix(t(s, dir, "documents"))),

    // ---- PMI of event types co-present in a user-day: order-free
    //      association beyond frequency (q107 transitions are the
    //      ordered counterpart); presence table self-join bounded by
    //      the type vocabulary ----
    "q238_session_pmi" -> ((s, dir) =>
      graft.operators.Cooccurrence.sessionPmi(t(s, dir, "events"))),

    // ---- Cohen's κ between two heuristic quality labelers (length
    //      vs token-count): chance-corrected agreement before
    //      trusting a label; ONE conditional-sum pass ----
    "q239_label_kappa" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.quality.Agreement.cohenKappa(d,
        col("n_chars") >= 300L,
        size(filter(TextFunctions.tokens(col("text")),
          _ =!= "")) >= 55L)
    }),

    // ---- Fano-factor burstiness per event type over the zero-filled
    //      day spine: var/mean of daily counts, Poisson = 1 — decides
    //      which anomaly baseline each type needs ----
    "q240_burstiness" -> ((s, dir) =>
      graft.operators.Anomaly.fanoFactor(t(s, dir, "events"))),

    // ---- Pearson × Spearman matrix over lineitem's numeric columns:
    //      linear vs monotone association; ranks from the value-
    //      frequency table (no global row window), ONE corr agg ----
    "q243_correlation_matrix" -> ((s, dir) =>
      graft.quality.Correlation.correlationMatrix(
        t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount"))),

    // ---- One-way ANOVA per embedding dimension against the label:
    //      F-stat + eta-squared class-separability audit; explode →
    //      |labels|·d partial agg → dim-keyed reduction ----
    "q244_class_separation" -> ((s, dir) =>
      graft.operators.Anova.classSeparation(t(s, dir, "embeddings"))),

    // ---- Quantile-alignment table source vs pooled (the quantile-
    //      normalization transform): per-level source/pooled quantile
    //      and shift; two multi-percentile aggs ----
    "q245_quantile_align" -> ((s, dir) =>
      graft.operators.Drift.quantileAlign(
        t(s, dir, "documents"), "source", "n_chars")),

    // ---- Kaplan–Meier survival over user lifetimes: the censoring-
    //      aware retention curve (q121 counts; KM corrects for users
    //      still active at the observation edge); one per-user agg,
    //      then lifetime-cardinality window arithmetic ----
    "q247_kaplan_meier" -> ((s, dir) =>
      graft.operators.Survival.kaplanMeier(t(s, dir, "events"),
        horizonDays = 1)),

    // ---- Welch two-sample t-test on per-user purchase value by
    //      user-id parity variant: the A/B readout with unequal
    //      variances handled; one grouped agg + one conditional-sum
    //      pass, single-row output ----
    "q248_ab_welch" -> ((s, dir) => {
      val u = t(s, dir, "events")
        .where(col("event_type") === "purchase")
        .groupBy("user_id").agg(sum("value").as("m"))
      graft.operators.Experiment.welchTTest(u,
        col("user_id") % 2 === 1, col("m"))
    }),

    // ---- Difference-in-differences on per-user deltas: the
    //      quasi-experimental readout (subtract the control group's
    //      pre/post change) with unit-clustered Welch SE ----
    "q267_did" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val mid = ev.agg(expr(
        """date_add(min(to_date(ts)),
          |  cast(cast(datediff(max(to_date(ts)), min(to_date(ts)))
          |    as double) / 2 as int))""".stripMargin).as("mid"))
      val u = ev.crossJoin(broadcast(mid))
        .groupBy("user_id").agg(
          sum(when(col("event_type") === "purchase" &&
            to_date(col("ts")) <= col("mid"), col("value"))
            .otherwise(0.0)).as("pre"),
          sum(when(col("event_type") === "purchase" &&
            to_date(col("ts")) > col("mid"), col("value"))
            .otherwise(0.0)).as("post"))
      graft.operators.Experiment.diffInDiff(u,
        col("user_id") % 2 === 1, col("pre"), col("post"))
    }),

    // ---- Unicode-script composition per source: the mixed-script
    //      audit (script spoofing, mislabeled feeds, markup bleed);
    //      identical \x{...} patterns in Java regex and RE2 ----
    "q268_script_profile" -> ((s, dir) =>
      graft.operators.TextQuality.scriptProfile(t(s, dir, "documents"))),

    // ---- Session-quality report by entry type: bounce rate, depth,
    //      median duration, exit-same share — the landing-page health
    //      table over the q32 gap sessions ----
    "q264_session_summary" -> ((s, dir) =>
      graft.operators.Sessionize.sessionSummary(t(s, dir, "events"))),

    // ---- Funnel step latency: mean/p50/p90 time-to-convert between
    //      adjacent steps over users who converted — the "conversion
    //      is fine, it just takes 3 days" table; cached step frames,
    //      zero extra event scans ----
    "q265_funnel_latency" -> ((s, dir) =>
      graft.operators.Funnel.stepLatency(t(s, dir, "events"),
        Seq("view", "click", "purchase"))),

    // ---- Daily error-rate SLO with a Wilson interval: breach only
    //      when the LOWER bound clears the budget — no paging on one
    //      unlucky event in a quiet day ----
    "q266_error_slo" -> ((s, dir) =>
      graft.operators.Anomaly.errorSlo(t(s, dir, "events"))),

    // ---- Cumulative LTV curve by user age: average per-user
    //      cumulative revenue at offset k over COVERED users (same
    //      right-truncation correction as q261); presence-scale
    //      explode + per-user cumsum ----
    "q263_ltv_curve" -> ((s, dir) =>
      graft.operators.Growth.ltvCurve(t(s, dir, "events"))),

    // ---- Flesch/Kincaid readability per doc: the grade-level mix
    //      axis the quality family lacks; stated syllable heuristic
    //      max(1, vowel-runs), map-only regex arithmetic ----
    "q262_readability" -> ((s, dir) =>
      graft.operators.Readability.report(t(s, dir, "documents"))),

    // ---- SES forecast + one-step backtest over daily counts: the
    //      capacity-planning baseline; the smoothing recursion as ONE
    //      closed-form cumulative window, no driver loop ----
    "q259_ses_forecast" -> ((s, dir) =>
      graft.operators.Forecast.sesBacktest(t(s, dir, "events"))),

    // ---- Growth accounting: DAU decomposed through its only four
    //      doors (new/retained/resurrected/churned, net telescopes to
    //      the DAU delta); presence-table self-join, calendar output ----
    "q260_growth_accounting" -> ((s, dir) =>
      graft.operators.Growth.accounting(t(s, dir, "events"))),

    // ---- Exponential retention-decay fit: log-linear LS over the
    //      right-truncation-corrected day-offset retention curve →
    //      decay rate + half-life; offset-cardinality arithmetic ----
    "q261_retention_decay" -> ((s, dir) =>
      graft.operators.Growth.retentionDecay(t(s, dir, "events"))),

    // ---- Streaming sequential-experiment monitor: micro-batches
    //      fold into a replay-safe (user, day) moment table; the
    //      dashboard re-derives the always-valid p curve — stream ≡
    //      batch by construction, so the batch mSPRT oracle applies ----
    "q258_stream_msprt" -> ((s, dir) => {
      val root = graft.util.TempDirs.create("graft_q258")
      graft.streaming.ExperimentMonitor.monitor(s, dir,
        "events.parquet", root.resolve("moments").toString,
        root.resolve("ckpt").toString)
      graft.streaming.ExperimentMonitor.dashboard(s,
        root.resolve("moments").toString, tau = 25.0)
    }),

    // ---- Per-segment lift with BH control: which segment actually
    //      moved, without 5 segments buying a free false positive;
    //      Welch z per type, A&S closed-form p, BH ladder over the
    //      segment table ----
    "q256_segment_lift" -> ((s, dir) => {
      val u = t(s, dir, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum("value").as("m"))
      graft.operators.Experiment.segmentLift(u,
        col("user_id") % 2 === 1, col("event_type"), col("m"))
    }),

    // ---- Quantile treatment effects: per-level quantile diff
    //      between arms — the distributional lift a mean hides ----
    "q257_quantile_lift" -> ((s, dir) => {
      val u = t(s, dir, "events")
        .where(col("event_type") === "purchase")
        .groupBy("user_id").agg(sum("value").as("m"))
      graft.operators.Experiment.quantileLift(u,
        col("user_id") % 2 === 1, col("m"))
    }),

    // ---- Always-valid sequential test (mSPRT): the p-value that
    //      survives daily peeking — per-day cumulative moments over
    //      the day table, one ordered window spec ----
    "q254_sequential_msprt" -> ((s, dir) => {
      val u = t(s, dir, "events")
        .where(col("event_type") === "purchase")
        .groupBy(col("user_id"), to_date(col("ts")).as("d"))
        .agg(sum("value").as("m"))
      graft.operators.Experiment.sequentialMsprt(u,
        col("user_id") % 2 === 1, col("d"), col("m"), tau = 25.0)
    }),

    // ---- Sample-ratio-mismatch guardrail: chi-square of observed
    //      assignment counts vs the designed 50/50 — run BEFORE any
    //      metric readout; one count agg ----
    "q255_srm_check" -> ((s, dir) =>
      graft.operators.Experiment.srmCheck(
        t(s, dir, "events").select("user_id").distinct(),
        col("user_id") % 2 === 1)),

    // ---- Log-rank test between the parity cohorts' survival curves:
    //      the hypothesis test beside q247's KM estimate — observed
    //      vs hypergeometric-expected deaths at every event time ----
    "q251_log_rank" -> ((s, dir) =>
      graft.operators.Survival.logRank(t(s, dir, "events"),
        col("user_id") % 2 === 1, horizonDays = 1)),

    // ---- CUPED variance reduction: second-half purchase value
    //      adjusted by the first-half covariate — the pre-period
    //      adjustment that shrinks experiment runtime by rho^2 ----
    "q252_cuped" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val mid = ev.agg(expr(
        """date_add(min(to_date(ts)),
          |  cast(cast(datediff(max(to_date(ts)), min(to_date(ts)))
          |    as double) / 2 as int))""".stripMargin).as("mid"))
      val u = ev.crossJoin(broadcast(mid))
        .groupBy("user_id").agg(
          sum(when(col("event_type") === "purchase" &&
            to_date(col("ts")) > col("mid"), col("value"))
            .otherwise(0.0)).as("y"),
          sum(when(col("event_type") === "purchase" &&
            to_date(col("ts")) <= col("mid"), col("value"))
            .otherwise(0.0)).as("x"))
      graft.operators.Experiment.cuped(u,
        col("user_id") % 2 === 1, col("y"), col("x"))
    }),

    // ---- Power analysis from the corpus's own variance: per-arm n
    //      for an mde=5 lift at 80/90% power, plus the MDE the
    //      current cohort already supports ----
    "q253_power" -> ((s, dir) => {
      val u = t(s, dir, "events")
        .where(col("event_type") === "purchase")
        .groupBy("user_id").agg(sum("value").as("m"))
      graft.operators.Experiment.powerAnalysis(u, col("m"), mde = 5.0)
    }),

    // ---- Delta-method ratio metric (revenue per EVENT, unit =
    //      user): the variance correction for cluster-correlated
    //      ratio metrics — naive per-event tests understate variance;
    //      one per-user agg + one conditional-moment pass ----
    "q250_ab_ratio_delta" -> ((s, dir) => {
      val u = t(s, dir, "events")
        .groupBy("user_id").agg(
          sum(when(col("event_type") === "purchase", col("value"))
            .otherwise(0.0)).as("x"),
          count(lit(1)).as("y"))
      graft.operators.Experiment.ratioDelta(u,
        col("user_id") % 2 === 1, col("x"), col("y"))
    }),

    // ---- Mann–Whitney U on the same A/B fixture: the rank-based,
    //      outlier-immune reading next to q248's Welch means — ranks
    //      from the pooled value-frequency table, never a row-level
    //      rank window ----
    "q249_ab_mannwhitney" -> ((s, dir) => {
      val u = t(s, dir, "events")
        .where(col("event_type") === "purchase")
        .groupBy("user_id").agg(sum("value").as("m"))
      graft.operators.Experiment.mannWhitneyU(u,
        col("user_id") % 2 === 1, col("m"))
    }),

    // ---- Whitening × ANN integration probe: top-10 cosine neighbor
    //      overlap raw vs PCA-whitened (k=32) per query vector — how
    //      much the anisotropy correction actually moves neighbor
    //      sets (q242's participation ratio says whether it SHOULD);
    //      bounded query slice, broadcast brute-force harness ----
    "q246_whitened_ann" -> ((s, dir) => {
      import graft.operators.{Pca, Similarity}
      val emb = t(s, dir, "embeddings")
      val model = Pca.fit(emb)
      val wht = Pca.whiten(emb, model, k = 32)
        .select(col("vec_id"),
          col("whitened").cast("array<float>").as("embedding"))
      val isQuery = col("vec_id") % 25 === 0
      val rawNN = Similarity
        .bruteForceTopK(emb, emb.filter(isQuery), k = 10)
        .select(col("query_id"), col("neighbor_id").as("__nb"))
      val whtNN = Similarity
        .bruteForceTopK(wht, wht.filter(isQuery), k = 10)
        .select(col("query_id"), col("neighbor_id").as("__nb"))
      val shared = rawNN.join(whtNN, Seq("query_id", "__nb"))
        .groupBy("query_id").agg(count(lit(1)).as("overlap_at_10"))
      emb.filter(isQuery).select(col("vec_id").as("query_id"))
        .join(shared, Seq("query_id"), "left_outer")
        .na.fill(0L, Seq("overlap_at_10"))
        .withColumn("jaccard_at_10",
          round(col("overlap_at_10").cast("double") /
            (lit(20.0) - col("overlap_at_10")), 6))
        .orderBy("query_id")
    }),

    // ---- Exact population covariance of the embedding column: one
    //      scan exploding upper-triangle products into d(d+1)/2
    //      map-combined groups — no self-join of vectors ----
    "q241_embedding_covariance" -> ((s, dir) =>
      graft.operators.Pca.covariance(t(s, dir, "embeddings"))),

    // ---- PCA eigen-spectrum + participation-ratio isotropy audit:
    //      distributed moment pass, driver Jacobi on the d×d matrix
    //      (dimension-bounded, the fitCentroids pattern) ----
    "q242_pca_spectrum" -> ((s, dir) =>
      graft.operators.Pca.spectrum(t(s, dir, "embeddings"))),

    // ---- Robust location per event type: mean vs trimmed vs
    //      winsorized — disagreement IS the outlier diagnosis; exact
    //      percentile cuts (oracle pin), two grouped aggs ----
    "q235_robust_location" -> ((s, dir) =>
      graft.operators.Anomaly.robustLocation(
        t(s, dir, "events"), "event_type", "value")),

    // ---- Theil–Sen robust daily trend vs OLS: pairwise-slope median
    //      tolerates ~29% corrupt days; day² bounded cross ----
    "q236_theil_sen" -> ((s, dir) =>
      graft.operators.Anomaly.theilSen(t(s, dir, "events"))),

    // ---- Neyman-optimal budget allocation across sources: spend a
    //      labeling budget where the VARIANCE is, not where the rows
    //      are (n_h ∝ N_h·σ_h minimizes stratified-estimator
    //      variance); one grouped agg + stratum-row arithmetic ----
    "q233_neyman_allocation" -> ((s, dir) =>
      graft.operators.Sampling.neymanAllocation(
        t(s, dir, "documents"), "source", "n_chars", budget = 1000L)),

    // ---- Lexical idiosyncrasy: KL(source ‖ corpus) over unigram
    //      distributions, bits/token a corpus LM wastes per source —
    //      the unigram domain-mismatch ranking; one explode, corpus
    //      counts derived from the same table ----
    "q234_lexical_kl" -> ((s, dir) =>
      graft.operators.Vocab.lexicalKl(t(s, dir, "documents"))),

    // ---- Rank-biased overlap of the even/odd halves' top-100 token
    //      rankings: depth-weighted vocabulary-churn measure (did the
    //      HEAD move or just the tail); everything after the two
    //      TakeOrdered top-Ks is K-row arithmetic ----
    "q232_rbo_vocab" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Vocab.rankBiasedOverlap(
        d.filter(col("doc_id") % 2 === 0),
        d.filter(col("doc_id") % 2 === 1))
    }),

    // ---- Freedman–Diaconis bucket-width advisor: the input every
    //      fixed-width monitor needs someone to pick; one
    //      multi-percentile agg per profiled column ----
    "q230_width_advisor" -> ((s, dir) =>
      graft.operators.Drift.bucketWidthAdvisor(
        t(s, dir, "orders"), Seq("o_totalprice", "o_orderkey"))),

    // ---- STL-lite decomposition of the daily series: trend (7-day
    //      centered MA) + weekday effect + residual — what the
    //      anomaly monitors should be fed once ACF shows weekly
    //      structure; windows over the day table only ----
    "q231_seasonal_decompose" -> ((s, dir) =>
      graft.operators.Anomaly.seasonalDecompose(t(s, dir, "events"))),

    // ---- Lead–lag cross-correlation of click vs purchase daily
    //      series: the peak's lag is the conversion-window hint; same
    //      tiny-table dataflow as q213's ACF ----
    "q228_cross_correlation" -> ((s, dir) =>
      graft.operators.Anomaly.crossCorrelation(
        t(s, dir, "events"), "click", "purchase")),

    // ---- Markov entropy rate of the navigation chain: bits/step of
    //      predictability (0 = scripted loop, log|types| = noise) —
    //      everything reduces over the type² transition table ----
    "q229_entropy_rate" -> ((s, dir) =>
      graft.operators.Sessionize.entropyRate(t(s, dir, "events"))),

    // ---- Good–Turing unseen mass + Chao1 richness per source: "is
    //      this source exhausted or barely sampled" — singleton mass
    //      estimates the next-token-is-new probability, Chao1 the
    //      true type count; one explode + two keyed aggs ----
    "q227_unseen_mass" -> ((s, dir) =>
      graft.operators.Vocab.unseenMass(t(s, dir, "documents"))),

    // ---- 8-gram novelty curve over ingestion order: what fraction
    //      of each doc bucket's phrase mass is NEW to the corpus —
    //      the "this feed has stopped adding information" signal;
    //      one explode + one gram-keyed min, hashes travel ----
    "q226_novelty_curve" -> ((s, dir) =>
      graft.operators.Vocab.noveltyCurve(t(s, dir, "documents"))),

    // ---- Per-source KS screen with Benjamini–Hochberg FDR control:
    //      every source tested against the complement from ONE
    //      (slice × bucket) count table; BH keeps the expected false
    //      fraction among fired alarms ≤ α across the whole fleet ----
    "q225_ks_fdr" -> ((s, dir) =>
      graft.operators.Drift.ksBySliceFdr(
        t(s, dir, "documents"), "source", "n_chars",
        bucketWidth = 100.0)),

    // ---- CUSUM change detection per event type (Page '54): the
    //      SEQUENTIAL drift detector — accumulates evidence of a
    //      level shift and flags the crossing day. The textbook
    //      recurrence runs as its closed reflected-walk form
    //      S = P − min(0, min P): two per-key cumulative windows
    //      over the daily table, no recursion ----
    "q224_cusum" -> ((s, dir) =>
      graft.operators.Anomaly.cusumReport(t(s, dir, "events"))),

    // ---- Degree distribution + power-law MLE of the nav graph (the
    //      graph-health headline: is this web-like or a broadcast
    //      hub?); histogram-reduced MLE, degree-cardinality output ----
    "q223_degree_profile" -> ((s, dir) =>
      graft.operators.GraphRank.degreeProfile(t(s, dir, "events"))),

    // ---- Streaming Wasserstein monitor: per-micro-batch earth-mover
    //      distance vs a pinned baseline snapshot — "how far did the
    //      feed move, in dollars" beside q110's "how surprising";
    //      single AvailableNow batch ⇒ shares q220's oracle ----
    "q222_stream_wasserstein" -> ((s, dir) => {
      import graft.lake.TableLog
      val root = graft.util.TempDirs.create("graft_q222")
      val baseline = root.resolve("baseline").toString
      TableLog.commitOverwrite(s, baseline,
        t(s, dir, "orders").select(col("o_totalprice"))
          .filter(year(col("o_orderdate")) <= 1996))
      graft.streaming.DriftMonitor.monitorW1(s, dir, "orders.parquet",
        baseline, 1, root.resolve("report").toString,
        "o_totalprice", bucketWidth = 20000.0,
        root.resolve("ckpt").toString)
      TableLog.read(s, root.resolve("report").toString)
        .orderBy("batch_id", "bucket")
    }),

    // ---- Poisson-bootstrap CI for a corpus mean: every row derives
    //      its B replicate weights from a seeded hash (no resample
    //      ever materializes — the distributed bootstrap); one map +
    //      one B-group agg, CI over the 32 replicate means ----
    "q221_bootstrap_ci" -> ((s, dir) =>
      graft.operators.Bootstrap.meanCi(
        t(s, dir, "documents").select(col("doc_id"),
          size(filter(TextFunctions.tokens(col("text")),
            w => w =!= "")).cast("double").as("n_tokens")),
        "doc_id", "n_tokens")),

    // ---- Bucketed Wasserstein-1 drift: the drift metric with UNITS
    //      (how far the price distribution moved, in dollars) beside
    //      PSI/KS/JS/chi²; one grouped count per side + a cumulative
    //      window over the bucket table ----
    "q220_wasserstein" -> ((s, dir) =>
      graft.operators.Drift.wassersteinReport(
        t(s, dir, "orders").filter(year(col("o_orderdate")) <= 1996),
        t(s, dir, "orders"), "o_totalprice", bucketWidth = 20000.0)),

    // ---- Split-conformal outlier gate: the ⌈(n+1)(1−α)⌉-th smallest
    //      calibration nonconformity becomes a filter threshold with a
    //      distribution-free ≤α false-flag guarantee; order statistic
    //      via the distinct-score histogram, never a global sort ----
    "q219_conformal" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(col("doc_id"),
        (-TextFunctions.qualityScore(col("text"))).as("s"))
      graft.operators.Conformal.outlierGate(
        scored.filter(col("doc_id") % 2 === 0),
        scored.filter(col("doc_id") % 2 === 1),
        "s", alpha = 0.1)
    }),

    // ---- Personalized PageRank from a trusted seed set (TrustRank):
    //      teleport AND dangling mass re-enter at the seeds only, so
    //      non-seed pages earn rank purely through navigation paths
    //      from the seeds; same edges-partitioned-once iteration as
    //      q150 ----
    "q218_personalized_rank" -> ((s, dir) =>
      graft.operators.GraphRank.personalizedRank(s,
        graft.operators.GraphRank.navigationEdges(t(s, dir, "events")),
        seeds = Seq(0, 1, 2, 3, 4))),

    // ---- Streaming exact-similarity admission: build the prefix
    //      index on the even half, stream the WHOLE corpus as one
    //      AvailableNow batch — stored evens + batch = every
    //      threshold pair, so the report shares q209's oracle;
    //      replay/crash-window behavior pinned in SimilarityIngestSpec ----
    "q217_stream_allpairs" -> ((s, dir) => {
      import graft.lake.TableLog
      val root = graft.util.TempDirs.create("graft_q217")
      val idx = root.resolve("idx").toString
      graft.operators.AllPairsJoin.buildIndex(s,
        t(s, dir, "documents").filter(col("doc_id") % 2 === 0),
        idx, threshold = 0.5)
      graft.streaming.SimilarityIngest.ingest(s, dir, "documents.parquet",
        idx, root.resolve("pairs").toString, threshold = 0.5,
        root.resolve("ckpt").toString)
      TableLog.read(s, root.resolve("pairs").toString)
        .orderBy("id_a", "id_b")
    }),

    // ---- Hampel outlier flags on each event type's daily series:
    //      median/MAD baseline ignores the outliers a mean/σ
    //      baseline is dragged by; two exact-percentile aggs over
    //      the (key × day) table ----
    "q215_hampel" -> ((s, dir) =>
      graft.operators.Anomaly.hampelReport(t(s, dir, "events"))),

    // ---- Mutual information event_type × weekday: how many bits of
    //      the weekday the event type encodes — the statistical
    //      complement to q211's exact FDs; one grouped count, window
    //      marginals over the cell table ----
    "q216_mutual_info" -> ((s, dir) =>
      graft.quality.Dependencies.mutualInformation(
        t(s, dir, "events").withColumn("weekday", dayofweek(col("ts"))),
        "event_type", "weekday")),

    // ---- Incremental exact-similarity admission: index the even
    //      half (grams + prefix postings + FROZEN df order), admit
    //      the odd half — cross and within-batch pairs, zero loss
    //      under the frozen order (superset prefixes only ADD
    //      candidates; verification prunes) ----
    "q214_incremental_allpairs" -> ((s, dir) => {
      val root = graft.util.TempDirs.create("graft_q214").toString
      val docs = t(s, dir, "documents")
      graft.operators.AllPairsJoin.buildIndex(s,
        docs.filter(col("doc_id") % 2 === 0), root, threshold = 0.5)
      graft.operators.AllPairsJoin.admit(s, root,
        docs.filter(col("doc_id") % 2 === 1), threshold = 0.5)
    }),

    // ---- Functional-dependency discovery over the profiled order
    //      columns: A→B ⇔ |distinct A| = |distinct (A,B)|, ONE
    //      multi-distinct agg pass (approx=true swaps HLL sketches at
    //      scale); p·(p−1) output rows whatever the corpus.
    //      DELIBERATELY exact here: this query is DuckDB-hash-oracled,
    //      and exact-vs-HLL is the only thing its ~7s buys — a 100 TB
    //      profiler flips `approx = true` (2% error) and the pass
    //      shape is unchanged ----
    "q211_fd_discovery" -> ((s, dir) =>
      graft.quality.Dependencies.fdReport(
        t(s, dir, "orders"), profiledOrderCols.map(_._1))),

    // ---- Benford first-digit audit of order amounts (the
    //      fabricated-feed forensic): digit via two codegen'd
    //      log/pow exprs, one grouped count, 9-row output with chi²
    //      terms and Nigrini's MAD ----
    "q212_benford" -> ((s, dir) =>
      graft.operators.Benford.firstDigitReport(
        t(s, dir, "orders"), "o_totalprice")),

    // ---- Daily-count autocorrelation at lags 1..7 (does the feed
    //      need a seasonal baseline?): one shuffle to the daily
    //      table, per-lag self-joins on the day-cardinality table ----
    "q213_daily_acf" -> ((s, dir) =>
      graft.operators.Anomaly.dailyAcf(t(s, dir, "events"))),

    // ---- Streaming separability monitor: per-batch AUC of the
    //      quality scorer vs a pinned validated snapshot's AUC —
    //      catches scorer decay that PSI/KS/mix monitors can't see.
    //      Single AvailableNow batch ⇒ fully oracled (q110's trick);
    //      replay idempotence + multi-batch pinned in DriftMonitorSpec ----
    "q210_stream_auc" -> ((s, dir) => {
      import graft.lake.TableLog
      val root = graft.util.TempDirs.create("graft_q210")
      val score: DataFrame => DataFrame = d => d.select(
        col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("score"),
        (col("lang") === "en").as("label"))
      val baseline = root.resolve("baseline").toString
      TableLog.commitOverwrite(s, baseline,
        score(t(s, dir, "documents"))
          .filter(col("doc_id") % 2 === 0).select("score", "label"))
      graft.streaming.DriftMonitor.monitorAuc(s, dir, "documents.parquet",
        score, baseline, 1, root.resolve("report").toString,
        "score", "label", root.resolve("ckpt").toString)
      TableLog.read(s, root.resolve("report").toString)
        .orderBy("batch_id")
    }),

    // ---- EXACT corpus-wide similarity self-join (All-Pairs/PPJoin):
    //      df-ordered prefix filter indexes only each doc's rarest
    //      shingles, so candidate generation joins postcard-sized
    //      posting lists — no LSH recall loss, no bounded slice ----
    "q209_allpairs_join" -> ((s, dir) =>
      graft.operators.AllPairsJoin.jaccardJoin(
        t(s, dir, "documents"), threshold = 0.5)),

    // ---- Goh–Barabási burstiness of per-user inter-event gaps by
    //      event type (bot-vs-human screen: −1 metronome, 0 Poisson,
    //      +1 burst-and-silence): lag window partitioned per user,
    //      two moment aggs — never a global window ----
    "q208_burstiness" -> ((s, dir) =>
      graft.operators.EventTime.burstiness(t(s, dir, "events"))),

    // ---- Concat-and-chunk packing audit: which docs get split at a
    //      512-token sequence boundary, per source. Two-phase
    //      distributed prefix sum (bucket subtotals → tiny cumulative
    //      → per-bucket windows) — never a single-task global window ----
    "q201_sequence_pack" -> ((s, dir) =>
      graft.operators.SequencePack.crossingReport(
        t(s, dir, "documents"), seqLen = 512)),

    // ---- ROC AUC of the quality score as an English detector:
    //      corpus work is ONE grouped agg to the distinct-score
    //      table; Mann–Whitney with tied-pair correction over that
    //      bounded table — never a corpus-wide rank window ----
    "q202_quality_auc" -> ((s, dir) =>
      graft.operators.ClassifierEval.aucSummary(
        t(s, dir, "documents").select(
          TextFunctions.qualityScore(col("text")).as("score"),
          (col("lang") === "en").as("label")),
        "score", "label")),

    // ---- Per-node triangles + clustering coefficient of the nav
    //      graph: degree-ordered orientation (compact-forward) keeps
    //      the wedge join arboricity-bounded instead of hub-quadratic ----
    "q203_triangles" -> ((s, dir) =>
      graft.operators.Triangles.navigationTriangles(t(s, dir, "events"))),

    // ---- Per-source compression profile: DEFLATE ratio (native
    //      codegen'd expression, thread-local Deflater) beside byte
    //      entropy — the phrase-repetition quality signal entropy
    //      can't see. Map-only scan + one grouped agg; no SQL
    //      compressor in DuckDB ⇒ rows-only, DeflateRatioSpec pins
    //      the math against java.util.zip directly ----
    "q204_compress_profile" -> ((s, dir) => {
      val r = graft.functions.DeflateRatio.deflateRatio(col("text"))
      val e = graft.functions.ByteEntropy.byteEntropy(col("text"))
      t(s, dir, "documents")
        .select(col("source"), r.as("__r"), e.as("__e"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          round(avg(col("__r")), 4).as("mean_ratio"),
          round(avg(col("__e")), 4).as("mean_entropy"),
          sum(when(col("__r") < 0.3, 1L).otherwise(0L))
            .as("n_repetitive"),
          sum(when(col("__r") >= 1.0, 1L).otherwise(0L))
            .as("n_incompressible"))
        .orderBy("source")
    }),

    // ---- Per-source token-mass Gini: ONE grouped agg to the
    //      (source × n_tokens) histogram, rank identity evaluated
    //      group-wise over that bounded table — bit-identical to the
    //      oracle's global sort without ever ranking the corpus ----
    "q206_token_gini" -> ((s, dir) =>
      graft.operators.Concentration.tokenGiniBySource(
        t(s, dir, "documents"))),

    // ---- FFD no-split packing summary: per-bucket first-fit-
    //      decreasing inside flatMapGroups (token COUNTS shuffle,
    //      never text); oracled via a recursive CTE carrying each
    //      bucket's open-bin residual list, one step per doc;
    //      capacity/efficiency invariants in SequencePackSpec ----
    "q207_pack_ffd" -> ((s, dir) =>
      graft.operators.SequencePack.ffdSummary(
        t(s, dir, "documents"), seqLen = 512)),

    // ---- Full ROC curve at distinct-score resolution (the table a
    //      threshold chooser plots): same two-agg dataflow as q202,
    //      cumulative TP/FP over the bounded score table ----
    "q205_roc_curve" -> ((s, dir) =>
      graft.operators.ClassifierEval.rocCurve(
        t(s, dir, "documents").select(
          TextFunctions.qualityScore(col("text")).as("score"),
          (col("lang") === "en").as("label")),
        "score", "label")),

    // ---- Deterministic weighted label propagation (Raghavan '07):
    //      page communities of the navigation graph. Pregel-shaped —
    //      edges partitioned once, only the |nodes|-row label table
    //      shuffles per iteration; tie rule (wt desc, label asc)
    //      makes the fixed-iteration result oracle-able ----
    "q170_label_communities" -> ((s, dir) =>
      graft.operators.Communities.navigationCommunities(
        s, t(s, dir, "events"))),

    // ---- Event-time disorder profile → watermark sizing: bucketed
    //      high-water mark (one shuffle to a bucket-count table +
    //      broadcast join back) instead of a single-task global
    //      running max; exact percentile is the oracle pin, swap
    //      approx_percentile at scale (q29/q52 pattern) ----
    "q171_disorder_profile" -> ((s, dir) =>
      graft.operators.EventTime.disorderProfile(t(s, dir, "events"))),

    // ---- Heaps-law vocabulary growth: linear form — one row per
    //      type at its min(bucket), cumulative window over the tiny
    //      bucket table (never a quadratic prefix re-scan) ----
    "q172_vocab_growth" -> ((s, dir) =>
      graft.operators.Vocab.growthCurve(t(s, dir, "documents"))),

    // ---- DP release ledger: one (event_type × day) agg; k releases
    //      are filtered sums over that tiny table — the corpus is
    //      never re-scanned per release ----
    "q173_dp_accounting" -> ((s, dir) =>
      graft.operators.DifferentialPrivacy.releaseAccounting(
        t(s, dir, "events"))),

    // ---- Seeded-hash Laplace mechanism on the ledger: map-side
    //      noise, deterministic run-to-run; hash-seeded ⇒ rows-only,
    //      distributional contract in DifferentialPrivacySpec ----
    "q174_dp_release" -> ((s, dir) =>
      graft.operators.DifferentialPrivacy.noisedRelease(
        t(s, dir, "events"))),

    // ---- JL random projection 64→16 (Achlioptas ±1, codegen'd
    //      map-only matvec) + bounded recall probe vs the exact
    //      baseline; floats differ per-platform ⇒ rows-only, recall
    //      floor in RandomProjectionSpec ----
    "q175_random_projection" -> ((s, dir) =>
      graft.operators.RandomProjection.recallEval(
        t(s, dir, "embeddings"))),

    // ---- HLL audience-overlap matrix: one scan → one lgK-bounded
    //      sketch per slice, |slices|² math over postcard-sized rows
    //      (vs q116's deliberate exact pairwise shuffle). Estimates
    //      engine-specific ⇒ rows-only; error bound in SketchesSpec ----
    "q176_audience_overlap" -> ((s, dir) =>
      graft.operators.Sketches.overlapMatrix(
        t(s, dir, "events"), "event_type", "user_id")),

    // ---- Watermark late-drop audit: replay with a deliberate
    //      late-backfill tranche, read the engine's own
    //      numRowsDroppedByWatermark per micro-batch — the counter a
    //      production monitor scrapes; engine metrics ⇒ rows-only,
    //      exact drop accounting asserted in LateAuditSpec ----
    "q177_late_audit" -> ((s, dir) =>
      graft.streaming.LateAudit.backfillAudit(s, dir)),

    // ---- Table history report (DESCRIBE HISTORY): per version —
    //      action, dirs, files, manifest-stats row count. Pure
    //      manifest metadata: no data read at any table size.
    //      Fixture builds 4 commits (append/append/merge/delete);
    //      temp-dir paths ⇒ rows-only, invariants in TableLogSpec
    //      family below ----
    "q199_table_history" -> ((s, dir) => {
      import s.implicits._
      val tbl = graft.util.TempDirs.create("graft_hist_q199").toString
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          to_date(col("ts")).as("dt"), col("value"))
      val d = dayofmonth(col("dt"))
      graft.lake.TableLog.commitAppend(s, tbl, ev.where(d <= 10))
      graft.lake.TableLog.commitAppend(s, tbl, ev.where(d > 10 && d <= 20))
      graft.lake.TableLog.commitMerge(s, tbl, ev.where(d > 20),
        Seq("event_id"))
      graft.lake.TableLog.commitDelete(s, tbl, "user_id", 0L, 9L)
      graft.lake.TableLog.history(s, tbl).map { c =>
        (c.version.toLong, c.action, c.dirs.length.toLong,
          c.stats.length.toLong, c.stats.map(_.rows).sum)
      }.toDF("version", "action", "n_dirs", "n_files", "n_rows")
        .orderBy("version")
    }),

    // ---- Pearson chi-square homogeneity test on the event-type MIX
    //      between two date slices — the categorical drift monitor
    //      beside PSI (numeric, q106/q187), KS (ordered, q178) and
    //      JS mix divergence (q168); category-cardinality dataflow
    //      after one grouped count per side ----
    "q200_chi2_drift" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val d = dayofmonth(col("ts"))
      graft.operators.Drift.chiSquare(
        ev.where(d <= 15), ev.where(d > 15), "event_type")
    }),

    // ---- Language-ID confusion matrix: declared `lang` vs the
    //      detector's verdict — the eval harness for q16's operator
    //      (zh has no stopword profile and lands honestly in 'und'/
    //      misdetections); matrix-sized after one scan ----
    "q198_lang_confusion" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("lang").as("declared"),
        TextFunctions.langId(col("text")).as("detected"))
      d.groupBy("declared", "detected")
        .agg(count(lit(1)).as("n"))
        .withColumn("frac", round(col("n") /
          sum(col("n")).over(Window.partitionBy(col("declared"))), 6))
        .orderBy("declared", "detected")
    }),

    // ---- Layout advisor: mine a representative workload's ANALYZED
    //      plans for filter/join columns per base table (ExprId walk
    //      credits derived predicates to their base columns) — the
    //      Z-order/bucket key recommendation, metadata-only ----
    "q197_layout_advisor" -> ((s, dir) => {
      val names = Seq("q01_pricing_summary", "q03_top_orders",
        "q04_region_revenue", "q05_event_type_stats",
        "q181_point_in_time", "q190_join_cardinality")
      graft.plans.LayoutAdvisor.predicateProfile(s,
        names.map(n => queries(n)(s, dir)))
    }),

    // ---- MERGE dry-run plan (EXPLAIN for the upsert): per target
    //      partition — rewrite/carry/create and post-merge row
    //      counts, from two partition-keyed counts + one key-grain
    //      overlap count; no write is paid ----
    "q196_merge_plan" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("dt", to_date(col("ts")))
        .select("dt", "event_id")
      val d = dayofmonth(col("dt"))
      graft.lake.MergeWriter.mergePlan(
        ev.where(d <= 20), ev.where(d >= 15 && d <= 25),
        Seq("dt", "event_id"), Seq("dt"))
    }),

    // ---- Seasonality-adjusted anomaly: (key × hour-of-day) cells
    //      scored against their OWN hour's baseline distribution —
    //      one corpus-scale cell agg, everything after is tiny ----
    "q195_seasonal_anomaly" -> ((s, dir) =>
      graft.operators.Anomaly.seasonalZScore(t(s, dir, "events"))),

    // ---- SQL-text gateway: raw SQL through spark.sql over the
    //      registered lake views (the reference's dbt/Athena surface)
    //      — the IDENTICAL text is the DuckDB oracle ----
    "q194_sql_gateway" -> ((s, dir) =>
      graft.pipeline.SqlGateway.run(s, dir,
        graft.pipeline.SqlGateway.segmentRevenueSql)),

    // ---- Temporal split with embargo: map-only assignment (no
    //      shuffle until the audit agg); rows inside the embargo
    //      window before each boundary belong to NO split ----
    "q192_temporal_split" -> ((s, dir) =>
      graft.operators.TemporalSplit.audit(t(s, dir, "events"),
        "2024-01-15 00:00:00", "2024-01-23 00:00:00",
        embargoSeconds = 86400L)),

    // ---- Structured→text rendering: per-user history serialized to
    //      one integer-rendered doc (md5-comparable across engines);
    //      per-user window caps lines BEFORE the collect ----
    "q193_history_docs" -> ((s, dir) =>
      graft.operators.HistoryDocs.render(t(s, dir, "events"))),

    // ---- Pre-flight join cardinality: exact equi-join output size
    //      as a frequency dot product — two key-cardinality aggs +
    //      a key-sized join, never the join itself ----
    "q190_join_cardinality" -> ((s, dir) =>
      graft.operators.JoinAdvisor.joinCardinality(
        t(s, dir, "lineitem"), t(s, dir, "orders"),
        "l_orderkey", "o_orderkey")),

    // ---- Expectation suggestion: one profiling scan (multi-distinct
    //      expand) → a GE-style suggested rule per column, generator
    //      shared with the oracle so priority order cannot drift ----
    "q191_suggest_expectations" -> ((s, dir) =>
      graft.quality.SuggestExpectations.suggest(
        t(s, dir, "orders"), SparkEntry.profiledOrderCols)),

    // ---- Provenance canaries: plant seeded trap docs, then test a
    //      suspect corpus — exact (md5) and near (broadcast gram
    //      join) tiers; clean corpus must read 0, injected 1.0;
    //      seeded generation ⇒ rows-only, contracts in CanarySpec ----
    "q189_canary_trace" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val clean = graft.operators.Canary.detect(docs, seed = 42L)
        .withColumn("corpus", lit("clean"))
      val injected = graft.operators.Canary.detect(
          graft.operators.Canary.inject(docs, seed = 42L), seed = 42L)
        .withColumn("corpus", lit("injected"))
      clean.unionByName(injected)
        .select(col("corpus"), col("n_planted"), col("n_exact"),
          col("n_near"), col("detection_rate"))
        .orderBy("corpus")
    }),

    // ---- Streaming k-anonymity monitor: per-batch class audit of
    //      the (event_type, day) quasi-space appended to a versioned
    //      report with anon-<batchId> replay tags; single-batch run
    //      equals the batch audit ⇒ shares its oracle arithmetic ----
    "q188_stream_anonymity" -> ((s, dir) =>
      graft.streaming.PrivacyMonitor.eventAnonymityStream(s, dir)),

    // ---- Equi-depth PSI: bins adapt to the baseline's quantiles
    //      (scale-free, unlike a fixed-width grid on heavy tails);
    //      exact percentile edges are the oracle pin, approx at
    //      scale; everything after the edges is bucket-table work ----
    "q187_psi_equidepth" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val d = dayofmonth(col("ts"))
      graft.operators.Drift.psiEquiDepth(
        ev.where(d <= 15), ev.where(d > 15), "value")
    }),

    // ---- LSH operating-point harness: exact-Jaccard ground truth
    //      on the bounded slice (q19 pattern) scores the candidate
    //      stage and the verified pipeline — the S-curve measurement
    //      a pipeline owner reruns after retuning banding; hash-
    //      seeded MinHash ⇒ rows-only, scoring pinned in spec ----
    "q186_dedup_eval" -> ((s, dir) =>
      graft.operators.DedupEval.lshQuality(t(s, dir, "documents"))),

    // ---- Markov removal-effect attribution: transition extraction
    //      is one user-key window shuffle; the chain solve is
    //      |channels|²-sized driver math (bounded-state contract).
    //      The 200-sweep value iteration is deterministic, so the
    //      oracle replays it as a recursive CTE over the same
    //      transition table (state vector carried as a DOUBLE list) ----
    "q185_markov_attribution" -> ((s, dir) =>
      graft.operators.Attribution.removalEffects(s, t(s, dir, "events"))),

    // ---- Retrieval-quality harness: P@10 / MRR / nDCG@10 of the
    //      exact cosine ranking under label-as-relevance; bounded
    //      broadcast query set (q20 shape), shared idcg literals
    //      keep engine and oracle bit-aligned ----
    "q184_retrieval_eval" -> ((s, dir) =>
      graft.operators.RetrievalEval.bruteMetrics(t(s, dir, "embeddings"))),

    // ---- Streaming SCD2 upkeep: per-batch scd2Merge into a
    //      TableLog dimension with replay-safe action tags; in-order
    //      replay + merge≡rebuild ⇒ shares the q180 batch oracle ----
    "q183_stream_scd2" -> ((s, dir) =>
      graft.streaming.ScdStream.streamedTierDimension(s, dir)),

    // ---- Explicit GROUPING SETS (a shape neither rollup nor cube
    //      expresses: both one-dimension margins, no grand total) —
    //      one shuffle, the sets expand map-side ----
    "q182_grouping_sets" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().cast("bigint").as("gid"),
          count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy("gid", "o_orderstatus", "o_orderpriority")
    }),

    // ---- SCD2 dimension build from a change feed: one window
    //      shuffle on the key (lag-dedupe + lead-chaining), validity
    //      intervals partition each key's timeline ----
    "q180_scd2_build" -> ((s, dir) =>
      graft.operators.Scd.userTierDimension(t(s, dir, "events"))),

    // ---- Point-in-time fact attribution: equi-join on the key with
    //      a residual interval predicate — hash join, at most one
    //      version per fact, no fan-out ----
    "q181_point_in_time" -> ((s, dir) =>
      graft.operators.Scd.revenueByTierAtPurchase(t(s, dir, "events"))),

    // ---- Two-sample KS drift, exact form: ECDF sup-gap at every
    //      distinct value (unpartitioned window = the oracle pin;
    //      q179 is the production grid) ----
    "q178_ks_drift" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val d = dayofmonth(col("ts"))
      graft.operators.Drift.ksReport(
        ev.where(d <= 15), ev.where(d > 15), "value")
    }),

    // ---- KS on the fixed-width bucket grid: window over
    //      range/width rows whatever the corpus size — the 100 TB
    //      path, still exact at the boundaries and still oracled ----
    "q179_ks_drift_grid" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val d = dayofmonth(col("ts"))
      graft.operators.Drift.ksReport(
        ev.where(d <= 15), ev.where(d > 15), "value", Some(0.5))
    }),

    // ---- A1-A4 + P6: grouped aggregates over the big fact table ----
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") < lit(java.sql.Timestamp.valueOf("2000-06-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // ---- The reference's fact build: FOJ of daily aggregates ----
    "q02_daily_store_metrics" -> ((s, dir) =>
      DailyStoreMetrics.build(t(s, dir, "orders"), t(s, dir, "events"))),

    // ---- Join + agg + top-k ----
    "q03_top_orders" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
      rev.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("dt"), col("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // ---- Multi-way broadcast dim join (star-schema rollup) ----
    "q04_region_revenue" -> ((s, dir) => {
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(
          round(sum("o_totalprice"), 2).as("revenue"),
          count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_customers"))
        .orderBy("r_name")
    }),

    // ---- Filtered counts (A4) over events ----
    "q05_event_type_stats" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          count(when(col("value") > 100.0, 1)).as("n_big"),
          round(sum("value"), 2).as("total_value"),
          round(avg("value"), 2).as("avg_value"))
        .orderBy("event_type")
    }),

    // ---- Window functions (O4): rank + running total per customer ----
    "q06_window_rank" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("dt"),
        round(col("o_totalprice"), 2).as("order_value"))
      val w = Window.partitionBy("o_custkey").orderBy(col("dt"), col("o_orderkey"))
      o.withColumn("rn", row_number().over(w).cast("bigint"))
        .withColumn("cum_value", round(sum(col("order_value"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
        .filter(col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    }),

    // ---- Set operations (O3): intersect / except / union ----
    "q07_setops" -> ((s, dir) => {
      val building = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey"))
      val big = t(s, dir, "orders")
        .groupBy("o_custkey").agg(sum("o_totalprice").as("spend"))
        .filter(col("spend") > 3000000.0)
        .select(col("o_custkey").as("custkey"))
      building.intersect(big).withColumn("tag", lit("building_big"))
        .unionByName(building.except(big).withColumn("tag", lit("building_small")))
        .select("custkey", "tag")
        .orderBy("tag", "custkey")
    }),

    // ---- Exact distinct counts per day ----
    "q08_daily_users" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("dt"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("dt")
    }),

    // ---- JSON field access (F8) on the props payload ----
    "q09_json_props" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy("event_type")
        .agg(
          count(col("k")).as("n"),
          sum(col("k")).cast("bigint").as("sum_k"),
          round(avg(col("k")), 2).as("avg_k"))
        .orderBy("event_type")
    }),

    // ---- Semi-structured VARIANT path (Spark 4): parse the JSON
    //      payload ONCE into the shredded binary encoding, then typed
    //      variant_get extraction — the columnar-JSON upgrade over
    //      q09's per-access string re-parse ----
    "q76_variant_props" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("v", parse_json(col("props")))
        .withColumn("k", variant_get(col("v"), "$.k", "int"))
        .groupBy("event_type")
        .agg(
          count(col("k")).as("n"),
          sum(col("k")).cast("bigint").as("sum_k"),
          min(col("k")).cast("bigint").as("min_k"),
          max(col("k")).cast("bigint").as("max_k"))
        .orderBy("event_type")
    }),

    // ---- Incremental MERGE upsert (S8) rebuilt from primitives ----
    "q10_merge_upsert" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val cutoff = java.sql.Timestamp.valueOf("2000-01-01 00:00:00")
      val winStart = java.sql.Timestamp.valueOf("1999-12-25 00:00:00")
      val target = DailyStoreMetrics.ordersDaily(
        orders.filter(col("o_orderdate") < lit(cutoff)))
      val updates = DailyStoreMetrics.ordersDaily(
        orders.filter(col("o_orderdate") >= lit(winStart)))
      MergeWriter.upsert(target, updates, Seq("store_id", "dt"))
        .orderBy("store_id", "dt")
    }),

    // ---- Typed staging projection (P1-P4) with pushdown filter ----
    "q11_staging_orders" -> ((s, dir) => {
      Staging.stgOrders(t(s, dir, "orders"))
        .filter(col("dt") >= lit(java.sql.Date.valueOf("2000-01-01")))
        .orderBy("order_id")
    }),

    // ---- Expectation suite (V1-V4) compiled to one aggregate pass ----
    "q12_expectations" -> ((s, dir) => {
      Expectations.evaluate(
        t(s, dir, "orders"),
        Suite("orders",
          Some(ColumnsOrdered(Seq("o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate", "o_orderpriority"))),
          Seq(
            NotNull("o_orderkey"),
            MinBound("o_totalprice", 0.0),
            RegexMatch("o_orderstatus", "[A-Z]"))))
    }),

    // ---- Structured Streaming: watermarked tumbling-window agg ----
    "q13_stream_daily" -> ((s, dir) => Streams.dailyEventMetrics(s, dir)),

    // ---- Structured Streaming, production shape: append mode emits
    //      exactly the watermark-finalized windows (state dropped as
    //      they emit — the bounded-state contract), and that emitted
    //      set is itself batch-oracleable ----
    "q50_stream_append" -> ((s, dir) => Streams.dailyEventMetricsAppend(s, dir)),

    // ---- Structured Streaming: stream-static broadcast enrichment
    //      join (dim re-planned per micro-batch, stream side never
    //      shuffled for the join) + windowed rollup ----
    "q56_stream_enriched" -> ((s, dir) => Streams.dailySegmentMetrics(s, dir)),

    // ---- Structured Streaming: stream-STREAM interval join with
    //      watermark-bounded state (click→purchase attribution) ----
    "q63_stream_attribution" -> ((s, dir) => Streams.clickAttributionRun(s, dir)),

    // ---- transformWithState (Spark 4 arbitrary state API): per-user
    //      running profiles via a typed ValueState handle; bounded run
    //      equals the batch group-by ⇒ oracled ----
    "q69_user_profiles" -> ((s, dir) =>
      graft.streaming.UserProfiles.userProfiles(s, dir)),

    // ---- Dedup: exact ----
    "q14_dedup_exact" -> ((s, dir) => Dedup.exact(t(s, dir, "documents"))),

    // ---- Text analysis: token counts + quality scoring ----
    "q15_text_stats" -> ((s, dir) => {
      val toks = col("__toks")
      val prof = col("__prof")
      t(s, dir, "documents")
        .withColumn("__toks", TextFunctions.tokens(col("text")))
        .withColumn("__prof", TextFunctions.profileT(toks))
        .select(
          col("doc_id"),
          size(toks).cast("bigint").as("n_tokens"),
          TextFunctions.sumTokenLenP(prof).as("sum_tok_len"),
          TextFunctions.langScoresP(prof).head._2.as("stop_hits"),
          round(TextFunctions.sumTokenLenP(prof).cast("double") /
            size(toks).cast("double"), 4).as("mean_tok_len"),
          TextFunctions.qualityScoreP(size(toks), prof).as("quality"))
        .orderBy("doc_id")
    }),

    // ---- Text analysis: stopword-based language ID ----
    "q16_lang_id" -> ((s, dir) => {
      val toks = col("__toks")
      val prof = col("__prof")
      val scoreCols = TextFunctions.langScoresP(prof).map {
        case (lang, score) => score.as(s"s_$lang")
      }
      t(s, dir, "documents")
        .withColumn("__toks", TextFunctions.tokens(col("text")))
        .withColumn("__prof", TextFunctions.profileT(toks))
        .select((col("doc_id") +: scoreCols :+
          TextFunctions.langIdP(prof).as("lang_pred")): _*)
        .orderBy("doc_id")
    }),

    // ---- Multimodal: resize → decode pipeline (map-only; rows-only) ----
    "q49_media_resize" -> ((s, dir) => {
      import s.implicits._
      Multimodal.featurize(
          Multimodal.resize(Multimodal.ppmFromDocuments(s, dir), 8, 6),
          Multimodal.PpmDecoder)
        .toDF()
        .select(col("media_id"), col("n_bytes"),
          round(element_at(col("features"), 1), 1).as("width"),
          round(element_at(col("features"), 2), 1).as("height"),
          round(element_at(col("features"), 7), 4).as("luma_mean"))
        .orderBy("media_id")
    }),

    // ---- Dedup: MinHash + LSH candidate pairs (hash-based; rows-only) ----
    "q17_minhash_pairs" -> ((s, dir) =>
      Dedup.minHashCandidates(t(s, dir, "documents"),
        k = 3, numHashes = 32, bands = 8, maxBucket = 200)
        .withColumn("est_jaccard", round(col("est_jaccard"), 4))),

    // ---- q17's 100 TB checkpoint shape: identical LSH candidates,
    //      but the signature table spills through a TableLog commit
    //      and is read back as FILES (spillTo) instead of living in
    //      the executor cache — the mode a corpus-scale run deploys
    //      (no cache residency; the signature table is a durable
    //      artifact incremental dedup later admits against). Benched
    //      so the deployed shape has a measured cost. Hash-seeded ⇒
    //      rows-only; spill==persist equality pinned in TextDedupSpec ----
    "q130_minhash_spill" -> ((s, dir) => {
      val spill = graft.util.TempDirs.create("graft_q130")
        .resolve("sigs").toString
      Dedup.minHashCandidates(t(s, dir, "documents"),
        k = 3, numHashes = 32, bands = 8, maxBucket = 200,
        spillTo = Some(spill))
        .withColumn("est_jaccard", round(col("est_jaccard"), 4))
    }),

    // ---- The full fuzzy-dedup pipeline, composed end-to-end: LSH
    //      candidate generation → exact n-gram-Jaccard verification →
    //      keep-first filtering (every near-dup of a smaller id drops).
    //      This is the production shape at 100 TB: candidates by
    //      bucket join, quadratic work only within verified pairs.
    //      Hash-impl-dependent ⇒ rows-only; planted-pair semantics
    //      asserted in TextDedupSpec. ----
    "q54_fuzzy_dedup_pipeline" -> ((s, dir) =>
      Dedup.fuzzyDedupKeepFirst(t(s, dir, "documents"),
        k = 3, numHashes = 32, bands = 8, maxBucket = 200, threshold = 0.5)),

    // ---- Dedup: SimHash fingerprints (hash-based; rows-only) ----
    "q18_simhash" -> ((s, dir) => Dedup.simHash(t(s, dir, "documents"))),

    // ---- Dedup: exact n-gram Jaccard over a bounded block ----
    "q19_ngram_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
      val ids = docs.select(col("doc_id"))
      val cands = ids.select(col("doc_id").as("id_a"))
        .crossJoin(ids.select(col("doc_id").as("id_b")))
        .filter(col("id_a") < col("id_b"))
      Dedup.jaccardVerify(docs, cands, k = 3, threshold = 0.2)
    }),

    // ---- Similarity: exact brute-force cosine top-k ----
    "q20_embedding_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 8), k = 5)
        .withColumn("rank", col("rank").cast("bigint"))
    }),

    // ---- Similarity: IVF ANN, fixed codebook + map-only assignment
    //      (approximate; rows-only) ----
    "q21_ivf_ann" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 8), k = 5, nprobe = 4)
        .withColumn("rank", col("rank").cast("bigint"))
    }),

    // ---- Distributed Lloyd k-means over the embedding corpus:
    //      map-only assignment (broadcast codebook in codegen) +
    //      partial-agg centroid update. Codebook is hash-seeded ⇒
    //      rows-only; blob recovery + cost monotonicity asserted in
    //      KMeansSpec ----
    "q57_kmeans" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.operators.KMeans.assign(e, graft.operators.KMeans.fit(e, k = 16, maxIter = 3))
    }),

    // ---- Product-quantization ANN: 32× vector compression (m byte
    //      codes vs d floats), map-only encode, ADC search = m table
    //      lookups per candidate in codegen. Codebook is hash-seeded ⇒
    //      rows-only; recall floor vs exact L2 asserted in
    //      ProductQuantizationSpec ----
    "q58_pq_ann" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val model = graft.operators.ProductQuantization.fit(e, m = 8, k = 16)
      val enc = graft.operators.ProductQuantization.encode(e, model)
      graft.operators.ProductQuantization.topK(
        enc, e.filter(col("vec_id") < 8), model, k = 5)
        .withColumn("rank", col("rank").cast("bigint"))
    }),

    // ---- Dedup: bucketed embedding near-dup — the scale path of q22.
    //      Approximate recall ⇒ rows-only for the driver; the
    //      subset-of-exact + recall-floor contract is asserted in
    //      SimilaritySpec ----
    "q45_neardup_bucketed" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 500)
      Similarity.embeddingNearDups(e, threshold = 0.4, numCentroids = 8)
    }),

    // ---- Similarity: random-hyperplane LSH near-dup — the
    //      training-free scale path. The synthetic embeddings hold no
    //      true near-dups (max pairwise cosine ≈ 0.51), so the query
    //      derives planted ones deterministically from the driver
    //      table: each vector paired with itself minus its first
    //      dimension (cosine ≈ 0.99). Rows-only (LSH/hash-based);
    //      recall-vs-exact is asserted in SimilaritySpec. ----
    "q48_hyperplane_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 500)
        .select(col("vec_id"), col("embedding"))
      val perturbed = e.select((col("vec_id") + 100000L).as("vec_id"),
        concat(array(lit(0.0f)), slice(col("embedding"), 2, 63))
          .as("embedding"))
      Similarity.hyperplaneNearDups(e.unionByName(perturbed),
        threshold = 0.9, dim = 64)
    }),

    // ---- Dedup: embedding-cosine near-duplicate pairs ----
    "q22_embedding_neardup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 500)
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("v_b"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .withColumn("cos_sim",
          round(graft.functions.VectorFunctions.cosine(col("v_a"), col("v_b")), 6))
        .filter(col("cos_sim") >= 0.4)
        .select("id_a", "id_b", "cos_sim")
        .orderBy("id_a", "id_b")
    }),

    // ---- Text: winnowing-style document fingerprint (rows-only) ----
    "q23_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    }),

    // ---- Multimodal: binary payload + stubbed decode plumbing ----
    "q24_multimodal_features" -> ((s, dir) => Multimodal.featureTable(s, dir)),

    // ---- Multimodal image via the JDK's REAL compressed codec:
    //      gradient assets PNG-encoded with javax.imageio, decoded
    //      back by ImageIoDecoder, per-asset pixel statistics. The
    //      oracle replays the closed-form gradient in SQL — hash
    //      parity certifies the entire PNG encode→decode cycle
    //      (projection sticks to exactly-reproducible features:
    //      integer-sum channel means, pixel-identical luma min/max;
    //      byte length and luma-mean are PNG-writer/sum-order
    //      dependent and stay out) ----
    "q289_png_features" -> ((s, dir) => {
      import s.implicits._
      Multimodal.featurize(Multimodal.pngFromDocuments(s, dir),
          Multimodal.ImageIoDecoder)
        .toDF()
        .select(col("media_id"),
          element_at(col("features"), 1).cast("int").as("width"),
          element_at(col("features"), 2).cast("int").as("height"),
          round(element_at(col("features"), 3), 6).as("mean_r"),
          round(element_at(col("features"), 4), 6).as("mean_g"),
          round(element_at(col("features"), 5), 6).as("mean_b"),
          round(element_at(col("features"), 6), 6).as("luma_min"),
          round(element_at(col("features"), 8), 6).as("luma_max"))
        .orderBy("media_id")
    }),

    // ---- Multimodal audio: REAL RIFF/WAVE chunk walk + 16-bit PCM
    //      signal features (rms/peak/zero-crossing rate) behind the
    //      same Decoder boundary (deterministic synthetic assets;
    //      rows-only) ----
    "q90_audio_features" -> ((s, dir) => {
      import s.implicits._
      Multimodal.featurize(Multimodal.wavFromDocuments(s, dir),
          Multimodal.WavDecoder)
        .toDF()
        .select(col("media_id"), col("n_bytes"), col("checksum"),
          element_at(col("features"), 3).cast("bigint").as("n_frames"),
          round(element_at(col("features"), 4), 4).as("duration_sec"),
          round(element_at(col("features"), 5), 4).as("rms"),
          round(element_at(col("features"), 6), 4).as("peak"),
          round(element_at(col("features"), 7), 4).as("zcr"))
        .orderBy("media_id")
    }),

    // ---- Multimodal: REAL decode path — P6 ppm header parse + pixel
    //      feature extraction behind the same Decoder boundary
    //      (deterministic synthetic assets; rows-only) ----
    "q46_ppm_decode" -> ((s, dir) => {
      import s.implicits._
      Multimodal.featurize(Multimodal.ppmFromDocuments(s, dir),
          Multimodal.PpmDecoder)
        .toDF()
        .select(col("media_id"), col("n_bytes"), col("checksum"),
          round(element_at(col("features"), 1), 1).as("width"),
          round(element_at(col("features"), 2), 1).as("height"),
          round(element_at(col("features"), 7), 4).as("luma_mean"))
        .orderBy("media_id")
    }),

    // ---- Approximate distinct (HLL): the raw estimate is
    //      impl-specific, so the oracled contract is the exact count
    //      plus the estimate landing within HLL's default 5% rsd ----
    "q25_approx_users" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          countDistinct(col("user_id")).as("n_users"),
          // DataSketches HLL (lgK=14, rsd ~0.8%) rather than
          // approx_count_distinct(rsd=0.01): Spark's HLL++ at that
          // precision declares ~2.7k Long buffer attributes, which
          // blows up the generated aggregate (one-time ~3s janino
          // compile, measured r5); the sketch keeps one binary
          // buffer and its estimator is unbiased at ~1.5k
          // cardinality where HLL++'s bias band broke the default
          // 5% contract (the r4 finding that forced rsd=0.01)
          hll_sketch_estimate(
            hll_sketch_agg(col("user_id"), lit(14))).as("__approx"))
        .select(col("event_type"), col("n_users"),
          (abs(col("__approx") - col("n_users")) <=
            greatest(round(col("n_users") * 0.05), lit(1.0)))
            .cast("int").as("approx_ok"))
        .orderBy("event_type")
    }),

    // ---- As-of join (operator Spark lacks; union-window form) ----
    "q26_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("value"), 2).as("purchase_value"))
      val errors = ev.filter(col("event_type") === "error")
        .groupBy("user_id", "ts")
        .agg(round(max("value"), 2).as("err_value"))
      AsOfJoin.asofBackward(purchases, errors, "user_id", "ts", "ts",
        Seq("err_value"))
        .select("event_id", "user_id", "purchase_value", "err_value")
        .orderBy("event_id")
    }),

    // ---- Rollup with grouping id ----
    "q27_rollup" -> ((s, dir) => {
      t(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          round(sum("o_totalprice"), 2).as("revenue"),
          count(lit(1)).as("n_orders"),
          grouping_id().cast("bigint").as("gid"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("revenue"), col("n_orders"), col("gid"))
        .orderBy("gid", "status", "priority")
    }),

    // ---- Rolling 7-day window (range frame over day index) ----
    "q28_rolling_revenue" -> ((s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(
          (col("o_custkey") % 10).as("store_id"),
          to_date(col("o_orderdate")).as("dt"))
        .agg(round(sum("o_totalprice"), 2).as("revenue"))
      val w = Window.partitionBy("store_id")
        .orderBy(datediff(col("dt"), lit(java.sql.Date.valueOf("1970-01-01"))))
        .rangeBetween(-6, Window.currentRow)
      daily
        .withColumn("rolling_7d", round(sum(col("revenue")).over(w), 2))
        .orderBy("store_id", "dt")
    }),

    // ---- Exact percentiles ----
    "q29_percentiles" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          expr("round(percentile(value, 0.5), 4)").as("p50"),
          expr("round(percentile(value, 0.9), 4)").as("p90"))
        .orderBy("event_type")
    }),

    // ---- Approximate percentiles: the single-pass mergeable-sketch
    //      scale path of q29 (exact percentile buffers every value per
    //      group; approx_percentile keeps a bounded sketch). Sketch
    //      values are impl-specific; the oracled contract is the RANK
    //      guarantee — the returned value's rank within its group is
    //      within n/accuracy (+ slack for ties) of q·n ----
    "q52_approx_percentiles" -> ((s, dir) => {
      // ONE sketch per group, not two: approx_percentile over a
      // quantile ARRAY builds a single QuantileSummaries and queries
      // it twice (two scalar calls each pay a full per-row sketch
      // insert — measured ~2x on this query's dominant stage)
      val appr = t(s, dir, "events")
        .groupBy("event_type")
        .agg(expr("approx_percentile(value, array(0.5, 0.9), 1000)")
          .as("__ps"))
        .select(col("event_type"),
          col("__ps").getItem(0).as("__p50"),
          col("__ps").getItem(1).as("__p90"))
      t(s, dir, "events")
        .join(broadcast(appr), Seq("event_type"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          sum(when(col("value") <= col("__p50"), 1L).otherwise(0L)).as("__r50"),
          sum(when(col("value") <= col("__p90"), 1L).otherwise(0L)).as("__r90"))
        .select(col("event_type"), col("n_events"),
          (abs(col("__r50") - col("n_events") * 0.5) <=
            col("n_events") * 0.005 + 1).cast("int").as("p50_rank_ok"),
          (abs(col("__r90") - col("n_events") * 0.9) <=
            col("n_events") * 0.005 + 1).cast("int").as("p90_rank_ok"))
        .orderBy("event_type")
    }),

    // ---- GROUPING SETS: arbitrary aggregation lattices beyond
    //      rollup (q27) / cube (q44) ----
    "q53_grouping_sets" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("dt", to_date(col("ts")))
        .filter(col("dt") < lit(java.sql.Date.valueOf("2024-01-04")))
        .groupingSets(
          Seq(Seq(col("dt")), Seq(col("event_type")), Seq()),
          col("dt"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("total_value"),
          grouping_id().cast("bigint").as("gid"))
        .select(
          coalesce(col("dt").cast("string"), lit("ALL")).as("dt"),
          coalesce(col("event_type"), lit("ALL")).as("event_type"),
          col("n_events"), col("total_value"), col("gid"))
        .orderBy("gid", "dt", "event_type")
    }),

    // ---- Top-k per group ----
    "q30_topk_per_store" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(
        (col("o_custkey") % 10).as("store_id"),
        col("o_orderkey"),
        round(col("o_totalprice"), 2).as("order_value"))
      val w = Window.partitionBy("store_id")
        .orderBy(col("order_value").desc, col("o_orderkey"))
      o.withColumn("rn", row_number().over(w).cast("bigint"))
        .filter(col("rn") <= 3)
        .orderBy("store_id", "rn")
    }),

    // ---- lag(): per-customer order gaps ----
    "q31_order_gaps" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        to_date(col("o_orderdate")).as("dt"))
      val w = Window.partitionBy("o_custkey").orderBy(col("dt"), col("o_orderkey"))
      o.withColumn("days_since_prev",
        datediff(col("dt"), lag(col("dt"), 1).over(w)).cast("bigint"))
        .orderBy("o_orderkey")
    }),

    // ---- Gap-based sessionization ----
    "q32_sessionize" -> ((s, dir) =>
      Sessionize.sessionStats(t(s, dir, "events"),
        key = "user_id", ts = "ts", gapSeconds = 1800, valueCol = "value")),

    // ---- V6 source freshness, evaluated against the reference's
    //      warn-12h / error-24h policy (dbt/models/schema.yml:10-13).
    //      `asOf` pins "now" to a literal (the dbt freshness snapshot
    //      timestamp), which makes the check deterministic and hence
    //      DuckDB-oracleable; production passes None → wall clock ----
    "q33_freshness" -> ((s, dir) =>
      Expectations.freshnessStatus(t(s, dir, "events"),
        Expectations.FreshnessPolicy("ts",
          warnAfterHours = Some(12.0), errorAfterHours = Some(24.0)),
        asOf = Some(to_timestamp(lit("2024-01-31 18:00:00"))))),

    // ---- Salted join: results identical to plain join (oracle),
    //      shuffle keys spread over (key, salt) for hot keys ----
    "q43_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
      val supp = t(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
      graft.operators.Skew.saltedJoin(li, supp, "l_suppkey", n = 8,
        saltBy = Seq("l_orderkey", "l_linenumber"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("n_items"))
        .orderBy("s_name")
    }),

    // ---- Cube (all grouping-set combinations) ----
    "q44_cube" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("dt", to_date(col("ts")))
        .filter(col("dt") < lit(java.sql.Date.valueOf("2024-01-04")))
        .cube(col("dt"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"),
          grouping_id().cast("bigint").as("gid"))
        .select(
          coalesce(col("dt").cast("string"), lit("ALL")).as("dt"),
          coalesce(col("event_type"), lit("ALL")).as("event_type"),
          col("n"), col("total"), col("gid"))
        .orderBy("gid", "dt", "event_type")
    }),

    // ---- String scalar functions ----
    // Perf note (profiled): warm runtime is ~0.2s at sf0.1; the ~4s
    // first-run cost is whole-stage-codegen compile + JIT + the range-
    // exchange sampling pass — fixed overhead independent of data size
    // (levenshtein-only variant costs 0.6s cold including the scan), so
    // it amortizes to nothing at cluster scale.
    "q41_string_funcs" -> ((s, dir) => {
      t(s, dir, "customer")
        .select(
          col("c_custkey"),
          upper(col("c_name")).as("name_upper"),
          length(col("c_name")).cast("bigint").as("name_len"),
          substring(col("c_name"), 1, 8).as("name_prefix"),
          concat_ws("/", col("c_mktsegment"), col("c_name")).as("seg_name"),
          levenshtein(col("c_name"), lit("Customer#000000001")).cast("bigint")
            .as("edit_dist"))
        .orderBy("c_custkey")
    }),

    // ---- Date formatting + monthly rollup ----
    "q42_monthly_revenue" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(
          round(sum("o_totalprice"), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("month")
    }),

    // ---- Streaming exact dedup with watermark-bounded state ----
    "q40_stream_dedup" -> ((s, dir) => Streams.dedupedEventCounts(s, dir)),

    // ---- Binned range join (interval containment, no NLJ blow-up) ----
    "q36_range_join" -> ((s, dir) => {
      val points = t(s, dir, "part")
        .select(col("p_partkey"), col("p_retailprice"))
      val bands = t(s, dir, "nation")
        .select(col("n_nationkey").as("band_id"),
          (col("n_nationkey").cast("double") * 80.0).as("lo"),
          (col("n_nationkey").cast("double") * 80.0 + 160.0).as("hi"))
      RangeJoin.binned(points, bands, "p_retailprice", "lo", "hi", binWidth = 80L)
        .select(col("p_partkey"), col("band_id"),
          round(col("p_retailprice"), 2).as("price"))
        .orderBy("p_partkey", "band_id")
    }),

    // ---- Pivot (long → wide) ----
    "q37_pivot" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0, Seq("F", "O", "P"))
        .select(col("o_orderpriority"), col("F").as("n_f"),
          col("O").as("n_o"), col("P").as("n_p"))
        .orderBy("o_orderpriority")
    }),

    // ---- Unpivot (wide → long) ----
    "q38_unpivot" -> ((s, dir) => {
      DailyStoreMetrics.ordersDaily(
        t(s, dir, "orders")
          .filter(col("o_orderdate") >=
            lit(java.sql.Timestamp.valueOf("2001-01-01 00:00:00"))))
        .select(col("store_id"), col("dt"), col("revenue"),
          col("order_count").cast("double").as("order_count"))
        .unpivot(
          Array(col("store_id"), col("dt")),
          Array(col("revenue"), col("order_count")),
          "metric", "value")
        .orderBy("store_id", "dt", "metric")
    }),

    // ---- Wordcount: explode + count + top-k ----
    // ---- Token counting: whitespace vs BPE-ish subword pre-tokens ----
    "q47_bpe_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          TextFunctions.bpeTokenCount(col("text")).cast("bigint").as("n_bpe"),
          TextFunctions.tokenCount(col("text")).cast("bigint").as("n_ws"))
        .orderBy("doc_id")
    }),

    "q39_token_freq" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
        .filter(length(col("token")) > 2)
        .groupBy("token")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(20)
    }),

    // ---- Built-in session windows: the compose-existing-ops
    //      counterpart to the custom Sessionize operator (q32). An
    //      event at EXACTLY gap distance still merges (closure is
    //      strictly-greater, matching q32's custom operator; pinned by
    //      an AsOfSessionSpec boundary test) ----
    "q51_session_window" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("total_value"))
        .select(col("user_id"),
          col("w.start").as("session_start"),
          col("w.end").as("session_end"),
          col("n_events"), col("total_value"))
        .orderBy("user_id", "session_start")
    }),

    // ---- Semi/anti joins (EXISTS / NOT EXISTS) ----
    "q35_semi_anti" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val bigOrders = t(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
      val withBig = cust.join(bigOrders,
        col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit("has_big_order").as("tag"))
      val withoutBig = cust.join(bigOrders,
        col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), lit("no_big_order").as("tag"))
      withBig.unionByName(withoutBig).orderBy("tag", "c_custkey")
    }),

    // ---- Composite corpus cleaning: quality gate + lang-ID + dedup ----
    // r4 bench showed 2.76× vs r3 with no code change; probed in
    // isolation (SPARK_GRAFT_REPS=3, sf0.1): rep1 5.5s, steady state
    // 1.0s — the delta is first-run codegen-compile/JIT warm-up plus
    // run-order interference in the shared bench JVM (q88's L-BFGS
    // fit churns the code cache), not a plan regression. Plan
    // unchanged, PlanAudit clean.
    "q34_corpus_clean" -> ((s, dir) => {
      val toks = col("__toks")
      val prof = col("__prof")
      val w = Window.partitionBy(col("text")).orderBy(col("doc_id"))
      t(s, dir, "documents")
        .withColumn("__toks", TextFunctions.tokens(col("text")))
        .withColumn("__prof", TextFunctions.profileT(toks))
        .select(col("doc_id"), col("text"),
          size(toks).cast("bigint").as("n_tokens"),
          TextFunctions.qualityScoreP(size(toks), prof).as("quality"),
          TextFunctions.langIdP(prof).as("lang_pred"))
        .filter(col("quality") >= 0.5)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("doc_id", "n_tokens", "quality", "lang_pred")
        .orderBy("doc_id")
    }),

    // ---- Composed embedding-dedup pipeline: hyperplane-LSH pairs →
    //      connected components → canonical-per-cluster. Hash-seeded
    //      signatures ⇒ rows-only; transitive-collapse contract
    //      asserted in SimilaritySpec ----
    "q65_embedding_dedup" -> ((s, dir) =>
      Similarity.embeddingDedupPipeline(
        t(s, dir, "embeddings"), threshold = 0.95, dim = 64)),

    // ---- CDC snapshot diff: full-outer join on the key, change
    //      detection via a row fingerprint over the non-key columns.
    //      Snapshots derived deterministically from orders (window
    //      growth + keyed deletes + keyed price updates) ----
    // r4 bench showed 1.67× vs r3 with no code change; probed in
    // isolation (sf0.1): rep1 5.2s, steady state 0.7s — first-run
    // codegen/JIT overhead, same cause as q34 above. Not a manifest
    // regression: the TableLog stats lines are not on this path.
    "q62_snapshot_diff" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val before = orders
        .filter(col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
        .select(col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"),
          col("o_orderstatus").as("status"))
      val after = orders
        .filter(col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1997-07-01 00:00:00")))
        .filter(col("o_orderkey") % 13 =!= 0)
        .select(col("o_orderkey"),
          round(col("o_totalprice") *
            when(col("o_orderkey") % 7 === 0, 1.1).otherwise(1.0), 2).as("price"),
          col("o_orderstatus").as("status"))
      graft.lake.SnapshotDiff.diff(before, after, Seq("o_orderkey"))
    }),

    // ---- Deterministic stratified sampling: per-(lang, source) quota
    //      in md5(id) order — the reproducible data-mixing primitive ----
    "q60_stratified_sample" -> ((s, dir) =>
      graft.operators.Sampling.stratifiedN(
        t(s, dir, "documents"), Seq("lang", "source"), n = 5)
        .select(col("doc_id"), col("lang"), col("source"), col("sample_rank"))
        .orderBy("lang", "source", "sample_rank")),

    // ---- Sliding-window chunking: token windows of 32 / stride 24 —
    //      map-only sequence prep for context-window packing ----
    "q61_chunking" -> ((s, dir) =>
      graft.operators.Chunking.slidingWindows(
        t(s, dir, "documents"), window = 32, stride = 24)),

    // ---- Mix report: per-stratum totals vs post-quota counts ----
    "q66_mix_report" -> ((s, dir) =>
      graft.operators.Sampling.mixReport(
        t(s, dir, "documents"), Seq("lang", "source"), n = 5)),

    // ---- Per-term TF-IDF weights for matched query terms ----
    "q67_tfidf" -> ((s, dir) =>
      graft.operators.TextSearch.tfIdf(
        t(s, dir, "documents"), Seq("stream", "merge", "batch"))),

    // ---- Count-min-sketch term frequencies: mergeable fixed-size
    //      sketch instead of a vocabulary-wide shuffle. Estimates are
    //      sketch-impl-specific; the oracled contract is exact counts
    //      plus CMS's deterministic bound bits (never undercounts;
    //      overcount ≤ eps·N given the fixed seed) ----
    "q68_cms_counts" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val terms = Seq("stream", "merge", "batch", "zzz_absent")
      val cms = graft.operators.Sketches.cmsTokenCounts(docs, terms)
      val exact = docs
        .select(explode(graft.functions.TextFunctions.tokens(col("text")))
          .as("term"))
        .filter(col("term").isin(terms: _*))
        .groupBy("term").agg(count(lit(1)).as("exact_count"))
      cms.join(exact, Seq("term"), "left")
        .withColumn("exact_count", coalesce(col("exact_count"), lit(0L)))
        .select(col("term"), col("exact_count"), col("n_tokens"),
          (col("est_count") >= col("exact_count") &&
            col("est_count") <= col("exact_count") +
              ceil(col("n_tokens") * 0.001)).cast("int").as("cms_ok"))
        .orderBy("term")
    }),

    // ---- Concat-and-split sequence packing into 1024-token windows,
    //      sharded so no global window serializes the corpus ----
    "q64_seq_packing" -> ((s, dir) =>
      graft.operators.Chunking.packSequences(
        t(s, dir, "documents"), maxTokens = 1024, shards = 8)),

    // ---- BM25 keyword search over the corpus: pruned explode (only
    //      query-term hits reach the shuffle), broadcast df/corpus
    //      stats, per-doc score sum ----
    "q59_bm25_search" -> ((s, dir) =>
      graft.operators.TextSearch.bm25(
        t(s, dir, "documents"), Seq("stream", "merge", "batch"), topK = 20)),

    // ---- Duplicate-cluster resolution: connected components over a
    //      deterministic near-dup pair graph (shared 40-char prefix OR
    //      suffix — each an equi-join, their union transitive), solved
    //      with alternating large-star/small-star contraction. The
    //      DuckDB oracle computes the same partition via a recursive
    //      CTE, so the iterative distributed algorithm is hash-checked
    //      end-to-end. ----
    "q55_dup_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      DupClusters.clusterDocuments(docs, DupClusters.affixPairs(docs, n = 40))
    }),

    // ---- PII-style regex redaction: chained rewrite rules in one
    //      codegen'd map-only projection, with per-rule hit counts.
    //      The email/phone rules are the realistic surface (0 hits on
    //      the synthetic corpus); the term rule proves the rewrite ----
    "q70_pii_redact" -> ((s, dir) =>
      graft.operators.Scrub.redact(
        t(s, dir, "documents"),
        graft.operators.Scrub.piiRules :+
          graft.operators.Scrub.Rule("term", "\\b(customer|value)\\b", "<TERM>"))
        .select(col("doc_id"), col("n_email"), col("n_phone"),
          col("n_term"), col("n_redacted"), col("redacted"))
        .orderBy("doc_id")),

    // ---- Gopher-style repetition metrics: distinct-token ratio and
    //      top-bigram mass per document ----
    "q71_repetition" -> ((s, dir) =>
      graft.operators.TextQuality.repetitionMetrics(t(s, dir, "documents"))),

    // ---- Benchmark decontamination: corpus docs sharing any token
    //      4-gram with the held-out slice (doc_id % 41 == 0), via a
    //      broadcast of the benchmark's distinct grams ----
    "q72_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Decontaminate.overlap(
        docs.filter(col("doc_id") % 41 =!= 0),
        docs.filter(col("doc_id") % 41 === 0), n = 4)
    }),

    // ---- Streaming session windows, append mode: gap sessions that
    //      merge in-flight and emit once the watermark finalizes them
    //      (the streaming counterpart of batch q51) ----
    "q73_stream_sessions" -> ((s, dir) => Streams.userSessionsAppend(s, dir)),

    // ---- Integer-weight epoch upsampling: src0 ×3, src2 ×2, src1
    //      dropped, everything else ×1 — map-only row multiplication ----
    "q74_mixture_upsample" -> ((s, dir) =>
      graft.operators.Sampling.upsampleByWeight(
        t(s, dir, "documents"),
        Map("src0" -> 3, "src1" -> 0, "src2" -> 2))
        .select(col("doc_id"), col("source"), col("epoch"))
        .orderBy("doc_id", "epoch")),

    // ---- Deterministic hash split: 90/7/3 train/val/test by md5(id)
    //      hex prefix — stable under corpus growth, engine-portable ----
    "q75_hash_split" -> ((s, dir) =>
      graft.operators.Sampling.hashSplit(
        t(s, dir, "documents"),
        Seq(("train", 0.90), ("val", 0.07), ("test", 0.03)))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")),

    // ---- Composed curation pipeline: scrub → repetition filter →
    //      prefix dedup → reproducible split, one Catalyst plan ----
    "q77_curation_pipeline" -> ((s, dir) =>
      graft.operators.Curation.pipeline(
        t(s, dir, "documents"),
        Seq(graft.operators.Scrub.Rule(
          "term", "\\b(customer|value)\\b", "<TERM>")))
        .orderBy("doc_id")),

    // ---- Byte-entropy quality signal: one-pass native expression
    //      (map-only) vs the oracle's exploded char histogram ----
    "q78_entropy" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          expr("CAST(octet_length(text) AS BIGINT)").as("n_bytes"),
          round(graft.functions.ByteEntropy.byteEntropy(col("text")), 4)
            .as("entropy"))
        .orderBy("doc_id")),

    // ---- Incremental materialized aggregate: two source commits,
    //      each refresh aggregates ONLY the new data dir (dir-keyed
    //      partials; MaterializedAggSpec asserts the increment sets);
    //      the finalized view is oracled against a plain GROUP BY ----
    "q85_incremental_mv" -> ((s, dir) => {
      import graft.lake.{MaterializedAgg, TableLog}
      val root = graft.util.TempDirs.create("graft_q85")
      val src = root.resolve("src").toString
      val mv = root.resolve("mv").toString
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_quantity"), col("l_extendedprice"), col("l_shipdate"))
      val cut = java.sql.Timestamp.valueOf("1998-01-01 00:00:00")
      val mvSpec = MaterializedAgg.AggSpec(
        Seq("l_returnflag", "l_linestatus"),
        sumCols = Seq("l_quantity", "l_extendedprice"),
        maxCols = Seq("l_shipdate"))
      TableLog.commitAppend(s, src, li.filter(col("l_shipdate") < cut))
      MaterializedAgg.refresh(s, src, mv, mvSpec)
      TableLog.commitAppend(s, src, li.filter(col("l_shipdate") >= cut))
      MaterializedAgg.refresh(s, src, mv, mvSpec)
      MaterializedAgg.read(s, mv, mvSpec)
        .select(col("l_returnflag"), col("l_linestatus"), col("cnt"),
          round(col("sum_l_quantity"), 2).as("sum_qty"),
          round(col("sum_l_extendedprice"), 2).as("sum_price"),
          col("max_l_shipdate").cast("date").as("last_ship"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // ---- Approx-distinct materialized view: distinct users per day
    //      as mergeable HLL sketch partials keyed by source dir. Two
    //      commits SPLIT EACH DAY's users across dirs, so the read
    //      path must union sketches across dirs per group. The raw
    //      estimate is engine-specific; the oracled contract is the
    //      exact per-day counts plus the estimate landing within 5% ----
    "q94_mv_approx_users" -> ((s, dir) => {
      import graft.lake.{MaterializedAgg, TableLog}
      val root = graft.util.TempDirs.create("graft_q94")
      val src = root.resolve("src").toString
      val mv = root.resolve("mv").toString
      val ev = t(s, dir, "events")
        .select(to_date(col("ts")).as("dt"), col("user_id"))
      val mvSpec = MaterializedAgg.AggSpec(Seq("dt"),
        approxDistinctCols = Seq("user_id"))
      TableLog.commitAppend(s, src, ev.filter(col("user_id") % 2 === 0))
      MaterializedAgg.refresh(s, src, mv, mvSpec)
      TableLog.commitAppend(s, src, ev.filter(col("user_id") % 2 =!= 0))
      MaterializedAgg.refresh(s, src, mv, mvSpec)
      val exact = ev.groupBy("dt")
        .agg(countDistinct(col("user_id")).as("n_users"))
      MaterializedAgg.read(s, mv, mvSpec)
        .join(exact, Seq("dt"))
        .select(col("dt"), col("cnt").as("n_events"), col("n_users"),
          (abs(col("approx_distinct_user_id") - col("n_users")) <=
            greatest(round(col("n_users") * 0.05), lit(1.0)))
            .cast("int").as("approx_ok"))
        .orderBy("dt")
    }),

    // ---- Approx-percentile materialized view: per-day fixed-bin
    //      histogram partials (element-wise mergeable, unlike exact
    //      percentiles) split across two commits BY VALUE so each
    //      day's distribution spans both dirs — the percentile is only
    //      right if the merge sums bins. Oracled like q94: exact
    //      percentiles pinned, estimates as within-one-bin contract
    //      bits ----
    "q97_mv_percentiles" -> ((s, dir) => {
      import graft.lake.{MaterializedAgg, TableLog}
      val root = graft.util.TempDirs.create("graft_q97")
      val src = root.resolve("src").toString
      val mv = root.resolve("mv").toString
      val ev = t(s, dir, "events")
        .select(to_date(col("ts")).as("dt"), col("value"))
        // three consumers (two value-split commits + the exact ranked
        // pass) — persist, or each replays the scan + date projection
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val mvSpec = MaterializedAgg.AggSpec(Seq("dt"),
        histCols = Seq(MaterializedAgg.Hist("value", 0.0, 500.0, 100)))
      TableLog.commitAppend(s, src, ev.filter(col("value") < 50.0))
      MaterializedAgg.refresh(s, src, mv, mvSpec)
      TableLog.commitAppend(s, src, ev.filter(col("value") >= 50.0))
      MaterializedAgg.refresh(s, src, mv, mvSpec)
      val approx = MaterializedAgg.readPercentiles(s, mv, mvSpec,
        "value", Seq(0.5, 0.95))
      // exact side = the DISCRETE ⌈q·n⌉-th value (row_number over the
      // value order — identical semantics in both engines, unlike
      // cont-interpolation conventions). The estimate's bin CONTAINS
      // that value, so |midpoint − exact| ≤ width/2 is guaranteed.
      // BOTH quantiles resolve from ONE ranked pass (conditional agg
      // over the two ⌈q·n⌉ rows — rn is unique per dt, so each max()
      // sees exactly its quantile row); the old per-quantile frames
      // re-ran the full two-window pass per quantile.
      val wRank = org.apache.spark.sql.expressions.Window
        .partitionBy("dt").orderBy("value")
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy("dt")
      val ranked = ev
        .withColumn("rn", row_number().over(wRank))
        .withColumn("n", count(lit(1)).over(wAll))
      val exact = ranked
        .filter(col("rn") === ceil(col("n") * 0.5) ||
          col("rn") === ceil(col("n") * 0.95))
        .groupBy("dt")
        .agg(
          max(when(col("rn") === ceil(col("n") * 0.5),
            round(col("value"), 4))).as("p50_exact"),
          max(when(col("rn") === ceil(col("n") * 0.95),
            round(col("value"), 4))).as("p95_exact"),
          max(col("n")).as("__n_p50_exact"))
      approx
        .join(exact, Seq("dt"))
        .select(col("dt"), col("__n_p50_exact").as("n_events"),
          col("p50_exact"), col("p95_exact"),
          (abs(col("p50_value") - col("p50_exact")) <= 2.51)
            .cast("int").as("p50_ok"),
          (abs(col("p95_value") - col("p95_exact")) <= 2.51)
            .cast("int").as("p95_ok"))
        .orderBy("dt")
    }),

    // ---- Streaming embedding admission: the vector-side ingest loop —
    //      micro-batches assign against the PERSISTED codebook (no
    //      refit) and append postings idempotently; search then covers
    //      base + streamed vectors. Codebook sample-seeded ⇒ rows-only;
    //      replay/drift semantics in VectorIngestSpec ----
    "q98_stream_vector_ingest" -> ((s, dir) => {
      val root = graft.util.TempDirs.create("graft_q98")
      val ix = root.resolve("ix").toString
      val src = root.resolve("src").toString
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      graft.operators.VectorIndex.build(s, ix,
        emb.filter(col("vec_id") % 2 === 0))
      emb.filter(col("vec_id") % 2 =!= 0)
        .coalesce(1).write.parquet(src)
      graft.streaming.VectorIngest.admitEmbeddings(s, src, ix,
        root.resolve("ckpt").toString, glob = "*.parquet")
      graft.operators.VectorIndex.search(s, ix,
        emb.filter(col("vec_id") < 20), k = 5, nprobe = 2)
    }),

    // ---- Streaming corpus admission: the continuous ingest loop —
    //      documents stream through near-dup admission against the
    //      persisted band store into a versioned corpus table
    //      (batch-id-tagged commits; crash-replay semantics in
    //      CorpusIngestSpec). LSH-based ⇒ rows-only ----
    "q96_stream_corpus_ingest" -> ((s, dir) => {
      val root = graft.util.TempDirs.create("graft_q96")
      val corpus = root.resolve("corpus").toString
      graft.streaming.CorpusIngest.admitDocuments(s, dir, corpus,
        root.resolve("bands").toString, root.resolve("ckpt").toString)
      graft.lake.TableLog.read(s, corpus)
        .select("doc_id").orderBy("doc_id")
    }),

    // ---- Cross-resolution image dedup: perceptual aHash (codegen'd
    //      expression over raw P6 payloads) + 16-bit-chunk pigeonhole
    //      bucketing finds each asset's resized copy with Hamming 0 —
    //      no pairwise pixels, no payload shuffle. rows-only (hash
    //      values engine-specific); resize-invariance + re-encode
    //      parity in MultimodalSpec ----
    "q95_image_neardup" -> ((s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map(id => Multimodal.MediaRow(id, "image/x-portable-pixmap",
          16, 16, Multimodal.generateBlockPpm(16, 16, id)))
      val copies = Multimodal.resize(base, 24, 24)
        .map(r => r.copy(media_id = r.media_id + 1000000L))
      Multimodal.imageNearDups(base.unionByName(copies))
    }),

    // ---- Repeated-passage detection (Lee et al. exact-substring
    //      approximation): fixed-width token windows hashed to 64-bit,
    //      cross-doc repetition count, span coverage per doc ----
    "q91_repeated_spans" -> ((s, dir) =>
      graft.operators.RepeatedSpans.report(t(s, dir, "documents"))),

    // ---- Repeated-span EXCISION: the cleaned corpus the report
    //      diagnoses — keep-one-copy (first witness by (doc, start)),
    //      union of overlapping spans removed, token-level rebuild ----
    "q92_span_excision" -> ((s, dir) =>
      graft.operators.RepeatedSpans.excise(t(s, dir, "documents"))),

    // ---- Persisted incremental vector index: build the IVF codebook +
    //      inverted file as TableLog tables on half the embeddings,
    //      admit the other half against the PERSISTED codebook (no
    //      refit, map-only assignment), then search the union.
    //      Codebook is sample-seeded ⇒ rows-only; assignment-stability
    //      and recall-vs-full-refit in VectorIndexSpec ----
    "q93_vector_index" -> ((s, dir) => {
      val root = graft.util.TempDirs.create("graft_vidx").resolve("ix").toString
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      graft.operators.VectorIndex.build(s, root,
        emb.filter(col("vec_id") % 2 === 0))
      graft.operators.VectorIndex.addBatch(s, root,
        emb.filter(col("vec_id") % 2 === 1))
      graft.operators.VectorIndex.search(s, root,
        emb.filter(col("vec_id") < 20), k = 5, nprobe = 2)
    }),

    // ---- SemDeDup semantic dedup: k-means cells → within-cell exact
    //      cosine pairs → transitive closure → keep the
    //      farthest-from-centroid member per group. Codebook is
    //      sample-seeded ⇒ rows-only; exact/refinement differentials
    //      in SemDeDupSpec ----
    "q89_semantic_dedup" -> ((s, dir) =>
      Similarity.semDeDup(t(s, dir, "embeddings"), tau = 0.95)),

    // ---- Model-based quality filtering (CCNet pattern): weak labels
    //      from the heuristic score, logistic model over hashed
    //      bag-of-words, map-only corpus scoring with broadcast
    //      coefficients. Model outputs are optimizer-dependent ⇒
    //      rows-only; holdout agreement asserted in QualityModelSpec ----
    "q88_quality_model" -> ((s, dir) =>
      graft.operators.QualityModel.distill(t(s, dir, "documents"))
        .select(col("doc_id"), col("weak_label"), col("model_pred"),
          col("is_train"))
        .orderBy("doc_id")),

    // ---- Targeted DELETE as a log commit (GDPR erasure / bad-batch
    //      retraction): manifest stats carry provably-untouched dirs
    //      forward verbatim — only the matching fraction is rewritten
    //      (ChangeFeedSpec asserts the carried-dir file counts) ----
    "q86_delete" -> ((s, dir) => {
      import graft.lake.TableLog
      val tbl = graft.util.TempDirs.create("graft_q86")
        .resolve("t").toString
      TableLog.commitOverwrite(s, tbl,
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"), col("o_orderdate"))
          .repartitionByRange(8, col("o_orderdate")))
      TableLog.commitDelete(s, tbl, "o_orderdate",
        java.sql.Timestamp.valueOf("1996-01-01 00:00:00"),
        java.sql.Timestamp.valueOf("1996-12-31 23:59:59"))
      TableLog.read(s, tbl)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          round(sum("o_totalprice"), 2).as("total"))
        .orderBy("o_orderstatus")
    }),

    // ---- Row-level change feed between log versions: append feeds
    //      O(delta) (shared dirs never opened), delete feeds the
    //      erased rows; netting is one shuffle on a full-row
    //      fingerprint ----
    "q87_change_feed" -> ((s, dir) => {
      import graft.lake.{ChangeFeed, TableLog}
      val tbl = graft.util.TempDirs.create("graft_q87")
        .resolve("t").toString
      val cut1 = java.sql.Timestamp.valueOf("1997-01-01 00:00:00")
      val cut2 = java.sql.Timestamp.valueOf("1997-07-01 00:00:00")
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"),
          col("o_orderstatus").as("status"), col("o_orderdate"))
      TableLog.commitOverwrite(s, tbl,
        orders.filter(col("o_orderdate") < cut1).drop("o_orderdate"))
      TableLog.commitAppend(s, tbl,
        orders.filter(col("o_orderdate") >= cut1 && col("o_orderdate") < cut2)
          .drop("o_orderdate"))
      TableLog.commitDelete(s, tbl, "o_orderkey", 1000L, 3000L)
      ChangeFeed.changes(s, tbl, 1, 2).withColumn("step", lit(1L))
        .unionByName(
          ChangeFeed.changes(s, tbl, 2, 3).withColumn("step", lit(2L)))
        .select(col("step"), col("o_orderkey"), col("price"), col("status"),
          col("_change_type"), col("n"))
        .orderBy("step", "o_orderkey", "_change_type")
    }),

    // ---- Temperature mixture reweighting (XLM-R sampling rule):
    //      stratum share q ∝ p^alpha — flattens the mix toward the
    //      tail without head domination ----
    "q82_temperature_mix" -> ((s, dir) =>
      graft.operators.Sampling.temperatureMix(
        t(s, dir, "documents"), Seq("lang", "source"), alpha = 0.3)),

    // ---- Length-bucketed batching report: power-of-two buckets,
    //      per-bucket padding waste ----
    "q83_length_buckets" -> ((s, dir) =>
      graft.operators.Chunking.lengthBuckets(t(s, dir, "documents"))),

    // ---- Hybrid retrieval: BM25 ∪ embedding-cosine pools fused by
    //      reciprocal rank (RRF) ----
    "q84_hybrid_rrf" -> ((s, dir) =>
      graft.operators.TextSearch.hybridRrf(
        t(s, dir, "documents"), t(s, dir, "embeddings"),
        Seq("stream", "merge", "batch"), queryVecId = 0L)),

    // ---- Bigram-LM perplexity scoring (CCNet-style quality filter):
    //      model trained on the corpus itself, exact relational
    //      algebra — fully oracled ----
    "q81_lm_score" -> ((s, dir) =>
      graft.operators.TextLM.perplexityScores(t(s, dir, "documents"))),

    // ---- Incremental dedup: admit the corpus in two ingest batches
    //      against the accumulated band store — no corpus re-shingle.
    //      Hash-seeded LSH ⇒ rows-only; the global-equivalence and
    //      chain-through-rejected contracts are differential-tested in
    //      IncrementalDedupSpec ----
    "q80_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val b1 = docs.filter(col("doc_id") % 2 === 0)
      val b2 = docs.filter(col("doc_id") % 2 === 1)
      val adm1 = graft.operators.IncrementalDedup.admitBatch(b1, None)
      val adm2 = graft.operators.IncrementalDedup.admitBatch(b2, Some(adm1.bands))
      adm1.accepted.select(col("doc_id"), lit(1).as("ingest_batch"))
        .unionByName(adm2.accepted.select(col("doc_id"), lit(2).as("ingest_batch")))
        .orderBy("doc_id")
    }),

    // ---- Data-skipping scan: commit lineitem range-clustered on
    //      l_shipdate, then read one year through manifest file
    //      pruning (files whose [min,max] exclude the interval are
    //      never opened — TableStatsSpec asserts the file counts).
    //      The oracle sees only the final filter+agg semantics ----
    "q79_pruned_scan" -> ((s, dir) => {
      val tbl = graft.util.TempDirs.create("graft_q79")
        .resolve("li").toString
      graft.lake.TableLog.commitOverwrite(s, tbl,
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_shipdate"),
            col("l_extendedprice"), col("l_discount"))
          .repartitionByRange(8, col("l_shipdate")))
      graft.lake.TableLog.readWhere(s, tbl, "l_shipdate",
          java.sql.Timestamp.valueOf("1997-01-01 00:00:00"),
          java.sql.Timestamp.valueOf("1997-12-31 23:59:59"))
        .groupBy(date_trunc("month", col("l_shipdate")).cast("date").as("mon"))
        .agg(
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("mon")
    }),

    // ---- Bloom-indexed point lookup: keys interleaved round-robin
    //      across commits defeat min/max pruning (every file spans
    //      the whole key domain — the unclustered-id probe shape);
    //      the per-file bloom sidecar cuts each probe to ~one file.
    //      Results are exact (residual filter), so the lookup is
    //      fully oracled; pruning effectiveness is asserted in
    //      BloomIndexSpec. The 10-key collect is bounded by
    //      construction (LIMIT 10). ----
    "q99_point_lookup" -> ((s, dir) => {
      val tbl = graft.util.TempDirs.create("graft_q99")
        .resolve("ord").toString
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("price"))
      (0 until 4).foreach { c =>
        graft.lake.TableLog.commitAppend(s, tbl,
          orders.filter(col("o_orderkey") % 4 === c).repartition(2))
      }
      graft.lake.BloomIndex.ensure(s, tbl, Seq("o_orderkey"))
      val keys = orders.filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey")).orderBy("o_orderkey").limit(10)
        .collect().map(_.getLong(0)).toSeq
      keys.map(k =>
          graft.lake.TableLog.readWhereEq(s, tbl, "o_orderkey", k))
        .reduce(_ unionByName _)
        .orderBy("o_orderkey")
    }),

    // ---- Metadata-resolved aggregates: count/min/max and a range
    //      count answered from manifest file stats, opening only the
    //      files the stats can't vouch for (the double column's
    //      bounds — NaN contract — and the range's boundary files).
    //      Results are exact, so the whole query is oracled; the
    //      zero-files-opened claim is proven in StatsAggSpec by
    //      deleting the data and profiling again. ----
    "q100_stats_profile" -> ((s, dir) => {
      import graft.lake.{StatsAgg, TableLog}
      val tbl = graft.util.TempDirs.create("graft_q100")
        .resolve("li").toString
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"),
          col("l_extendedprice"), col("l_returnflag"))
      // three append commits, each range-clustered on shipdate: the
      // 1997 count resolves interior files from metadata and scans
      // only the files whose range straddles the interval's edges
      (0 until 3).foreach { c =>
        TableLog.commitAppend(s, tbl,
          li.filter(col("l_orderkey") % 3 === c)
            .repartitionByRange(4, col("l_shipdate")))
      }
      val prof = StatsAgg.profile(s, tbl,
        Seq("l_orderkey", "l_returnflag", "l_extendedprice"))
      val c97 = StatsAgg.countWhere(s, tbl, "l_shipdate",
        java.sql.Timestamp.valueOf("1997-01-01 00:00:00"),
        java.sql.Timestamp.valueOf("1997-12-31 23:59:59"))
      prof.withColumn("cnt_1997", lit(c97))
    }),

    // ---- Persisted table constraints: a CHECK added to the log gates
    //      every later commit (write-path data quality, vs the
    //      one-shot validated merge). The poisoned batch is rejected
    //      WHOLESALE and atomically; the repaired batch lands; the
    //      final state is deterministic, so the whole flow is oracled
    //      (rejected_batch carries the enforcement bit into the
    //      compare). Atomicity and metadata carriage are proven in
    //      ConstraintsSpec. ----
    "q101_constraints" -> ((s, dir) => {
      import graft.lake.TableLog
      val tbl = graft.util.TempDirs.create("graft_q101")
        .resolve("ord").toString
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("price"))
      TableLog.commitOverwrite(s, tbl,
        orders.filter(col("o_orderkey") % 3 === 0))
      TableLog.addConstraint(s, tbl, "price_nonneg", "price >= 0")
      TableLog.addNotNull(s, tbl, "o_orderstatus")
      // a batch with a few poisoned rows (negated price) must bounce
      val batch = orders.filter(col("o_orderkey") % 3 === 1)
        .withColumn("price",
          when(col("o_orderkey") % 10 === 1, -col("price"))
            .otherwise(col("price")))
      val rejected =
        try { TableLog.commitAppend(s, tbl, batch); false }
        catch { case _: TableLog.ConstraintViolationException => true }
      // repaired batch (poisoned rows dropped) commits cleanly
      TableLog.commitAppend(s, tbl, batch.filter(col("price") >= 0))
      TableLog.read(s, tbl)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), round(sum("price"), 2).as("total"))
        .withColumn("rejected_batch", lit(rejected))
        .orderBy("o_orderstatus")
    }),

    // ---- Containment dedup (Broder '97 §2): the asymmetric score
    //      that catches doc-inside-doc near-supersets Jaccard misses.
    //      Same bounded exact block as q19 (allowlisted NLJ); the
    //      scale path feeds LSH candidates instead ----
    "q103_containment" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
      val ids = docs.select(col("doc_id"))
      val cands = ids.select(col("doc_id").as("id_a"))
        .crossJoin(ids.select(col("doc_id").as("id_b")))
        .filter(col("id_a") < col("id_b"))
      Dedup.containmentVerify(docs, cands, k = 3, threshold = 0.4)
    }),

    // ---- Ordered funnel: per-step conversion counts where each step
    //      must happen STRICTLY AFTER the user's previous conversion;
    //      one filtered (user, min ts) agg per step, no global window ----
    "q104_funnel" -> ((s, dir) =>
      graft.operators.Funnel.funnel(t(s, dir, "events"),
        Seq("view", "click", "purchase"))),

    // ---- Freshness-decayed mix report: exponential half-life decay
    //      from a pinned asOf — the recency-weighted training-mix
    //      variant; one grouped agg, decay factor map-side ----
    "q105_decayed_mix" -> ((s, dir) =>
      graft.operators.Sampling.decayedMix(t(s, dir, "events"),
        Seq("event_type"), "ts", "value",
        asOf = "2024-02-01 00:00:00", halfLifeDays = 7.0)),

    // ---- Distribution drift (PSI) between two table versions: the
    //      monitoring score for "did this column's distribution move
    //      between snapshots" — bucket counts per side, full-outer on
    //      buckets, all post-agg work over the tiny bucket table ----
    "q106_drift" -> ((s, dir) => {
      import graft.lake.TableLog
      val tbl = graft.util.TempDirs.create("graft_q106")
        .resolve("ord").toString
      val orders = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_totalprice"), year(col("o_orderdate")).as("yr"))
      TableLog.commitOverwrite(s, tbl, orders.filter(col("yr") <= 1997))
      TableLog.commitOverwrite(s, tbl, orders.filter(col("yr") >= 1996))
      graft.operators.Drift.psiReport(
        TableLog.read(s, tbl, Some(1)), TableLog.read(s, tbl, Some(2)),
        "o_totalprice", bucketWidth = 100000.0)
    }),

    // ---- First-order Markov transitions over user event sequences:
    //      one window shuffle on the user key; the matrix itself is
    //      |types|² rows ----
    "q107_transitions" -> ((s, dir) =>
      Sessionize.transitionMatrix(t(s, dir, "events"))),

    // ---- Vocabulary build: token/doc frequencies, deterministic
    //      (tf desc, token asc) rank, cumulative corpus share — the
    //      tokenizer-budget table. Window runs AFTER limit(topK) ----
    "q108_vocab" -> ((s, dir) =>
      graft.operators.Vocab.build(t(s, dir, "documents"),
        minCount = 2L, topK = 500)),

    // ---- OOV coverage: fraction of each language's tokens outside
    //      the built vocab — broadcast membership probe, one agg ----
    "q109_oov" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Vocab.oovReport(docs,
        graft.operators.Vocab.build(docs, minCount = 2L, topK = 500))
    }),

    // ---- Per-language quality-quantile curation: keep the best half
    //      per lang by the oracled quality score; percent_rank with
    //      doc_id tie-break is deterministic. The approx (sketch
    //      threshold) variant is the skew-free path (SamplingSpec) ----
    "q111_quantile_keep" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      graft.operators.Sampling.quantileKeep(scored, "quality", Seq("lang"),
        keepFraction = 0.5, tieBreak = Seq("doc_id"))
        .select("lang", "doc_id", "quality")
        .orderBy("lang", "doc_id")
    }),

    // ---- Rolling z-score anomalies over per-type daily value sums:
    //      trailing-7 window mean/σ, |z| > 2 flags ----
    "q125_anomaly" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), col("ts").cast("date").as("d"))
        .agg(round(sum("value"), 2).as("daily_value"))
      graft.operators.Anomaly.rollingZScore(daily, "event_type", "d",
        "daily_value", trailingRows = 7, zThreshold = 2.0)
    }),

    // ---- Column profiling report: every column's stats in ONE scan ----
    "q126_profile" -> ((s, dir) =>
      graft.quality.Profiler.profile(t(s, dir, "orders"),
        Seq("o_totalprice", "o_orderkey", "o_custkey"))),

    // ---- Date-spine gap fill with LOCF: sparse per-user daily sums
    //      densified over the full month; pre-first-observation days
    //      stay NULL ----
    "q124_gapfill_locf" -> ((s, dir) => {
      val sparse = t(s, dir, "events")
        .filter(col("user_id") <= 5)
        .groupBy(col("user_id"), col("ts").cast("date").as("d"))
        .agg(round(sum("value"), 2).as("daily_value"))
      graft.operators.GapFill.locf(sparse, "user_id", "d", "daily_value",
        start = "2024-01-01", end = "2024-01-31")
    }),

    // ---- Matryoshka truncation fidelity: cosine at full vs prefix
    //      dims over consecutive-id pairs — decides whether a 2x/4x
    //      smaller vector tier is safe to index ----
    "q123_dim_truncation" -> ((s, dir) =>
      Similarity.truncationFidelity(t(s, dir, "embeddings"),
        truncDims = Seq(32, 16), maxId = 200L)),

    // ---- Weekly cohort retention triangle (user-lifecycle report) ----
    "q121_retention" -> ((s, dir) =>
      graft.operators.Retention.cohortRetention(t(s, dir, "events"))),

    // ---- RFM segmentation: recency/frequency/monetary quartile grid ----
    "q122_rfm" -> ((s, dir) =>
      graft.operators.Retention.rfmSegments(t(s, dir, "events"))),

    // ---- Hopping (sliding) event-time windows in batch: Spark's
    //      native window(ts, dur, slide) — each event lands in
    //      dur/slide windows; oracled as the union of slide-offset
    //      tumbling grids ----
    "q120_hopping_window" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
        .select(col("w.start").as("win_start"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy("win_start", "event_type")),

    // ---- dbt generic-test quartet completion: unique + accepted_values
    //      folded into the same ONE-pass suite agg as the GE checks ----
    "q118_unique_accepted" -> ((s, dir) =>
      Expectations.evaluate(
        t(s, dir, "events"),
        Suite("events",
          Some(ColumnsOrdered(Seq("event_id", "ts", "user_id",
            "event_type", "value", "props"))),
          Seq(
            Expectations.Unique("event_id"),
            Expectations.Unique("user_id"),
            // 'error' deliberately missing → counts those rows
            Expectations.AcceptedValues("event_type",
              Seq("click", "view", "purchase", "signup")))))),

    // ---- dbt relationships test: referential integrity via left-anti
    //      (broadcast when the parent key set is dimension-sized) ----
    "q119_relationships" -> ((s, dir) => {
      def rel(name: String, child: DataFrame, childCol: String,
          parent: DataFrame, parentCol: String) =
        Expectations.relationshipOrphans(child, childCol, parent, parentCol)
          .select(lit(name).as("relationship"), col("orphans"))
      rel("lineitem_orders", t(s, dir, "lineitem"), "l_orderkey",
          t(s, dir, "orders"), "o_orderkey")
        .unionByName(rel("orders_customer", t(s, dir, "orders"), "o_custkey",
          t(s, dir, "customer"), "c_custkey"))
        .unionByName(rel("orders_customer_even",
          t(s, dir, "orders"), "o_custkey",
          t(s, dir, "customer").filter(col("c_custkey") % 2 === 0), "c_custkey"))
        .orderBy("relationship")
    }),

    // ---- Curriculum sharding: equal difficulty tiers by quality
    //      score, easy-first (ntile with doc_id tie-break) ----
    "q115_curriculum" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      graft.operators.Sampling.curriculumShards(scored, "quality",
        nShards = 4, tieBreak = Seq("doc_id"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          round(avg("quality"), 6).as("avg_quality"))
        .orderBy("shard")
    }),

    // ---- Cross-source leakage matrix: distinct shared shingles per
    //      source pair / the smaller side's shingle vocabulary ----
    "q116_source_overlap" -> ((s, dir) =>
      graft.operators.Decontaminate.crossSourceOverlap(
        t(s, dir, "documents"), k = 3)),

    // ---- Zipf fitness: least-squares slope of log(tf) ~ log(rank)
    //      over the top-500 vocab — corpus-health one-liner ----
    "q117_zipf" -> ((s, dir) =>
      graft.operators.Vocab.zipfFit(t(s, dir, "documents"),
        minCount = 2L, topK = 500)),

    // ---- Weighted sampling without replacement (Efraimidis-Spirakis
    //      exponential sort), md5-derived uniforms → fully oracled;
    //      high-value orders are proportionally likelier ----
    "q113_weighted_sample" -> ((s, dir) =>
      graft.operators.Sampling.weightedSample(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        "o_totalprice", k = 50, idCol = "o_orderkey")
        .select("o_orderkey")
        .orderBy("o_orderkey")),

    // ---- Streaming funnel (transformWithState): per-user (step, ts)
    //      state advanced in event-time order; single-batch run equals
    //      the batch funnel, so the SAME SQL oracles it as q104 ----
    "q114_stream_funnel" -> ((s, dir) =>
      graft.streaming.StreamingFunnel.funnelCounts(s, dir,
        Seq("view", "click", "purchase"))),

    // ---- Trigram-indexed substring search: LIKE '%needle%' with
    //      per-file trigram-bloom skipping — the pruning tier where
    //      min/max and equality blooms are both useless. Results are
    //      exact (residual contains), so fully oracled; pruning
    //      effectiveness is asserted in TextIndexSpec ----
    "q112_substring_search" -> ((s, dir) => {
      import graft.lake.{TableLog, TextIndex}
      val tbl = graft.util.TempDirs.create("graft_q112")
        .resolve("docs").toString
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
      (0 until 4).foreach { c =>
        TableLog.commitAppend(s, tbl,
          docs.filter(col("doc_id") % 4 === c).repartition(2))
      }
      TextIndex.ensure(s, tbl, Seq("text"))
      TableLog.readWhereContains(s, tbl, "text", "sort table window")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    // ---- Streaming drift monitor: per-micro-batch PSI report against
    //      a pinned baseline snapshot, batch-id-tagged commits (replay-
    //      safe). AvailableNow with no maxFilesPerTrigger processes the
    //      whole feed as ONE batch (batch_id 0), so the report is
    //      deterministic and fully oracled — the same single-batch
    //      equivalence trick that oracles q114; multi-batch replay and
    //      crash idempotence stay pinned in DriftMonitorSpec ----
    "q110_stream_drift" -> ((s, dir) => {
      import graft.lake.TableLog
      val root = graft.util.TempDirs.create("graft_q110")
      val baseline = root.resolve("baseline").toString
      TableLog.commitOverwrite(s, baseline,
        t(s, dir, "orders").select(col("o_totalprice"))
          .filter(year(col("o_orderdate")) <= 1996))
      graft.streaming.DriftMonitor.monitor(s, dir, "orders.parquet",
        baseline, 1, root.resolve("report").toString,
        "o_totalprice", bucketWidth = 100000.0,
        root.resolve("ckpt").toString)
      TableLog.read(s, root.resolve("report").toString)
        .orderBy("batch_id", "bucket")
    }),

    // ---- Catalog/docs publication: a table-of-tables resolved from
    //      TableLog manifests (the dbt-docs analog of the reference's
    //      publish stage, airflow/dags/lakehouse_pipelines.py:93-95).
    //      Version/action/row-count all come from MANIFESTS — row
    //      counts from file stats without opening data; determinism
    //      makes the whole catalog oracle-checkable. schema_json is
    //      dropped from the projection only because JSON key order
    //      isn't SQL-expressible; CatalogSpec pins it. ----
    "q102_catalog" -> ((s, dir) => {
      import graft.lake.{Catalog, TableLog}
      val base = graft.util.TempDirs.create("graft_q102")
      def p(n: String) = base.resolve(n).toString
      TableLog.commitOverwrite(s, p("cust"),
        t(s, dir, "customer").select(col("c_custkey"), col("c_name")))
      TableLog.commitOverwrite(s, p("li97"),
        t(s, dir, "lineitem")
          .filter(year(col("l_shipdate")) === 1997)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("l_extendedprice")))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderdate"))
      TableLog.commitOverwrite(s, p("ord"), ord)
      TableLog.commitAppend(s, p("ord"),
        ord.filter(col("o_orderkey") % 2 === 0))
      // freshness pinned at 1998-12-31T00:00Z (epoch ms 915062400000) —
      // the same pinned-asOf recipe that oracles q33; hours resolve
      // from the manifest's max(o_orderdate) file bound, zero data
      // reads, and the raw IEEE division reproduces bit-for-bit in the
      // oracle. cust/li97 declare no loaded-at column → NULL, exactly
      // dbt's "freshness only where a source declares loaded_at_field".
      Catalog.build(s,
        Map("cust" -> p("cust"), "li97" -> p("li97"), "ord" -> p("ord")),
        Some(Catalog.FreshnessSpec(915062400000L,
          Map("ord" -> "o_orderdate"))))
        .select(col("table_name"), col("version"), col("last_action"),
          col("n_columns"), col("row_count"), col("freshness_hours"))
        .orderBy("table_name")
    }),

    // ---- Lineage: which table@version produced each commit — the
    //      OpenLineage analog of the reference's lineage backend
    //      (terraform/main.tf:104-107 wires an OpenLineage HTTP
    //      transport under the `lakehouse` namespace; every DAG/dbt
    //      run emits input→output dataset events). Here the edges
    //      live IN the commit manifests (TableLog `#i` lines) and
    //      publish as a `_lineage` table: a mart merge records the
    //      dim@version and fact@version it consumed, an MV refresh
    //      records source@version, an ingest append records its
    //      unversioned external feed — so "which feed poisoned this
    //      mart" resolves from the log alone. Deterministic edge set
    //      ⇒ fully oracled. ----
    "q127_lineage" -> ((s, dir) => {
      import graft.lake.{Catalog, MaterializedAgg, TableLog}
      val base = graft.util.TempDirs.create("graft_q127")
      def p(n: String) = base.resolve(n).toString
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      TableLog.commitOverwrite(s, p("cust"), cust)
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      TableLog.commitOverwrite(s, p("ord"), ord)
      def mart(o: DataFrame) = o
        .join(cust, o("o_custkey") === cust("c_custkey"))
        .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
      // mart v1 consumed cust@1 + ord@1
      TableLog.commitMerge(s, p("mart"), mart(ord), Seq("o_orderkey"),
        Seq(TableLog.inputRef(s, p("cust"), "cust"),
          TableLog.inputRef(s, p("ord"), "ord")))
      // ord v2: an ingest append from an unversioned external feed
      TableLog.commitAppend(s, p("ord"),
        ord.filter(col("o_orderkey") % 2 === 0),
        Seq(TableLog.InputRef("raw/orders_feed", None)))
      // mart v2 re-merged on the new ord snapshot: cust@1 + ord@2
      TableLog.commitMerge(s, p("mart"),
        mart(TableLog.read(s, p("ord"))), Seq("o_orderkey"),
        Seq(TableLog.inputRef(s, p("cust"), "cust"),
          TableLog.inputRef(s, p("ord"), "ord")))
      // MV refresh records source@version on its own commit
      MaterializedAgg.refresh(s, p("ord"), p("mv"),
        MaterializedAgg.AggSpec(Seq("o_custkey"), sumCols = Seq("o_totalprice")))
      val tables = Map("cust" -> p("cust"), "ord" -> p("ord"),
        "mart" -> p("mart"), "mv" -> p("mv"))
      Catalog.publish(s, tables, p("_catalog"),
        lineagePath = Some(p("_lineage")))
      TableLog.read(s, p("_lineage"))
        .orderBy("output_table", "output_version", "input_table")
    }),

    // ---- RFM at corpus scale: quartile THRESHOLDS from one
    //      percentile_approx sketch agg + map-side bucketing — the
    //      shape that replaces q122's three global single-task ntile
    //      sorts at 100 TB. Fully oracled: at sf0.01 the user count
    //      (150) is far below the sketch accuracy, so the sketch is
    //      exact and the threshold at p=k/4 is the value at ascending
    //      rank ceil(k·n/4), expressible in SQL via row_number ----
    "q128_rfm_approx" -> ((s, dir) =>
      graft.operators.Retention.rfmSegmentsApprox(t(s, dir, "events"))),

    // ---- Curriculum sharding at corpus scale: sketch-threshold bins
    //      instead of q115's global NTILE sort; same oracle trick ----
    "q129_curriculum_approx" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      graft.operators.Sampling.curriculumShardsApprox(scored, "quality",
        nShards = 4)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          round(avg("quality"), 6).as("avg_quality"))
        .orderBy("shard")
    }),

    // ---- Run-level lineage: commits made inside withRunId carry the
    //      run id in their manifests (#r line), so "everything pipeline
    //      run X wrote" resolves from metadata alone — the OpenLineage
    //      run-event analog on top of q127's dataset edges. The commit
    //      timestamp is wall-clock, so the oracled projection is the
    //      deterministic (table, version, action) set ----
    "q131_run_commits" -> ((s, dir) => {
      import graft.lake.{Catalog, TableLog}
      val base = graft.util.TempDirs.create("graft_q131")
      def p(n: String) = base.resolve(n).toString
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      TableLog.withRunId("run_a") {
        TableLog.commitOverwrite(s, p("cust"), cust)
        TableLog.commitAppend(s, p("ord"), ord)
      }
      TableLog.withRunId("run_b") {
        TableLog.commitAppend(s, p("ord"),
          ord.filter(col("o_orderkey") % 2 === 0))
      }
      // outside any scope: must not attribute to either run
      TableLog.commitOverwrite(s, p("other"), cust)
      val tables = Map(
        "cust" -> p("cust"), "ord" -> p("ord"), "other" -> p("other"))
      Catalog.commitsOfRun(s, tables, "run_a")
        .select("table_name", "version", "action")
        .orderBy("table_name", "version")
    }),

    // ---- Impact analysis (reverse lineage): "this external feed
    //      shipped bad data — which commits are poisoned". The
    //      downstream fixpoint follows the same q127 fixture's edges
    //      forward: the feed fed ord@2, ord@2 fed mart@2 and the MV
    //      refresh. Deterministic edge set ⇒ fully oracled ----
    "q132_impact" -> ((s, dir) => {
      import s.implicits._
      import graft.lake.{Catalog, MaterializedAgg, TableLog}
      val base = graft.util.TempDirs.create("graft_q132")
      def p(n: String) = base.resolve(n).toString
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      TableLog.commitOverwrite(s, p("cust"), cust)
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      TableLog.commitOverwrite(s, p("ord"), ord)
      def mart(o: DataFrame) = o
        .join(cust, o("o_custkey") === cust("c_custkey"))
        .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
      TableLog.commitMerge(s, p("mart"), mart(ord), Seq("o_orderkey"),
        Seq(TableLog.inputRef(s, p("cust"), "cust"),
          TableLog.inputRef(s, p("ord"), "ord")))
      TableLog.commitAppend(s, p("ord"),
        ord.filter(col("o_orderkey") % 2 === 0),
        Seq(TableLog.InputRef("raw/orders_feed", None)))
      TableLog.commitMerge(s, p("mart"),
        mart(TableLog.read(s, p("ord"))), Seq("o_orderkey"),
        Seq(TableLog.inputRef(s, p("cust"), "cust"),
          TableLog.inputRef(s, p("ord"), "ord")))
      MaterializedAgg.refresh(s, p("ord"), p("mv"),
        MaterializedAgg.AggSpec(Seq("o_custkey"), sumCols = Seq("o_totalprice")))
      // ord v3: a CLEAN append — the feed's rows persist in the v3
      // snapshot, so forward carry must keep v3 in the closure
      TableLog.commitAppend(s, p("ord"),
        ord.filter(col("o_orderkey") % 3 === 0),
        Seq(TableLog.InputRef("raw/orders_clean", None)))
      val tables = Map("cust" -> p("cust"), "ord" -> p("ord"),
        "mart" -> p("mart"), "mv" -> p("mv"))
      Catalog.downstream(s, tables, "raw/orders_feed")
        .toDF("tainted_table", "version")
        .orderBy("tainted_table", "version")
    }),

    // ---- Small-file compaction (the lake-maintenance half of
    //      OPTIMIZE): a fragmented partitioned table (16-way shuffled
    //      writes → up to 16 near-empty files per event_type
    //      partition) is rewritten toward the byte target. The oracle
    //      pins CONTENT preservation (per-partition counts/sums equal
    //      the raw table); the file accounting — fewer files after,
    //      every partition at its computed target — is asserted
    //      in-query because DuckDB can't see the directory layout ----
    "q133_compaction" -> ((s, dir) => {
      val out = graft.util.TempDirs.create("graft_q133")
        .resolve("tbl").toString
      t(s, dir, "events")
        .select(col("event_type"), col("user_id"), col("value"))
        .repartition(16)
        .write.partitionBy("event_type").parquet(out)
      val report = graft.lake.Compaction.compact(s, out,
        Seq("event_type"), targetFileBytes = 256L * 1024 * 1024)
      // report.partitions IS the before-plan (compact() snapshots the
      // listing before rewriting) — no second directory walk needed
      val before = report.partitions
      require(before.map(_.files).sum > before.size,
        "fixture must start fragmented")
      require(report.rewritten == before.size &&
        report.filesAfter == before.size,
        s"every partition should land at its 1-file target: $report")
      s.read.parquet(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("sum_value"))
        .orderBy("event_type")
    }),

    // ---- Quality-aware canonicalization: per duplicate cluster keep
    //      the LONGEST document (highest n_chars, ties to lowest id) —
    //      the keep-best policy production dedup ships, as a
    //      declarative max_by agg (partial-agg combine, no per-cluster
    //      sort task) over q55's exact cluster partition ----
    "q134_canonical_keep" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      DupClusters.canonicalize(docs,
        DupClusters.clusterDocuments(docs, DupClusters.affixPairs(docs, n = 40)),
        "n_chars")
    }),

    // ---- Leakage-proof split: train/val/test hashed on the duplicate
    //      CLUSTER id, so near-dups can never straddle a boundary —
    //      the contamination guard plain per-doc hashing (q75) lacks ----
    "q135_cluster_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Sampling.clusterSplit(docs,
        DupClusters.clusterDocuments(docs, DupClusters.affixPairs(docs, n = 40)),
        Seq(("train", 0.90), ("val", 0.07), ("test", 0.03)))
    }),

    // ---- Token-budget fill: per source take docs in md5 order until
    //      the char budget (src0 overridden lower) — budget-denominated
    //      mixing, the way training mixes are actually specified ----
    "q136_budget_fill" -> ((s, dir) =>
      graft.operators.Sampling.budgetFill(
        t(s, dir, "documents"), Seq("source"), "n_chars",
        budget = 4000L, overrides = Map("src0" -> 1500L))
        .select(col("doc_id"), col("source"), col("n_chars"), col("cum_cost"))
        .orderBy("doc_id")),

    // ---- Calibration report: does the heuristic quality score MEAN
    //      what it says? Equal-width bins vs a length label — one
    //      grouped agg, ≤ nBins output rows whatever the corpus ----
    "q137_calibration" -> ((s, dir) =>
      graft.operators.QualityModel.calibration(
        t(s, dir, "documents").select(
          TextFunctions.qualityScore(col("text")).as("quality"),
          (col("n_chars") >= 300).as("label")),
        "quality", "label", nBins = 10)),

    // ---- Split-leakage audit: near-dup pairs straddling a split
    //      boundary under per-doc hashing vs cluster hashing — the
    //      quantified case for q135's cluster-keyed assignment ----
    "q138_split_leakage" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // three consumers (cluster building + both straddle audits):
      // persist, or the affix self-join replays per consumer
      val pairs = DupClusters.affixPairs(docs, n = 40)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val splits = Seq(("train", 0.90), ("val", 0.07), ("test", 0.03))
      val byDoc = graft.operators.Sampling.hashSplit(docs, splits)
        .select(col("doc_id"), col("split"))
      val byCluster = graft.operators.Sampling.clusterSplit(docs,
        DupClusters.clusterDocuments(docs, pairs), splits)
      graft.operators.Sampling.splitStraddleAudit(pairs, byDoc)
        .withColumn("method", lit("doc_hash"))
        .unionByName(
          graft.operators.Sampling.splitStraddleAudit(pairs, byCluster)
            .withColumn("method", lit("cluster_hash")))
        .select(col("method"), col("n_pairs"), col("n_straddling"),
          col("straddle_rate"))
        .orderBy("method")
    }),

    // ---- Training-shard export manifest: hash-bucketed fixed shards
    //      (map-only assignment — no global sort serializing the
    //      corpus through one task) + the per-shard manifest a
    //      training job reads first; first/last read-order keys
    //      attest a re-export is identical ----
    "q139_shard_export" -> ((s, dir) =>
      graft.operators.Curation.shardManifest(
        t(s, dir, "documents"), nShards = 8)),

    // ---- BPE tokenizer TRAINING on the corpus (Sennrich '16): merge
    //      rounds over the Zipf-bounded distinct-word table, never the
    //      corpus. Deterministic, so the oracle replays the whole
    //      loop (shared recursive CTE with q163) and checks the merge
    //      table rank-for-rank; BpeSpec additionally pins it against
    //      an independent in-memory reference implementation ----
    "q140_bpe_train" -> ((s, dir) =>
      graft.operators.BpeTrainer.mergeTable(
        t(s, dir, "documents"), s, numMerges = 30)),

    // ---- Embedding-space drift between two corpus versions (fixture:
    //      even vs odd vec_ids): per-label centroid cosine + L2 —
    //      the vector-tier monitoring signal scalar PSI can't see.
    //      Shuffle is |labels|·dims rows, never corpus-sized ----
    "q141_embedding_drift" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.operators.Drift.embeddingDrift(
        e.filter(col("vec_id") % 2 === 0),
        e.filter(col("vec_id") % 2 === 1))
    }),

    // ---- Streaming embedding-drift monitor (vector-tier q110):
    //      bounded AvailableNow run over the embeddings file against a
    //      pinned even-id baseline snapshot; one batch → report ==
    //      batch-mode embeddingDrift(baseline, whole file), so the
    //      streaming machinery is oracled end-to-end ----
    "q142_stream_embedding_drift" -> ((s, dir) => {
      import graft.lake.TableLog
      val root = graft.util.TempDirs.create("graft_q142")
      val baseline = root.resolve("baseline").toString
      TableLog.commitOverwrite(s, baseline,
        t(s, dir, "embeddings").filter(col("vec_id") % 2 === 0))
      graft.streaming.DriftMonitor.monitorEmbeddings(s, dir,
        "embeddings.parquet", baseline, 1,
        root.resolve("report").toString, root.resolve("ckpt").toString)
      TableLog.read(s, root.resolve("report").toString)
        .orderBy("batch_id", "label")
    }),

    // ---- Cross-document segment dedup (CCNet-style paragraph
    //      dedup): 5-token segments, global first-occurrence keep,
    //      per-doc survival report. Two shuffles, both on the
    //      segment-text hash ----
    "q143_segment_dedup" -> ((s, dir) =>
      graft.operators.SegmentDedup.report(t(s, dir, "documents"), segTokens = 5)),

    // ---- Blocked fuzzy entity resolution over the part-name
    //      dictionary: last-token blocking + length band +
    //      Levenshtein <= 2; quadratic term bounded by block size ----
    "q144_fuzzy_er" -> ((s, dir) =>
      graft.operators.EntityResolution.fuzzyNamePairs(
        t(s, dir, "part"), "p_name", maxDist = 2)),

    // ---- Join-key skew profile: per-key hash agg → constant-size
    //      stats + deterministic hottest key + recommended salt
    //      fan-out for Skew.saltedJoin ----
    "q145_skew_advisor" -> ((s, dir) =>
      graft.operators.SkewAdvisor.report(Seq(
        (t(s, dir, "events"), "user_id", "events.user_id"),
        (t(s, dir, "lineitem"), "l_partkey", "lineitem.l_partkey"),
        (t(s, dir, "orders"), "o_custkey", "orders.o_custkey")))),

    // ---- Seeded deterministic training shuffle: closed-form Knuth
    //      hash order, shard-first so no global sort exists anywhere
    //      in the plan ----
    "q146_train_shuffle" -> ((s, dir) =>
      graft.operators.TrainShuffle.shuffleShards(
          t(s, dir, "documents"), nShards = 8, seed = 7L)
        // presentation order on the BOUNDED manifest — the operator
        // itself never global-sorts
        .orderBy("shard", "pos")),

    // ---- Explicit Bloom runtime filter: semi-join reduction of the
    //      fact scan by the filtered dims' key set; Bloom FPs are
    //      removed by the exact join, so the oracle is the plain join ----
    "q147_bloom_join" -> ((s, dir) => {
      val hi = t(s, dir, "orders")
        .filter(col("o_totalprice") > 480000.0)
        .select(col("o_orderkey"), col("o_orderpriority"))
      graft.operators.RuntimeFilter
        .bloomReducedJoin(t(s, dir, "lineitem"), "l_orderkey",
          hi, "o_orderkey", fpp = 0.01)
        .groupBy("o_orderpriority")
        .agg(
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n_items"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    // ---- Incremental segment dedup: batch 2 admitted against the
    //      distinct-segment-hash store built from batch 1 — the
    //      continuous-crawl shape; store rows are 8-byte hashes, the
    //      published batch-1 text is never re-read ----
    "q148_incremental_segdedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val adm1 = graft.operators.SegmentDedup.admitBatch(
        docs.filter(col("doc_id") % 2 === 0), None)
      graft.operators.SegmentDedup.admitBatch(
        docs.filter(col("doc_id") % 2 === 1), Some(adm1.segments)).report
    }),

    // ---- Streaming hot-key monitor: Misra–Gries per tracker shard
    //      under transformWithState — bounded state whatever the key
    //      cardinality; k sized above per-shard distinct users makes
    //      the bounded run exact, so the batch GROUP BY oracles it ----
    "q149_stream_hotkeys" -> ((s, dir) =>
      graft.streaming.HotKeys.topEventUsers(s, dir).toDF()),

    // ---- Link-graph PageRank over the clickstream navigation graph:
    //      Pregel-as-joins — edges partitioned on src once, each of
    //      the 5 iterations shuffles only the |nodes|-row rank table;
    //      dangling mass rides a 1-row broadcast stat factor ----
    "q150_pagerank" -> ((s, dir) =>
      graft.operators.GraphRank.navigationRank(s, t(s, dir, "events"))),

    // ---- Rolling 7-day distinct users: dedupe (day,user) once, fan
    //      the DEDUPED table out W×, count-distinct per window end —
    //      two shuffles, never W rescans of the events table ----
    "q151_rolling_dau" -> ((s, dir) =>
      graft.operators.RollingDistinct.activeKeys(
        t(s, dir, "events"), windowDays = 7)),

    // ---- Streaming decontamination gate: benchmark grams broadcast
    //      once, each micro-batch pays one gram pass over itself;
    //      stateless per batch so the batch SQL oracles the stream ----
    "q152_stream_decontaminate" -> ((s, dir) =>
      graft.streaming.StreamingDecontaminate.gateDocuments(s, dir)),

    // ---- DSIR importance resampling: hashed-token log-likelihood
    //      ratio toward the English slice; distributions are
    //      bucket-sized broadcasts, selection threshold is a bounded
    //      top-k — no global sort, no corpus×corpus comparison ----
    "q153_dsir_select" -> ((s, dir) =>
      graft.operators.ImportanceResampling.englishTopK(
        t(s, dir, "documents"), k = 100)),

    // ---- Path mining: top 3-step event-type paths — one shuffle on
    //      the user key, agg over |types|^3 path strings at worst ----
    "q154_top_paths" -> ((s, dir) =>
      graft.operators.Sessionize.topPaths(
        t(s, dir, "events"), steps = 3, topK = 20)),

    // ---- Streaming mix monitor: per-micro-batch JS report of the
    //      event-type distribution against a pinned day<=10 baseline
    //      snapshot; AvailableNow single-batch ⇒ fully oracled (same
    //      trick as q110); replay idempotence in DriftMonitorSpec ----
    "q169_stream_mix_drift" -> ((s, dir) => {
      import graft.lake.TableLog
      val root = graft.util.TempDirs.create("graft_q169")
      val baseline = root.resolve("baseline").toString
      TableLog.commitOverwrite(s, baseline,
        t(s, dir, "events").filter(dayofmonth(col("ts")) <= 10)
          .select(col("event_type")))
      graft.streaming.DriftMonitor.monitorMix(s, dir, "events.parquet",
        baseline, 1, root.resolve("report").toString,
        "event_type", root.resolve("ckpt").toString)
      TableLog.read(s, root.resolve("report").toString)
        .orderBy("batch_id", "category")
    }),

    // ---- Mix-shift score: Jensen–Shannon divergence of the lang
    //      distribution, one source vs the rest — two grouped counts,
    //      a category-cardinality outer join, window normalization;
    //      finite even for one-sided categories ----
    "q168_mix_divergence" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Drift.mixDivergence(
        d.filter(col("source") === "src0"),
        d.filter(col("source") =!= "src0"), "lang")
    }),

    // ---- Dataset card: one wide release-stats row — full-corpus agg
    //      + stratum mix agg + 1-row broadcast assembly joins; 16-byte
    //      md5 digests (engine-portable) stand in for text in the
    //      exact-dup count ----
    "q167_corpus_card" -> ((s, dir) =>
      graft.operators.Curation.corpusCard(t(s, dir, "documents"))),

    // ---- Privacy audit: k-anonymity / l-diversity over the
    //      (nation, segment) quasi-identifier — ONE hash agg on the
    //      quasi key, class-space-sized output ----
    "q164_k_anonymity" -> ((s, dir) =>
      graft.operators.Privacy.kAnonymityReport(
        t(s, dir, "customer"), Seq("c_nationkey", "c_mktsegment"),
        "c_acctbal", k = 6)),

    // ---- Publication gate: suppress rows of below-k classes via a
    //      left-semi against the aggregated class table (no whole-
    //      class window buffering); the 125-class safe set
    //      broadcasts ----
    "q165_safe_publish" -> ((s, dir) =>
      graft.operators.Privacy.suppressBelowK(
        t(s, dir, "customer"), Seq("c_nationkey", "c_mktsegment"), k = 6)
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))),

    // ---- One-row release summary: the k the table actually
    //      satisfies, worst l-diversity, suppression cost at k=6 ----
    "q166_anonymity_summary" -> ((s, dir) =>
      graft.operators.Privacy.anonymitySummary(
        t(s, dir, "customer"), Seq("c_nationkey", "c_mktsegment"),
        "c_acctbal", k = 6)),

    // ---- Tokenizer fertility per lang: train on the corpus, apply
    //      map-only, one grouped agg — the equity check a token-count
    //      mixture plan needs beside it. The whole TRAINING LOOP is
    //      deterministic (tie-break count desc, pair binary asc), so
    //      the oracle replays it round by round as a recursive CTE ----
    "q163_bpe_fertility" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.BpeTrainer.fertilityReport(
        d, graft.operators.BpeTrainer.fit(d, numMerges = 30))
    }),

    // ---- MMR diversified rerank over EXACT top-k candidates (the
    //      q20 brute-force recipe): greedy pass bounded O(k²·dim) per
    //      query inside mapGroups; fully deterministic on the 1e-6
    //      cosine grid, so the whole rerank replays in DuckDB as a
    //      recursive CTE (the Holt/PAVA precedent). The hash-seeded
    //      IVF variant stays the corpus-scale path, pinned by
    //      MmrRerankSpec ----
    "q162_mmr_rerank" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.operators.Similarity.mmrRerankExact(
        e, e.filter(col("vec_id") < 8), k = 24, m = 6, lambda = 0.7)
    }),

    // ---- ANN hard-negative mining (ANCE): within-cell candidates,
    //      label-mismatch filter, per-anchor top-k bounded by cell
    //      size; oversized cells fall back to mirrored sorted
    //      neighborhood. Hash-seeded codebook ⇒ rows-only; exactness
    //      in the single-cell case asserted in HardNegativesSpec ----
    "q161_hard_negatives" -> ((s, dir) =>
      graft.operators.Similarity.hardNegatives(
        t(s, dir, "embeddings"), k = 3)),

    // ---- Step-zero text normalization: NFC + lowercase + whitespace
    //      collapse, map-only inside codegen (native UnicodeNormalize
    //      with an isNormalized fast path) — every downstream hash
    //      depends on this rewrite having happened ----
    "q160_normalize" -> ((s, dir) =>
      graft.operators.Scrub.normalizeText(t(s, dir, "documents"))),

    // ---- Per-source boilerplate excision (CCNet document-frequency
    //      filter): segments frequent within a source die everywhere,
    //      including first occurrences; 8-byte hashes ride the
    //      frequency shuffle; doc totals broadcast ----
    "q159_boilerplate" -> ((s, dir) =>
      graft.operators.SegmentDedup.boilerplateExcise(
        t(s, dir, "documents"), segTokens = 2, minDocFrac = 0.18)),

    // ---- Column-level lineage of the flagship mart, read from the
    //      analyzed plan's ExprId graph — pure metadata, zero data
    //      touched, O(plan) cost at any corpus size. count(*)-style
    //      outputs surface as <constant> (no column provenance), the
    //      standard column-lineage convention ----
    "q158_column_lineage" -> ((s, dir) =>
      graft.plans.ColumnLineage.of(s,
        graft.marts.DailyStoreMetrics.build(
          t(s, dir, "orders"), t(s, dir, "events")))),

    // ---- Token-budget feasibility plan: one grouped agg over
    //      codegen'd per-row token counts; the mixture rides as a
    //      literal — the pre-run check that says "this source must
    //      epoch 5× to fill its seats" before any assembly shuffles ----
    "q157_token_budget" -> ((s, dir) =>
      graft.operators.Curation.tokenBudgetPlan(
        t(s, dir, "documents"), totalBudget = 100000L,
        weights = Map("en" -> 0.5, "zh" -> 0.2, "de" -> 0.1,
          "es" -> 0.1, "fr" -> 0.1))),

    // ---- Diversity-aware subselection: √-size per-cluster seats
    //      (rare modes keep representation), most-central rows win;
    //      salted two-phase top-m so no window partition sees a whole
    //      cluster. Hash-seeded codebook ⇒ rows-only; semantics in
    //      DiverseSubsetSpec ----
    "q156_diverse_subset" -> ((s, dir) =>
      graft.operators.Similarity.diverseSubset(
        t(s, dir, "embeddings"), budget = 200)),

    // ---- Semantic decontamination: benchmark embeddings (label 9 as
    //      the held-out eval slice) ride into a codegen'd MaxCosine as
    //      a plan reference object — the corpus pass is MAP-ONLY, no
    //      join, no pair rows, no aggregation exchange ----
    "q155_semantic_decontaminate" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.operators.Decontaminate.semanticGate(
        e.filter(col("label") =!= 9), e.filter(col("label") === 9),
        tau = 0.4)
    }),
  )

  /** The 35 rows-only queries (registered, no oracle entry) and WHY
    * each is legitimately not DuckDB-replayable — every one is pinned
    * by a named spec instead. Grouped by cause:
    *
    * HASH-SEEDED candidate generation (xxhash64 signatures/codebooks
    * have no DuckDB equivalent; planted-pair/recall-floor specs pin
    * semantics): q17_minhash_pairs, q18_simhash, q23_fingerprint,
    * q45_neardup_bucketed, q48_hyperplane_lsh, q54_fuzzy_dedup_pipeline,
    * q57_kmeans, q58_pq_ann, q65_embedding_dedup, q89_semantic_dedup,
    * q130_minhash_spill, q156_diverse_subset, q161_hard_negatives,
    * q175_random_projection, q186_dedup_eval, q21_ivf_ann,
    * q246_whitened_ann, q80_incremental_dedup (signature-table state).
    *
    * ENGINE-SPECIFIC state or iteration (sketch internals, eigen/ML
    * convergence, persisted index/commit state): q88_quality_model
    * (L-BFGS fit), q93_vector_index, q96_stream_corpus_ingest,
    * q98_stream_vector_ingest, q174_dp_release (seeded
    * noise), q176_audience_overlap (HLL sketch bytes),
    * q199_table_history (commit timestamps), q204_compress_profile
    * (codec byte sizes), q242_pca_spectrum (Jacobi iteration),
    * q189_canary_trace, q197_layout_advisor (plan introspection),
    * q177_late_audit (processing-time arrival order).
    *
    * BINARY multimodal payloads (features/bytes defined by the JDK
    * decoder, pixel/sample-pinned in MultimodalSpec): q24_multimodal_
    * features, q46_ppm_decode, q49_media_resize, q90_audio_features,
    * q95_image_neardup. */
  /** DuckDB oracle SQL per query (same tables, same column names) —
    * RAW form; the public [[oracleSql]] applies [[canonPlan]]. */
  private[graft] def registeredOracleSql: Map[String, String] = Map(

    "q350_bartlett" ->
      graft.operators.Homogeneity.bartlettOracleSql,

    "q351_cramers_v" ->
      graft.quality.Dependencies.cramersVOracleSql(
        "orders", "o_orderpriority", "o_orderstatus"),

    "q352_participation_ratio" ->
      graft.operators.Dimensionality.participationRatioOracleSql,

    "q353_balanced_sample" ->
      graft.operators.Sampling.balancedByClassOracleSql,

    "q354_gain_ratio" ->
      graft.operators.FeatureRank.gainRatioDocsOracleSql,

    "q355_intrinsic_dim" ->
      graft.operators.Dimensionality.twoNNOracleSql,

    "q356_hubness" ->
      graft.operators.Dimensionality.hubnessOracleSql,

    "q357_fisher_exact" ->
      graft.operators.ExactTests.fisherExactOracleSql,

    "q358_signed_rank" ->
      graft.operators.PairedTests.signedRankOracleSql,

    "q359_jonckheere" ->
      graft.operators.Homogeneity.jonckheereOracleSql,

    "q360_hits" ->
      graft.operators.GraphRank.hitsOracleSql(),

    "q361_dtw" ->
      graft.operators.TimeWarp.dtwOracleSql("view", "click"),

    "q362_tost" ->
      graft.operators.Experiment.tostOracleSql,

    "q363_partial_corr" ->
      graft.quality.Correlation.partialCorrelationOracleSql(
        "lineitem", "l_extendedprice", "l_quantity", "l_discount"),

    "q364_cronbach_alpha" ->
      graft.operators.Reliability.cronbachOracleSql,

    // additive cells: the stream dashboard re-aggregates to exactly
    // the batch input, so the q364 oracle applies verbatim
    "q365_stream_cronbach" ->
      graft.operators.Reliability.cronbachOracleSql,

    "q366_mood_median" ->
      graft.operators.Homogeneity.moodMedianOracleSql,

    "q367_cohens_h" ->
      graft.operators.Experiment.cohensHOracleSql,

    "q368_jarque_bera" ->
      graft.operators.Normality.jarqueBeraOracleSql(
        "orders", "o_totalprice"),

    "q369_iv_wald" ->
      graft.operators.CausalPanel.ivWaldOracleSql,

    "q370_cox_ph" ->
      graft.operators.CoxPh.oracleSql,

    "q371_mantel_haenszel" ->
      graft.operators.CausalPanel.mantelHaenszelOracleSql,

    "q372_modularity" ->
      graft.operators.GraphAudit.modularityOracleSql,

    "q373_assortativity" ->
      graft.operators.GraphAudit.assortativityOracleSql,

    "q374_reciprocity" ->
      graft.operators.GraphAudit.reciprocityOracleSql,

    "q375_lilliefors" ->
      graft.operators.Normality.lillieforsOracleSql(
        "orders", "o_totalprice"),

    "q376_cohens_d" ->
      graft.operators.Experiment.cohensDOracleSql,

    "q377_oneway_anova" ->
      graft.operators.Anova.onewayOracleSql,

    "q378_cvm_twosample" ->
      graft.operators.Drift.cvmTwoSampleOracleSql,

    "q379_rmst" ->
      graft.operators.Survival.rmstOracleSql(horizonDays = 1),

    "q380_gehan_wilcoxon" ->
      graft.operators.Survival.gehanOracleSql(horizonDays = 1),

    "q381_atkinson" ->
      graft.operators.Inequality.atkinsonOracleSql,

    "q382_breusch_pagan" ->
      graft.operators.Regression.breuschPaganOracleSql,

    "q383_dagostino_k2" ->
      graft.operators.Normality.dagostinoOracleSql(
        "orders", "o_totalprice"),

    "q384_page_trend" ->
      graft.operators.Homogeneity.pageTrendOracleSql,

    "q385_sample_entropy" ->
      graft.operators.Anomaly.sampleEntropyOracleSql,

    "q386_avg_precision" -> apOracleQ386,

    "q387_wilson_intervals" ->
      graft.operators.Experiment.wilsonOracleSql,

    "q388_hodges_lehmann" ->
      graft.operators.Experiment.hodgesLehmannOracleSql,

    "q389_kendall_w" ->
      graft.operators.Homogeneity.kendallWOracleSql,

    "q390_icc" ->
      graft.operators.Anova.iccOracleSql,

    "q391_graph_distances" ->
      graft.operators.GraphAudit.bfsDistancesOracleSql,

    "q392_dunning_llr" ->
      graft.operators.Keyness.dunningOracleSql(),

    "q393_fightin_words" ->
      graft.operators.Keyness.monroeOracleSql(),

    "q394_collocations" ->
      graft.operators.Keyness.collocationsOracleSql(),

    "q395_ipw_att" ->
      graft.operators.Matching.errorImpactIpwOracleSql,

    "q396_burrows_delta" ->
      graft.operators.Keyness.burrowsOracleSql(),

    "q397_lexical_richness" ->
      graft.operators.Vocab.lexicalRichnessOracleSql,

    "q398_energy_distance" ->
      graft.operators.Drift.energyDistanceOracleSql,

    "q399_distance_correlation" ->
      graft.operators.Causality.distanceCorrelationOracleSql,

    "q400_kuiper_uniformity" ->
      graft.operators.Drift.kuiperOracleSql,

    "q401_seasonal_mann_kendall" ->
      graft.operators.Anomaly.seasonalMannKendallOracleSql,

    "q402_bartels_rank" ->
      graft.operators.Anomaly.bartelsOracleSql,

    "q403_watson_u2" ->
      graft.operators.Drift.watsonOracleSql,

    "q404_weighted_kappa" ->
      graft.quality.Agreement.weightedKappaOracleSql,

    "q405_cucconi" ->
      graft.operators.TwoSampleRank.cucconiOracleSql,

    "q406_lepage" ->
      graft.operators.TwoSampleRank.lepageOracleSql,

    "q407_conover_sqranks" ->
      graft.operators.TwoSampleRank.conoverOracleSql,

    "q408_ordinal_assoc" ->
      graft.operators.Ordinal.ordinalAssocOracleSql,

    "q409_mcc_confusion" -> mccOracleQ409,

    "q410_fleiss_kappa" ->
      graft.quality.Agreement.fleissOracleSql,

    "q428_krippendorff_alpha" ->
      graft.quality.Agreement.krippendorffOracleSql,

    "q429_csv_roundtrip" ->
      graft.io.RoundTrip.eventsSummaryOracleSql,

    "q430_jsonl_roundtrip" ->
      graft.io.RoundTrip.eventsSummaryOracleSql,

    "q411_partition_agreement" ->
      graft.operators.ClusterQuality.partitionAgreementOracleSql,

    "q412_turning_points" ->
      graft.operators.SeriesTests.turningPointsOracleSql,

    "q413_cox_stuart" ->
      graft.operators.SeriesTests.coxStuartOracleSql,

    "q434_pettitt" ->
      graft.operators.SeriesTests.pettittOracleSql,

    "q435_kpss" ->
      graft.operators.Stationarity.kpssOracleSql,

    "q437_lmoments" ->
      graft.operators.SeriesTests.lMomentsOracleSql,

    "q438_theta" ->
      graft.operators.Forecast.thetaOracleSql(),

    "q439_croston" ->
      graft.operators.Forecast.crostonOracleSql(),

    "q440_c_chart" ->
      graft.operators.ControlCharts.cChartOracleSql,

    "q441_u_chart" ->
      graft.operators.ControlCharts.uChartOracleSql,

    "q442_seasonal_strength" ->
      graft.operators.SeriesTests.seasonalStrengthOracleSql,

    "q443_weco_rules" ->
      graft.operators.ControlCharts.wecoOracleSql,

    "q444_damped_holt" ->
      graft.operators.Forecast.dampedHoltOracleSql(),

    "q445_jonckheere" ->
      graft.operators.Ordinal.jonckheereOracleSql,

    "q446_diebold_mariano" ->
      graft.operators.Forecast.dieboldMarianoOracleSql(),

    "q447_tracking_signal" ->
      graft.operators.Forecast.trackingSignalOracleSql(),

    "q448_engle_granger" ->
      graft.operators.Stationarity.engleGrangerOracleSql,

    "q449_hac_trend" ->
      graft.operators.Regression.hacTrendOracleSql,

    "q450_intradoc_repetition" ->
      graft.operators.CorpusFilters.intradocRepetitionOracleSql,

    "q451_holt_winters" ->
      graft.operators.Forecast.holtWintersOracleSql(),

    "q436_dickey_fuller" ->
      graft.operators.Stationarity.dickeyFullerOracleSql,

    "q414_records_test" ->
      graft.operators.SeriesTests.recordsOracleSql,

    "q415_hjorth" ->
      graft.operators.SeriesTests.hjorthOracleSql,

    "q416_perm_entropy" ->
      graft.operators.SeriesTests.permEntropyOracleSql,

    "q417_ad_normality" ->
      graft.operators.Normality.adNormalityOracleSql(
        "orders", "o_totalprice"),

    "q418_imr_chart" ->
      graft.operators.ControlCharts.imrOracleSql,

    "q419_p_chart" ->
      graft.operators.ControlCharts.pChartOracleSql,

    "q420_hist_distances" ->
      graft.operators.Drift.histDistancesOracleSql,

    "q421_dispersion_index" ->
      graft.operators.SeriesTests.dispersionOracleSql,

    "q422_allan_deviation" ->
      graft.operators.SeriesTests.allanOracleSql,

    "q423_nominal_assoc" ->
      graft.operators.Ordinal.nominalAssocOracleSql,

    "q424_cressie_read" ->
      graft.operators.Drift.cressieReadOracleSql,

    "q425_poisson_rate" ->
      graft.operators.Drift.poissonRateOracleSql,

    "q426_grubbs" ->
      graft.operators.Outliers.grubbsOracleSql,

    "q427_gesd" ->
      graft.operators.Outliers.gesdOracleSql,

    "q201_sequence_pack" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(str_split_regex(trim(text), '\s+'),
        |      x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, source, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM d),
        |c AS (
        |  SELECT source, n_tokens,
        |    CASE WHEN (off + CASE WHEN n_tokens > 0 THEN n_tokens - 1
        |                    ELSE 0 END) // 512 > off // 512
        |         THEN 1 ELSE 0 END AS crosses
        |  FROM o)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(SUM(crosses) AS BIGINT) AS n_crossing,
        |  ROUND(AVG(CAST(n_tokens AS DOUBLE)), 4) AS mean_tokens,
        |  ROUND(CAST(SUM(crosses) AS DOUBLE) / COUNT(*), 6) AS crossing_frac
        |FROM c GROUP BY source ORDER BY source""".stripMargin,

    "q202_quality_auc" ->
      """WITH t AS (
        |  SELECT str_split_regex(trim(text), '\s+') AS toks, lang
        |  FROM documents),
        |s AS (
        |  SELECT lang,
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
        |  SELECT ROUND(
        |      LEAST(n / 16.0, 1.0) * 0.4 +
        |      (CASE WHEN sumlen / n BETWEEN 2.0 AND 9.0
        |            THEN 1.0 ELSE 0.5 END) * 0.4 +
        |      LEAST(stop_all / n * 4.0, 1.0) * 0.2, 4) AS score,
        |    (lang = 'en') AS label
        |  FROM s),
        |bys AS (
        |  SELECT score,
        |    SUM(CASE WHEN label THEN 1 ELSE 0 END) AS n_pos,
        |    SUM(CASE WHEN label THEN 0 ELSE 1 END) AS n_neg
        |  FROM q GROUP BY score),
        |acc AS (
        |  SELECT score, n_pos, n_neg,
        |    COALESCE(SUM(n_neg) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cneg
        |  FROM bys),
        |summ AS (
        |  SELECT
        |    CAST(SUM(n_pos) AS BIGINT) AS n_pos,
        |    CAST(SUM(n_neg) AS BIGINT) AS n_neg,
        |    CAST(COUNT(*) AS BIGINT) AS n_scores,
        |    ROUND(CASE WHEN SUM(n_pos) = 0 OR SUM(n_neg) = 0 THEN 0.5
        |      ELSE SUM(n_pos * (CAST(cneg AS DOUBLE) +
        |                        CAST(n_neg AS DOUBLE) / 2.0)) /
        |           (CAST(SUM(n_pos) AS DOUBLE) * CAST(SUM(n_neg) AS DOUBLE))
        |      END, 6) AS auc
        |  FROM acc)
        |SELECT n_pos, n_neg, n_scores, auc,
        |  ROUND(auc * 2.0 - 1.0, 6) AS gini
        |FROM summ""".stripMargin,

    "q203_triangles" -> graft.operators.Triangles.oracleSql,

    "q206_token_gini" ->
      graft.operators.Concentration.tokenGiniOracleSql,

    "q208_burstiness" ->
      graft.operators.EventTime.burstinessOracleSql(),

    "q209_allpairs_join" ->
      graft.operators.AllPairsJoin.oracleSql(0.5),

    "q214_incremental_allpairs" ->
      graft.operators.AllPairsJoin.incrementalOracleSql(0.5),

    "q215_hampel" ->
      graft.operators.Anomaly.hampelOracleSql(),

    "q218_personalized_rank" ->
      graft.operators.GraphRank.personalizedOracleSql(Seq(0, 1, 2, 3, 4)),

    "q223_degree_profile" ->
      graft.operators.GraphRank.degreeOracleSql,

    "q224_cusum" ->
      graft.operators.Anomaly.cusumOracleSql(),

    "q225_ks_fdr" ->
      graft.operators.Drift.ksFdrOracleSql(
        "documents", "source", "n_chars", 100.0),

    "q226_novelty_curve" ->
      graft.operators.Vocab.noveltyOracleSql(),

    "q227_unseen_mass" ->
      graft.operators.Vocab.unseenOracleSql,

    "q228_cross_correlation" ->
      graft.operators.Anomaly.ccfOracleSql("click", "purchase"),

    "q229_entropy_rate" ->
      graft.operators.Sessionize.entropyOracleSql,

    "q230_width_advisor" ->
      graft.operators.Drift.widthAdvisorOracleSql(
        "orders", Seq("o_totalprice", "o_orderkey")),

    "q232_rbo_vocab" ->
      graft.operators.Vocab.rboOracleSql(),

    "q233_neyman_allocation" ->
      graft.operators.Sampling.neymanOracleSql(1000L),

    "q237_js_divergence" ->
      graft.operators.Vocab.jsMatrixOracleSql,

    "q238_session_pmi" ->
      graft.operators.Cooccurrence.sessionPmiOracleSql,

    "q239_label_kappa" ->
      graft.quality.Agreement.kappaOracleSql(300L, 55L),

    "q240_burstiness" ->
      graft.operators.Anomaly.fanoOracleSql,

    "q241_embedding_covariance" ->
      graft.operators.Pca.covarianceOracleSql,

    "q243_correlation_matrix" ->
      graft.quality.Correlation.oracleSql("lineitem",
        Seq("l_quantity", "l_extendedprice", "l_discount")),

    "q244_class_separation" ->
      graft.operators.Anova.classSeparationOracleSql,

    "q245_quantile_align" ->
      graft.operators.Drift.quantileAlignOracleSql(),

    "q247_kaplan_meier" ->
      graft.operators.Survival.kmOracleSql(horizonDays = 1),

    "q248_ab_welch" ->
      graft.operators.Experiment.welchOracleSql,

    "q249_ab_mannwhitney" ->
      graft.operators.Experiment.mannWhitneyOracleSql,

    "q250_ab_ratio_delta" ->
      graft.operators.Experiment.ratioDeltaOracleSql,

    "q251_log_rank" ->
      graft.operators.Survival.logRankOracleSql(horizonDays = 1),

    "q252_cuped" ->
      graft.operators.Experiment.cupedOracleSql,

    "q253_power" ->
      graft.operators.Experiment.powerOracleSql(5.0),

    "q254_sequential_msprt" ->
      graft.operators.Experiment.msprtOracleSql(25.0),

    "q256_segment_lift" ->
      graft.operators.Experiment.segmentLiftOracleSql(),

    "q277_ratio_jackknife" ->
      graft.operators.Experiment.ratioJackknifeOracleSql(),

    "q279_ab_winsorized" ->
      graft.operators.Experiment.winsorizedOracleSql(),

    "q280_holt_trend" ->
      graft.operators.Forecast.holtOracleSql(),

    "q281_durbin_watson" ->
      graft.operators.Regression.durbinWatsonOracleSql,

    "q282_stream_holt" ->
      graft.operators.Forecast.holtOracleSql(
        measure = "SUM(value)"),

    "q283_shapley_attribution" ->
      graft.operators.Attribution.shapleyOracleSql(),

    "q284_nb_fit" ->
      graft.operators.Anomaly.negativeBinomialOracleSql,

    "q285_isotonic" ->
      graft.operators.QualityModel.isotonicOracleSql,

    "q278_kcore" ->
      graft.operators.KCore.navigationKCoreOracleSql(k = 3),

    "q207_pack_ffd" ->
      graft.operators.SequencePack.ffdSummaryOracleSql(seqLen = 512),

    // closed-form replay of Multimodal.generatePpm's gradient — the
    // engine only reaches these numbers through a real PNG
    // encode→decode round trip, so parity certifies the codec path
    "q289_png_features" ->
      """WITH ids AS (
        |  SELECT doc_id AS id,
        |    CAST(8 + doc_id % 8 AS INTEGER) AS w,
        |    CAST(8 + doc_id % 5 AS INTEGER) AS h
        |  FROM documents),
        |xs AS (SELECT id, w, h, UNNEST(range(0, w)) AS x FROM ids),
        |px AS (
        |  SELECT id, w, h, x, UNNEST(range(0, h)) AS y FROM xs),
        |rgb AS (
        |  SELECT id, w, h,
        |    CAST((x * 255) // greatest(1, w - 1) AS BIGINT) AS r,
        |    CAST((y * 255) // greatest(1, h - 1) AS BIGINT) AS g,
        |    CAST((x + y + id) % 256 AS BIGINT) AS b
        |  FROM px),
        |lum AS (
        |  SELECT id, w, h, r, g, b,
        |    CAST(0.299 AS DOUBLE) * r + CAST(0.587 AS DOUBLE) * g +
        |      CAST(0.114 AS DOUBLE) * b AS luma
        |  FROM rgb)
        |SELECT id AS media_id, w AS width, h AS height,
        |  ROUND(CAST(SUM(r) AS DOUBLE) / (w * h), 6) AS mean_r,
        |  ROUND(CAST(SUM(g) AS DOUBLE) / (w * h), 6) AS mean_g,
        |  ROUND(CAST(SUM(b) AS DOUBLE) / (w * h), 6) AS mean_b,
        |  ROUND(MIN(luma), 6) AS luma_min,
        |  ROUND(MAX(luma), 6) AS luma_max
        |FROM lum GROUP BY 1, 2, 3 ORDER BY media_id""".stripMargin,

    // weekday encodings differ (DuckDB Sun=0, Spark Sun=1) but the
    // association statistics depend only on the PARTITION, which is
    // identical — the category labels never reach the output row
    "q286_association" ->
      graft.quality.Dependencies.associationOracleSql(
        "events", "event_type", "dayofweek(ts)"),

    "q287_mann_kendall" ->
      graft.operators.Anomaly.mannKendallOracleSql,

    "q288_runs_test" ->
      graft.operators.Anomaly.runsTestOracleSql,

    "q290_kruskal_wallis" ->
      graft.operators.Experiment.kruskalWallisOracleSql,

    "q291_ljung_box" ->
      graft.operators.Anomaly.ljungBoxOracleSql(),

    "q292_page_hinkley" ->
      graft.operators.Anomaly.pageHinkleyOracleSql(),

    "q293_unimax_budget" ->
      graft.operators.Curation.unimaxOracleSql(
        budgetTokensPerCorpus = 2.0),

    "q294_renyi_entropy" ->
      graft.operators.Vocab.renyiOracleSql,

    "q295_ad_twosample" ->
      graft.operators.Drift.adTwoSampleOracleSql,

    "q296_stream_page_hinkley" ->
      graft.operators.Anomaly.pageHinkleyOracleSql(),

    "q297_c4_rules" ->
      graft.operators.CorpusFilters.c4OracleSql,

    "q298_gopher_rules" ->
      graft.operators.CorpusFilters.gopherOracleSql,

    "q299_doremi_weights" ->
      graft.operators.CorpusFilters.doremiOracleSql,

    "q300_ewma_chart" ->
      graft.operators.Anomaly.ewmaOracleSql(),

    "q301_kendall_tau" ->
      graft.quality.Correlation.kendallNationOracleSql,

    "q302_market_basket" ->
      graft.operators.Basket.partAffinityOracleSql,

    "q303_line_dedup" ->
      graft.operators.CorpusFilters.lineDedupOracleSql,

    "q304_line_rules" ->
      graft.operators.CorpusFilters.lineRulesOracleSql,

    "q305_soft_dedup" ->
      graft.operators.CorpusFilters.softDedupOracleSql,

    "q306_stream_ewma" ->
      graft.operators.Anomaly.ewmaOracleSql(),

    "q307_seasonal_holt" ->
      graft.operators.Forecast.seasonalHoltOracleSql(),

    "q308_periodogram" ->
      graft.operators.Spectral.periodogramOracleSql(),

    "q309_trend_proportions" ->
      graft.operators.Experiment.cochranArmitageOracleSql,

    "q310_mcnemar" ->
      graft.operators.Experiment.mcnemarOracleSql,

    "q311_concentration" ->
      graft.operators.Concentration.revenueConcentrationOracleSql,

    "q312_nelson_aalen" ->
      graft.operators.Survival.nelsonAalenOracleSql(horizonDays = 1),

    "q313_cem_att" ->
      graft.operators.Matching.errorImpactOracleSql,

    "q314_pacf" ->
      graft.operators.Anomaly.pacfOracleSql(),

    "q315_forecast_tournament" ->
      graft.operators.Forecast.tournamentOracleSql(),

    "q316_link_prediction" ->
      graft.operators.Basket.linkPredictionOracleSql,

    "q317_silhouette" ->
      graft.operators.ClusterQuality.silhouetteOracleSql,

    "q318_davies_bouldin" ->
      graft.operators.ClusterQuality.daviesBouldinOracleSql,

    "q319_encoding_audit" ->
      graft.operators.CorpusFilters.encodingAuditOracleSql,

    "q321_ind_discovery" ->
      graft.quality.Inclusion.indReportOracleSql,

    "q322_truncated_recall" ->
      graft.operators.TruncatedRecall.recallCurveOracleSql,

    "q323_granger" ->
      graft.operators.Causality.grangerOracleSql,

    "q324_brown_forsythe" ->
      graft.operators.Homogeneity.brownForsytheOracleSql,

    "q325_friedman" ->
      graft.operators.Homogeneity.friedmanOracleSql,

    "q431_quade" ->
      graft.operators.Homogeneity.quadeOracleSql,

    "q432_conover_iman" ->
      graft.operators.Homogeneity.conoverImanOracleSql,

    "q433_bws" ->
      graft.operators.TwoSampleRank.bwsOracleSql,

    "q326_theil" ->
      graft.operators.Inequality.theilOracleSql,

    "q327_stream_encoding_audit" ->
      graft.operators.CorpusFilters.encodingAuditOracleSql,

    "q328_qini" ->
      graft.operators.Uplift.qiniOracleSql,

    "q329_stream_stream_join" ->
      graft.streaming.StreamJoin.viewPurchasePairsOracleSql,

    "q330_alignment_uniformity" ->
      graft.operators.EmbeddingAudit.alignmentUniformityOracleSql,

    "q331_cka" ->
      graft.operators.EmbeddingAudit.ckaOracleSql,

    "q332_knn_label_noise" ->
      graft.operators.EmbeddingAudit.knnLabelNoiseOracleSql,

    "q333_elasticity" ->
      graft.operators.Elasticity.byBrandOracleSql,

    "q334_cochran_q" ->
      graft.operators.Homogeneity.cochranQOracleSql,

    "q335_spectral_entropy" ->
      graft.operators.Spectral.spectralSummaryOracleSql(),

    "q336_fd_violation_rate" ->
      graft.quality.Dependencies.g3OracleSql("orders", g3Pairs),

    "q337_lsh_advisor" ->
      graft.operators.LshAdvisor.adviseOracleSql,

    // (p, y) subquery = the q137 score/label fixture, verbatim
    "q339_brier" -> graft.operators.QualityModel.brierOracleSql(
      """SELECT q.quality AS p,
        |    CASE WHEN d.n_chars >= 300 THEN 1.0 ELSE 0.0 END AS y
        |  FROM (
        |    SELECT doc_id, ROUND(
        |      LEAST(n / 16.0, 1.0) * 0.4 +
        |      (CASE WHEN sl / n BETWEEN 2.0 AND 9.0
        |        THEN 1.0 ELSE 0.5 END) * 0.4 +
        |      LEAST(st / n * 4.0, 1.0) * 0.2, 4) AS quality
        |    FROM (
        |      SELECT doc_id,
        |        CAST(len(toks) AS DOUBLE) AS n,
        |        CAST(list_sum(list_transform(toks, x -> length(x)))
        |          AS DOUBLE) AS sl,
        |        CAST(list_sum(list_transform(toks, x -> CASE WHEN x IN
        |          ('the','a','of','and','to','in','is','on',
        |           'der','die','das','und','ist','nicht','ein','zu',
        |           'el','la','de','que','y','en','un','es',
        |           'le','et','les','des','est','une')
        |          THEN 1 ELSE 0 END)) AS DOUBLE) AS st
        |      FROM (SELECT doc_id,
        |          str_split_regex(trim(text), '\s+') AS toks
        |        FROM documents))) q
        |  JOIN documents d USING (doc_id)""".stripMargin),

    "q340_effective_data" ->
      graft.operators.Curation.effectiveDataOracleSql(2.0),

    "q341_competing_risks" ->
      graft.operators.Survival.competingRisksOracleSql,

    "q342_rdd" ->
      graft.operators.Regression.rddOracleSql,

    "q343_decontaminate_excise" ->
      graft.operators.Decontaminate.exciseOracleSql(4),

    "q344_simpsons" ->
      graft.operators.Simpsons.auditOracleSql,

    "q346_chi2_residuals" ->
      graft.quality.Dependencies.chi2ResidualsOracleSql(
        "orders", "o_orderpriority", "o_orderstatus"),

    "q348_cliffs_delta" ->
      graft.operators.Experiment.cliffsDeltaOracleSql,

    "q349_hurst" ->
      graft.operators.Hurst.rescaledRangeOracleSql,

    "q347_bland_altman" ->
      graft.quality.Agreement.blandAltmanOracleSql(
        """SELECT q.quality -
          |    LEAST(CAST(d.n_chars AS DOUBLE) / 500.0, 1.0) AS diff
          |  FROM (
          |    SELECT doc_id, ROUND(
          |      LEAST(n / 16.0, 1.0) * 0.4 +
          |      (CASE WHEN sl / n BETWEEN 2.0 AND 9.0
          |        THEN 1.0 ELSE 0.5 END) * 0.4 +
          |      LEAST(st / n * 4.0, 1.0) * 0.2, 4) AS quality
          |    FROM (
          |      SELECT doc_id,
          |        CAST(len(toks) AS DOUBLE) AS n,
          |        CAST(list_sum(list_transform(toks, x -> length(x)))
          |          AS DOUBLE) AS sl,
          |        CAST(list_sum(list_transform(toks, x -> CASE WHEN x IN
          |          ('the','a','of','and','to','in','is','on',
          |           'der','die','das','und','ist','nicht','ein','zu',
          |           'el','la','de','que','y','en','un','es',
          |           'le','et','les','des','est','une')
          |          THEN 1 ELSE 0 END)) AS DOUBLE) AS st
          |      FROM (SELECT doc_id,
          |          str_split_regex(trim(text), '\s+') AS toks
          |        FROM documents))) q
          |  JOIN documents d USING (doc_id)""".stripMargin),

    "q338_touch_attribution" ->
      graft.operators.Attribution.touchComparisonOracleSql,

    "q320_sq8_ann" ->
      graft.operators.ScalarQuantization.sq8OracleSql,

    "q269_ols_trend" ->
      graft.operators.Regression.olsTrendOracleSql,

    "q270_breakpoint" ->
      graft.operators.Regression.breakpointOracleSql,

    "q271_ess_weights" ->
      graft.operators.Sampling.essOracleSql,

    "q272_eb_shrinkage" ->
      graft.operators.Regression.ebShrinkageOracleSql(),

    "q273_hill_tail" ->
      graft.operators.Concentration.hillOracleSql("orders", "o_totalprice"),

    "q274_weighted_quantiles" ->
      graft.operators.Sampling.weightedQuantilesOracleSql,

    "q275_skyline" ->
      graft.operators.Skyline.customerFrontierOracleSql,

    "q276_stream_trend" ->
      graft.operators.Regression.olsTrendOracleSql,

    "q258_stream_msprt" ->
      graft.operators.Experiment.msprtOracleSql(25.0),

    "q259_ses_forecast" ->
      graft.operators.Forecast.sesOracleSql(),

    "q260_growth_accounting" ->
      graft.operators.Growth.accountingOracleSql,

    "q261_retention_decay" ->
      graft.operators.Growth.retentionDecayOracleSql,

    "q262_readability" ->
      graft.operators.Readability.oracleSql,

    "q263_ltv_curve" ->
      graft.operators.Growth.ltvOracleSql,

    "q264_session_summary" ->
      graft.operators.Sessionize.sessionSummaryOracleSql,

    "q265_funnel_latency" ->
      graft.operators.Funnel.stepLatencyOracleSql,

    "q266_error_slo" ->
      graft.operators.Anomaly.errorSloOracleSql(),

    "q267_did" ->
      graft.operators.Experiment.didOracleSql,

    "q268_script_profile" ->
      graft.operators.TextQuality.scriptProfileOracleSql,

    "q257_quantile_lift" ->
      graft.operators.Experiment.quantileLiftOracleSql(),

    "q255_srm_check" ->
      graft.operators.Experiment.srmOracleSql(),

    "q234_lexical_kl" ->
      graft.operators.Vocab.lexicalKlOracleSql,

    "q235_robust_location" ->
      graft.operators.Anomaly.robustLocationOracleSql(),

    "q236_theil_sen" ->
      graft.operators.Anomaly.theilSenOracleSql,

    "q231_seasonal_decompose" ->
      graft.operators.Anomaly.seasonalOracleSql,

    "q219_conformal" ->
      graft.operators.Conformal.oracleSql(0.1),

    "q220_wasserstein" ->
      graft.operators.Drift.wassersteinOracleSql(
        "o_totalprice", 20000.0, "year(o_orderdate) <= 1996"),

    "q221_bootstrap_ci" ->
      graft.operators.Bootstrap.oracleSql(),

    "q222_stream_wasserstein" ->
      graft.operators.Drift.wassersteinOracleSql(
        "o_totalprice", 20000.0, "year(o_orderdate) <= 1996").replace(
        "AS w1\nFROM f",
        "AS w1,\n  CAST(0 AS BIGINT) AS batch_id\nFROM f"),

    "q216_mutual_info" ->
      graft.quality.Dependencies.miOracleSql("events",
        "event_type", "CAST(dayofweek(ts) + 1 AS INTEGER)"),

    // single-batch AvailableNow run over the full corpus ⇒ the pairs
    // table is exactly the corpus-wide join plus a batch_id column
    "q217_stream_allpairs" ->
      graft.operators.AllPairsJoin.oracleSql(0.5).replace(
        "SELECT id_a, id_b, ROUND(jac, 4) AS jaccard",
        "SELECT id_a, id_b, ROUND(jac, 4) AS jaccard," +
          " CAST(0 AS BIGINT) AS batch_id"),

    "q211_fd_discovery" ->
      graft.quality.Dependencies.fdOracleSql(
        "orders", profiledOrderCols.map(_._1)),

    "q212_benford" ->
      graft.operators.Benford.oracleSql("orders", "o_totalprice"),

    "q213_daily_acf" ->
      graft.operators.Anomaly.acfOracleSql(),

    "q210_stream_auc" ->
      """WITH t AS (
        |  SELECT doc_id, str_split_regex(trim(text), '\s+') AS toks, lang
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang,
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
        |  SELECT doc_id, ROUND(
        |      LEAST(n / 16.0, 1.0) * 0.4 +
        |      (CASE WHEN sumlen / n BETWEEN 2.0 AND 9.0
        |            THEN 1.0 ELSE 0.5 END) * 0.4 +
        |      LEAST(stop_all / n * 4.0, 1.0) * 0.2, 4) AS score,
        |    (lang = 'en') AS label
        |  FROM s),
        |bys AS (
        |  SELECT score,
        |    SUM(CASE WHEN label THEN 1 ELSE 0 END) AS n_pos,
        |    SUM(CASE WHEN label THEN 0 ELSE 1 END) AS n_neg
        |  FROM q GROUP BY score),
        |acc AS (
        |  SELECT score, n_pos, n_neg,
        |    COALESCE(SUM(n_neg) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cneg
        |  FROM bys),
        |summ AS (
        |  SELECT
        |    CAST(SUM(n_pos) AS BIGINT) AS n_pos,
        |    CAST(SUM(n_neg) AS BIGINT) AS n_neg,
        |    CAST(COUNT(*) AS BIGINT) AS n_scores,
        |    ROUND(CASE WHEN SUM(n_pos) = 0 OR SUM(n_neg) = 0 THEN 0.5
        |      ELSE SUM(n_pos * (CAST(cneg AS DOUBLE) +
        |                        CAST(n_neg AS DOUBLE) / 2.0)) /
        |           (CAST(SUM(n_pos) AS DOUBLE) * CAST(SUM(n_neg) AS DOUBLE))
        |      END, 6) AS auc
        |  FROM acc),
        |bysb AS (
        |  SELECT score,
        |    SUM(CASE WHEN label THEN 1 ELSE 0 END) AS n_pos,
        |    SUM(CASE WHEN label THEN 0 ELSE 1 END) AS n_neg
        |  FROM q WHERE doc_id % 2 = 0 GROUP BY score),
        |accb AS (
        |  SELECT score, n_pos, n_neg,
        |    COALESCE(SUM(n_neg) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cneg
        |  FROM bysb),
        |summb AS (
        |  SELECT
        |    ROUND(CASE WHEN SUM(n_pos) = 0 OR SUM(n_neg) = 0 THEN 0.5
        |      ELSE SUM(n_pos * (CAST(cneg AS DOUBLE) +
        |                        CAST(n_neg AS DOUBLE) / 2.0)) /
        |           (CAST(SUM(n_pos) AS DOUBLE) * CAST(SUM(n_neg) AS DOUBLE))
        |      END, 6) AS base_auc
        |  FROM accb)
        |SELECT summ.n_pos, summ.n_neg, summ.n_scores, summ.auc,
        |  ROUND(summ.auc * 2.0 - 1.0, 6) AS gini,
        |  summb.base_auc,
        |  ROUND(summ.auc - summb.base_auc, 6) AS delta,
        |  CAST(0 AS BIGINT) AS batch_id
        |FROM summ, summb""".stripMargin,

    "q205_roc_curve" -> rocOracleQ205,

    // Youden J: the q205 curve as a CTE, one ordered limit
    "q345_youden" ->
      s"""WITH roc AS ($rocOracleQ205)
         |SELECT score AS threshold, tpr, fpr, prec,
         |  ROUND(tpr - fpr, 6) AS j_stat
         |FROM roc
         |ORDER BY ROUND(tpr - fpr, 6) DESC, threshold DESC
         |LIMIT 1""".stripMargin,

    "q170_label_communities" -> graft.operators.Communities.oracleSql(),

    "q171_disorder_profile" -> graft.operators.EventTime.oracleSql(),

    "q172_vocab_growth" -> graft.operators.Vocab.growthOracleSql(),

    "q173_dp_accounting" ->
      graft.operators.DifferentialPrivacy.accountingOracleSql(),

    "q178_ks_drift" -> graft.operators.Drift.ksOracleSql(15),

    "q180_scd2_build" -> graft.operators.Scd.dimensionOracleSql,

    "q182_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  ROUND(SUM(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), (o_orderpriority))
        |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin,

    "q181_point_in_time" -> graft.operators.Scd.revenueOracleSql,

    // streaming upkeep converges to the batch dimension (in-order
    // replay; merge≡rebuild pinned in ScdSpec) — same oracle as q180
    "q183_stream_scd2" -> graft.operators.Scd.dimensionOracleSql,

    "q184_retrieval_eval" -> graft.operators.RetrievalEval.oracleSql(),

    "q187_psi_equidepth" ->
      graft.operators.Drift.psiEquiDepthOracleSql(15),

    "q188_stream_anonymity" ->
      graft.streaming.PrivacyMonitor.oracleSql(),

    "q190_join_cardinality" -> graft.operators.JoinAdvisor.oracleSql(
      "lineitem", "orders", "l_orderkey", "o_orderkey"),

    "q191_suggest_expectations" ->
      graft.quality.SuggestExpectations.oracleSql(
        "orders", profiledOrderCols),

    "q192_temporal_split" -> graft.operators.TemporalSplit
      .auditOracleSql("2024-01-15 00:00:00", "2024-01-23 00:00:00",
        embargoSeconds = 86400L),

    "q193_history_docs" -> graft.operators.HistoryDocs.oracleSql(),

    "q194_sql_gateway" -> graft.pipeline.SqlGateway.segmentRevenueSql,

    "q195_seasonal_anomaly" ->
      graft.operators.Anomaly.seasonalOracleSql(),

    "q200_chi2_drift" ->
      graft.operators.Drift.chiSquareOracleSql(15),

    "q198_lang_confusion" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    str_split_regex(trim(text), '\s+') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id, lang,
        |    CAST(list_sum(list_transform(toks, x -> CASE WHEN x IN
        |      ('the','a','of','and','to','in','is','on') THEN 1 ELSE 0 END)) AS BIGINT) AS s_en,
        |    CAST(list_sum(list_transform(toks, x -> CASE WHEN x IN
        |      ('der','die','das','und','ist','nicht','ein','zu') THEN 1 ELSE 0 END)) AS BIGINT) AS s_de,
        |    CAST(list_sum(list_transform(toks, x -> CASE WHEN x IN
        |      ('el','la','de','que','y','en','un','es') THEN 1 ELSE 0 END)) AS BIGINT) AS s_es,
        |    CAST(list_sum(list_transform(toks, x -> CASE WHEN x IN
        |      ('le','la','et','les','des','est','un','une') THEN 1 ELSE 0 END)) AS BIGINT) AS s_fr
        |  FROM t),
        |p AS (
        |  SELECT lang AS declared,
        |    CASE WHEN GREATEST(s_en, s_de, s_es, s_fr) <= 0 THEN 'und'
        |         WHEN s_en = GREATEST(s_en, s_de, s_es, s_fr) THEN 'en'
        |         WHEN s_de = GREATEST(s_en, s_de, s_es, s_fr) THEN 'de'
        |         WHEN s_es = GREATEST(s_en, s_de, s_es, s_fr) THEN 'es'
        |         ELSE 'fr' END AS detected
        |  FROM s)
        |SELECT declared, detected, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(COUNT(*) / CAST(SUM(COUNT(*))
        |    OVER (PARTITION BY declared) AS DOUBLE), 6) AS frac
        |FROM p GROUP BY declared, detected
        |ORDER BY declared, detected""".stripMargin,

    "q196_merge_plan" ->
      """WITH t AS (
        |  SELECT CAST(ts AS DATE) AS dt, event_id FROM events
        |  WHERE day(CAST(ts AS DATE)) <= 20),
        |u AS (
        |  SELECT CAST(ts AS DATE) AS dt, event_id FROM events
        |  WHERE day(CAST(ts AS DATE)) BETWEEN 15 AND 25),
        |tc AS (SELECT dt, COUNT(*) AS n_existing FROM t GROUP BY 1),
        |uc AS (SELECT dt, COUNT(*) AS n_updates FROM u GROUP BY 1),
        |ov AS (
        |  SELECT dt, COUNT(*) AS n_overlap FROM (
        |    SELECT DISTINCT x.dt, x.event_id
        |    FROM (SELECT DISTINCT dt, event_id FROM u) x
        |    JOIN (SELECT DISTINCT dt, event_id FROM t) y
        |      ON x.dt = y.dt AND x.event_id = y.event_id)
        |  GROUP BY 1)
        |SELECT COALESCE(tc.dt, uc.dt) AS dt,
        |  CAST(COALESCE(tc.n_existing, 0) AS BIGINT) AS n_existing,
        |  CAST(COALESCE(uc.n_updates, 0) AS BIGINT) AS n_updates,
        |  CAST(COALESCE(tc.n_existing, 0) + COALESCE(uc.n_updates, 0)
        |    - COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_after,
        |  CASE WHEN COALESCE(uc.n_updates, 0) = 0 THEN 'carry'
        |    WHEN COALESCE(tc.n_existing, 0) = 0 THEN 'create'
        |    ELSE 'rewrite' END AS action
        |FROM tc FULL OUTER JOIN uc ON tc.dt = uc.dt
        |LEFT JOIN ov ON COALESCE(tc.dt, uc.dt) = ov.dt
        |ORDER BY dt""".stripMargin,

    "q179_ks_drift_grid" ->
      graft.operators.Drift.ksOracleSql(15, Some(0.5)),

    "q169_stream_mix_drift" ->
      """WITH r AS (SELECT event_type AS category, COUNT(*) AS n_ref
        |           FROM events WHERE day(ts) <= 10 GROUP BY 1),
        |c AS (SELECT event_type AS category, COUNT(*) AS n_cur
        |      FROM events GROUP BY 1),
        |j AS (SELECT COALESCE(r.category, c.category) AS category,
        |        COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
        |      FROM r FULL OUTER JOIN c ON r.category = c.category),
        |p AS (SELECT category, n_ref, n_cur,
        |        n_ref * 1.0 / SUM(n_ref) OVER () AS p,
        |        n_cur * 1.0 / SUM(n_cur) OVER () AS q
        |      FROM j),
        |k AS (SELECT category, n_ref, n_cur, p, q,
        |        (CASE WHEN p > 0 THEN 0.5 * p * LOG2(p / ((p + q) / 2))
        |              ELSE 0 END
        |       + CASE WHEN q > 0 THEN 0.5 * q * LOG2(q / ((p + q) / 2))
        |              ELSE 0 END) AS c2
        |      FROM p)
        |SELECT category, n_ref, n_cur,
        |  ROUND(p, 6) AS p_ref, ROUND(q, 6) AS p_cur,
        |  ROUND(c2, 6) AS js_contrib_bits,
        |  ROUND(SUM(c2) OVER (), 6) AS js_bits,
        |  CAST(0 AS BIGINT) AS batch_id
        |FROM k ORDER BY batch_id, category""".stripMargin,

    "q168_mix_divergence" ->
      """WITH r AS (SELECT lang AS category, COUNT(*) AS n_ref
        |           FROM documents WHERE source = 'src0' GROUP BY 1),
        |c AS (SELECT lang AS category, COUNT(*) AS n_cur
        |      FROM documents WHERE source <> 'src0' GROUP BY 1),
        |j AS (SELECT COALESCE(r.category, c.category) AS category,
        |        COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
        |      FROM r FULL OUTER JOIN c ON r.category = c.category),
        |p AS (SELECT category, n_ref, n_cur,
        |        n_ref * 1.0 / SUM(n_ref) OVER () AS p,
        |        n_cur * 1.0 / SUM(n_cur) OVER () AS q
        |      FROM j),
        |k AS (SELECT category, n_ref, n_cur, p, q,
        |        (CASE WHEN p > 0 THEN 0.5 * p * LOG2(p / ((p + q) / 2))
        |              ELSE 0 END
        |       + CASE WHEN q > 0 THEN 0.5 * q * LOG2(q / ((p + q) / 2))
        |              ELSE 0 END) AS c2
        |      FROM p)
        |SELECT category, n_ref, n_cur,
        |  ROUND(p, 6) AS p_ref, ROUND(q, 6) AS p_cur,
        |  ROUND(c2, 6) AS js_contrib_bits,
        |  ROUND(SUM(c2) OVER (), 6) AS js_bits
        |FROM k ORDER BY category""".stripMargin,

    "q167_corpus_card" ->
      """WITH base AS (
        |  SELECT COUNT(*) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |    CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        |    ROUND(AVG(n_chars), 2) AS avg_chars,
        |    ROUND(QUANTILE_CONT(n_chars, 0.5), 2) AS p50_chars,
        |    ROUND(QUANTILE_CONT(n_chars, 0.95), 2) AS p95_chars,
        |    CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts
        |  FROM documents),
        |strata AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang),
        |ent AS (SELECT ROUND(SUM(-(c * 1.0 / t) * LOG2(c * 1.0 / t)), 4)
        |          AS lang_entropy_bits
        |        FROM strata, (SELECT SUM(c) AS t FROM strata)),
        |top AS (SELECT lang AS top_lang, c AS top_c FROM strata
        |        ORDER BY c DESC, lang LIMIT 1)
        |SELECT b.n_docs, b.total_chars, b.n_langs, b.n_sources,
        |  b.avg_chars, b.p50_chars, b.p95_chars, b.n_distinct_texts,
        |  e.lang_entropy_bits, t.top_lang,
        |  ROUND(t.top_c * 1.0 / b.n_docs, 4) AS top_lang_share,
        |  ROUND(b.n_distinct_texts * 1.0 / b.n_docs, 4) AS distinct_ratio
        |FROM base b, ent e, top t""".stripMargin,

    "q164_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment,
        |  COUNT(*) AS class_size,
        |  CAST(COUNT(DISTINCT c_acctbal) AS BIGINT) AS l_diversity,
        |  COUNT(*) < 6 AS below_k
        |FROM customer
        |GROUP BY c_nationkey, c_mktsegment
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    "q165_safe_publish" ->
      """SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment
        |FROM customer c
        |JOIN (SELECT c_nationkey, c_mktsegment FROM customer
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 6) g
        |  USING (c_nationkey, c_mktsegment)
        |ORDER BY c.c_custkey""".stripMargin,

    "q166_anonymity_summary" ->
      """SELECT CAST(MIN(class_size) AS BIGINT) AS k_anonymity,
        |  CAST(MIN(l_div) AS BIGINT) AS l_diversity_min,
        |  COUNT(*) AS n_classes,
        |  CAST(COALESCE(SUM(CASE WHEN class_size < 6 THEN class_size
        |    ELSE 0 END), 0) AS BIGINT) AS rows_at_risk
        |FROM (SELECT COUNT(*) AS class_size,
        |        COUNT(DISTINCT c_acctbal) AS l_div
        |      FROM customer GROUP BY c_nationkey, c_mktsegment)""".stripMargin,

    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  ROUND(SUM(l_quantity), 2) AS sum_qty,
        |  ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
        |  ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  ROUND(AVG(l_discount), 4) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '2000-06-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_daily_store_metrics" ->
      """WITH o AS (
        |  SELECT o_custkey % 10 AS store_id, CAST(o_orderdate AS DATE) AS dt,
        |    ROUND(SUM(o_totalprice), 2) AS revenue,
        |    COUNT(*) AS order_count,
        |    COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS fulfilled_orders
        |  FROM orders GROUP BY 1, 2),
        |e AS (
        |  SELECT user_id % 10 AS store_id, CAST(ts AS DATE) AS dt,
        |    COUNT(*) AS sessions, COUNT(DISTINCT user_id) AS visitors
        |  FROM events GROUP BY 1, 2)
        |SELECT store_id, dt,
        |  COALESCE(revenue, 0) AS revenue,
        |  COALESCE(order_count, 0) AS order_count,
        |  COALESCE(fulfilled_orders, 0) AS fulfilled_orders,
        |  COALESCE(sessions, 0) AS sessions,
        |  COALESCE(visitors, 0) AS visitors
        |FROM o FULL JOIN e USING (store_id, dt)
        |ORDER BY store_id, dt""".stripMargin,

    "q03_top_orders" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS dt, revenue
        |FROM (SELECT l_orderkey,
        |        ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |      FROM lineitem GROUP BY 1) r
        |JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin,

    "q04_region_revenue" ->
      """SELECT r_name,
        |  ROUND(SUM(o_totalprice), 2) AS revenue,
        |  COUNT(*) AS n_orders,
        |  COUNT(DISTINCT o_custkey) AS n_customers
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name
        |ORDER BY r_name""".stripMargin,

    "q05_event_type_stats" ->
      """SELECT event_type,
        |  COUNT(*) AS n_events,
        |  COUNT(*) FILTER (WHERE value > 100.0) AS n_big,
        |  ROUND(SUM(value), 2) AS total_value,
        |  ROUND(AVG(value), 2) AS avg_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q06_window_rank" ->
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS dt,
        |    ROUND(o_totalprice, 2) AS order_value,
        |    ROW_NUMBER() OVER w AS rn,
        |    ROUND(SUM(ROUND(o_totalprice, 2)) OVER
        |      (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_value
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY CAST(o_orderdate AS DATE), o_orderkey))
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,

    "q07_setops" ->
      """WITH building AS (
        |  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
        |big AS (
        |  SELECT o_custkey AS custkey FROM orders
        |  GROUP BY 1 HAVING SUM(o_totalprice) > 3000000.0)
        |SELECT custkey, 'building_big' AS tag
        |FROM (SELECT custkey FROM building INTERSECT SELECT custkey FROM big)
        |UNION ALL
        |SELECT custkey, 'building_small' AS tag
        |FROM (SELECT custkey FROM building EXCEPT SELECT custkey FROM big)
        |ORDER BY tag, custkey""".stripMargin,

    "q08_daily_users" ->
      """SELECT CAST(ts AS DATE) AS dt, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY dt""".stripMargin,

    // histogram-midpoint estimates are spec-derived, not engine data;
    // the oracle pins exact DISCRETE percentiles (row_number rank —
    // convention-identical across engines) and the half-bin bits
    "q97_mv_percentiles" ->
      """WITH e AS (
        |  SELECT CAST(ts AS DATE) AS dt, value,
        |    row_number() OVER (PARTITION BY CAST(ts AS DATE) ORDER BY value) AS rn,
        |    count(*) OVER (PARTITION BY CAST(ts AS DATE)) AS n
        |  FROM events),
        |p50 AS (SELECT dt, ROUND(value, 4) AS p50_exact, n FROM e
        |        WHERE rn = CAST(CEIL(0.5 * n) AS BIGINT)),
        |p95 AS (SELECT dt, ROUND(value, 4) AS p95_exact FROM e
        |        WHERE rn = CAST(CEIL(0.95 * n) AS BIGINT))
        |SELECT p50.dt, CAST(p50.n AS BIGINT) AS n_events,
        |  p50_exact, p95_exact,
        |  CAST(1 AS INT) AS p50_ok, CAST(1 AS INT) AS p95_ok
        |FROM p50 JOIN p95 USING (dt) ORDER BY dt""".stripMargin,

    // the HLL estimate itself is engine-specific (DataSketches); the
    // oracle pins the exact counts and the within-5% contract bit
    "q94_mv_approx_users" ->
      """SELECT CAST(ts AS DATE) AS dt, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users, CAST(1 AS INT) AS approx_ok
        |FROM events GROUP BY 1 ORDER BY dt""".stripMargin,

    "q09_json_props" ->
      """SELECT event_type, COUNT(k) AS n, CAST(SUM(k) AS BIGINT) AS sum_k,
        |  ROUND(AVG(k), 2) AS avg_k
        |FROM (SELECT event_type, CAST(props->>'k' AS INTEGER) AS k FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q10_merge_upsert" ->
      """WITH base AS (
        |  SELECT o_custkey % 10 AS store_id, CAST(o_orderdate AS DATE) AS dt,
        |    ROUND(SUM(o_totalprice), 2) AS revenue, COUNT(*) AS order_count,
        |    COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS fulfilled_orders
        |  FROM orders GROUP BY 1, 2),
        |tgt AS (SELECT * FROM base WHERE dt < DATE '2000-01-01'),
        |upd AS (SELECT * FROM base WHERE dt >= DATE '1999-12-25')
        |SELECT * FROM (
        |  SELECT * FROM tgt t
        |  WHERE NOT EXISTS (SELECT 1 FROM upd u
        |                    WHERE u.store_id = t.store_id AND u.dt = t.dt)
        |  UNION ALL SELECT * FROM upd)
        |ORDER BY store_id, dt""".stripMargin,

    "q11_staging_orders" ->
      """SELECT o_orderkey AS order_id, o_custkey AS customer_id,
        |  o_orderstatus AS status, ROUND(o_totalprice, 2) AS order_value,
        |  CAST(o_orderdate AS DATE) AS dt,
        |  split_part(o_orderpriority, '-', 1) AS priority_code
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
        |ORDER BY order_id""".stripMargin,

    "q12_expectations" ->
      """SELECT * FROM (
        |  SELECT 'columns_ordered' AS check_name, CAST(0 AS BIGINT) AS violations
        |  UNION ALL
        |  SELECT 'o_orderkey_not_null',
        |    COUNT(*) FILTER (WHERE o_orderkey IS NULL) FROM orders
        |  UNION ALL
        |  SELECT 'o_totalprice_min',
        |    COUNT(*) FILTER (WHERE o_totalprice < 0.0) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus_regex',
        |    COUNT(*) FILTER (WHERE NOT regexp_matches(CAST(o_orderstatus AS VARCHAR), '^[A-Z]'))
        |    FROM orders)
        |ORDER BY check_name""".stripMargin,

    "q13_stream_daily" ->
      """SELECT CAST(ts AS DATE) AS dt, event_type, COUNT(*) AS n_events,
        |  ROUND(SUM(value), 2) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY dt, event_type""".stripMargin,

    "q56_stream_enriched" ->
      """SELECT CAST(ts AS DATE) AS dt, c_mktsegment AS segment,
        |  COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY dt, segment""".stripMargin,

    "q69_user_profiles" ->
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  ROUND(SUM(value), 2) AS total_value, MAX(ts) AS last_ts
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q63_stream_attribution" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        |ORDER BY click_id, purchase_id""".stripMargin,

    "q50_stream_append" ->
      """WITH mx AS (SELECT MAX(ts) AS m FROM events),
        |agg AS (
        |  SELECT CAST(ts AS DATE) AS dt, event_type, COUNT(*) AS n_events,
        |    ROUND(SUM(value), 2) AS total_value
        |  FROM events GROUP BY 1, 2)
        |SELECT a.dt, a.event_type, a.n_events, a.total_value
        |FROM agg a, mx
        |WHERE CAST(a.dt AS TIMESTAMP) + INTERVAL 1 DAY <= mx.m - INTERVAL 7 DAY
        |ORDER BY dt, event_type""".stripMargin,

    "q14_dedup_exact" ->
      """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
        |FROM documents WHERE text IS NOT NULL
        |GROUP BY text ORDER BY doc_id""".stripMargin,

    "q15_text_stats" ->
      """WITH t AS (
        |  SELECT doc_id, str_split_regex(trim(text), '\s+') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_tok_len,
        |    CAST(list_sum(list_transform(toks, x -> CASE WHEN x IN
        |      ('the','a','of','and','to','in','is','on') THEN 1 ELSE 0 END))
        |      AS BIGINT) AS stop_hits,
        |    CAST(list_sum(list_transform(toks, x -> CASE WHEN x IN
        |      ('the','a','of','and','to','in','is','on',
        |       'der','die','das','und','ist','nicht','ein','zu',
        |       'el','la','de','que','y','en','un','es',
        |       'le','et','les','des','est','une') THEN 1 ELSE 0 END))
        |      AS BIGINT) AS stop_all
        |  FROM t)
        |SELECT doc_id, n_tokens, sum_tok_len, stop_hits,
        |  ROUND(CAST(sum_tok_len AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4) AS mean_tok_len,
        |  ROUND(
        |    LEAST(CAST(n_tokens AS DOUBLE) / 16.0, 1.0) * 0.4 +
        |    (CASE WHEN CAST(sum_tok_len AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |          BETWEEN 2.0 AND 9.0 THEN 1.0 ELSE 0.5 END) * 0.4 +
        |    LEAST(CAST(stop_all AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 4.0, 1.0) * 0.2,
        |  4) AS quality
        |FROM s ORDER BY doc_id""".stripMargin,

    "q16_lang_id" ->
      """WITH t AS (
        |  SELECT doc_id, str_split_regex(trim(text), '\s+') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(toks, x -> CASE WHEN x IN
        |      ('the','a','of','and','to','in','is','on') THEN 1 ELSE 0 END)) AS BIGINT) AS s_en,
        |    CAST(list_sum(list_transform(toks, x -> CASE WHEN x IN
        |      ('der','die','das','und','ist','nicht','ein','zu') THEN 1 ELSE 0 END)) AS BIGINT) AS s_de,
        |    CAST(list_sum(list_transform(toks, x -> CASE WHEN x IN
        |      ('el','la','de','que','y','en','un','es') THEN 1 ELSE 0 END)) AS BIGINT) AS s_es,
        |    CAST(list_sum(list_transform(toks, x -> CASE WHEN x IN
        |      ('le','la','et','les','des','est','un','une') THEN 1 ELSE 0 END)) AS BIGINT) AS s_fr
        |  FROM t)
        |SELECT doc_id, s_en, s_de, s_es, s_fr,
        |  CASE WHEN GREATEST(s_en, s_de, s_es, s_fr) <= 0 THEN 'und'
        |       WHEN s_en = GREATEST(s_en, s_de, s_es, s_fr) THEN 'en'
        |       WHEN s_de = GREATEST(s_en, s_de, s_es, s_fr) THEN 'de'
        |       WHEN s_es = GREATEST(s_en, s_de, s_es, s_fr) THEN 'es'
        |       ELSE 'fr' END AS lang_pred
        |FROM s ORDER BY doc_id""".stripMargin,

    "q19_ngram_jaccard" ->
      """WITH d AS (
        |  SELECT doc_id, str_split_regex(trim(text), '\s+') AS toks
        |  FROM documents WHERE doc_id < 200),
        |s AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh
        |  FROM d)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 4) AS jaccard
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 4) >= 0.2
        |ORDER BY id_a, id_b""".stripMargin,

    "q20_embedding_topk" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT * FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    ROUND(list_cosine_similarity(q.v, c.v), 6) AS cos_sim,
        |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |      ORDER BY ROUND(list_cosine_similarity(q.v, c.v), 6) DESC, c.vec_id)
        |      AS rank
        |  FROM e q JOIN e c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 8)
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q26_asof_join" ->
      """WITH p AS (
        |  SELECT event_id, user_id, ts, ROUND(value, 2) AS purchase_value
        |  FROM events WHERE event_type = 'purchase'),
        |e AS (
        |  SELECT user_id, ts, ROUND(MAX(value), 2) AS err_value
        |  FROM events WHERE event_type = 'error' GROUP BY user_id, ts)
        |SELECT p.event_id, p.user_id, p.purchase_value, e.err_value
        |FROM p ASOF JOIN e ON p.user_id = e.user_id AND p.ts >= e.ts
        |ORDER BY p.event_id""".stripMargin,

    "q27_rollup" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |  COALESCE(o_orderpriority, 'ALL') AS priority,
        |  ROUND(SUM(o_totalprice), 2) AS revenue,
        |  COUNT(*) AS n_orders,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
        |FROM orders
        |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY gid, status, priority""".stripMargin,

    "q28_rolling_revenue" ->
      """WITH d AS (
        |  SELECT o_custkey % 10 AS store_id, CAST(o_orderdate AS DATE) AS dt,
        |    ROUND(SUM(o_totalprice), 2) AS revenue
        |  FROM orders GROUP BY 1, 2)
        |SELECT store_id, dt, revenue,
        |  ROUND(SUM(revenue) OVER (
        |    PARTITION BY store_id ORDER BY (dt - DATE '1970-01-01')
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS rolling_7d
        |FROM d ORDER BY store_id, dt""".stripMargin,

    "q29_percentiles" ->
      """SELECT event_type,
        |  ROUND(quantile_cont(value, 0.5), 4) AS p50,
        |  ROUND(quantile_cont(value, 0.9), 4) AS p90
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // estimates are engine-specific; the oracle pins exact counts and
    // the accuracy-contract bits (q25: 5% HLL rsd; q52: rank error ≤
    // n/accuracy + tie slack)
    "q25_approx_users" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
        |  CAST(1 AS INT) AS approx_ok
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q52_approx_percentiles" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(1 AS INT) AS p50_rank_ok, CAST(1 AS INT) AS p90_rank_ok
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q68_cms_counts" ->
      """WITH toks AS (
        |  SELECT unnest(str_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens FROM toks),
        |c AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS exact_count
        |      FROM toks
        |      WHERE term IN ('stream', 'merge', 'batch', 'zzz_absent')
        |      GROUP BY term)
        |SELECT t.term, COALESCE(c.exact_count, 0) AS exact_count,
        |  tot.n_tokens, CAST(1 AS INT) AS cms_ok
        |FROM (VALUES ('batch'), ('merge'), ('stream'), ('zzz_absent'))
        |  AS t(term)
        |LEFT JOIN c ON c.term = t.term CROSS JOIN tot
        |ORDER BY t.term""".stripMargin,

    "q30_topk_per_store" ->
      """SELECT * FROM (
        |  SELECT o_custkey % 10 AS store_id, o_orderkey,
        |    ROUND(o_totalprice, 2) AS order_value,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey % 10
        |      ORDER BY ROUND(o_totalprice, 2) DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY store_id, rn""".stripMargin,

    "q31_order_gaps" ->
      """SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS dt,
        |  date_diff('day',
        |    LAG(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
        |      ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
        |    CAST(o_orderdate AS DATE)) AS days_since_prev
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q51_session_window" ->
      """WITH e AS (
        |  SELECT user_id, value, epoch_ns(ts) // 1000 AS us FROM events),
        |flagged AS (
        |  SELECT user_id, value, us,
        |    CASE WHEN LAG(us) OVER w IS NULL
        |              OR us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0
        |    END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |sessions AS (
        |  SELECT user_id, value, us,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT user_id,
        |  make_timestamp(MIN(us)) AS session_start,
        |  make_timestamp(MAX(us) + 1800000000) AS session_end,
        |  COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
        |FROM sessions GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "q32_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, value, epoch_ns(ts) // 1000 AS us FROM events),
        |flagged AS (
        |  SELECT user_id, value, us,
        |    CASE WHEN LAG(us) OVER w IS NULL
        |              OR us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0
        |    END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |sessions AS (
        |  SELECT user_id, value, us,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  COUNT(*) AS n_events,
        |  MAX(us) - MIN(us) AS duration_us,
        |  ROUND(SUM(value), 2) AS total_value
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    // asOf pinned to 2024-01-31 18:00 (events span Jan 2024, so ~18 h
    // since max(ts) → deterministic 'warn'). floor(epoch(...)) mirrors
    // Spark's unix_timestamp second-truncation; comparisons use the
    // UNROUNDED hours like freshnessStatus does.
    "q33_freshness" ->
      """WITH f AS (
        |  SELECT (epoch(TIMESTAMP '2024-01-31 18:00:00')
        |          - floor(epoch(max(ts)))) / 3600.0 AS h,
        |         max(ts) AS mx FROM events)
        |SELECT round(h, 4) AS hours_since_load,
        |  CASE WHEN mx IS NULL THEN 'error'
        |       WHEN h > 24 THEN 'error'
        |       WHEN h > 12 THEN 'warn'
        |       ELSE 'pass' END AS status
        |FROM f""".stripMargin,

    "q43_salted_join" ->
      """SELECT s_name, COUNT(*) AS n_items
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY s_name""".stripMargin,

    "q53_grouping_sets" ->
      """SELECT COALESCE(CAST(dt AS VARCHAR), 'ALL') AS dt,
        |  COALESCE(event_type, 'ALL') AS event_type,
        |  COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value,
        |  CAST(GROUPING(dt, event_type) AS BIGINT) AS gid
        |FROM (SELECT CAST(ts AS DATE) AS dt, event_type, value FROM events)
        |WHERE dt < DATE '2024-01-04'
        |GROUP BY GROUPING SETS ((dt), (event_type), ())
        |ORDER BY gid, dt, event_type""".stripMargin,

    "q44_cube" ->
      """SELECT COALESCE(CAST(dt AS VARCHAR), 'ALL') AS dt,
        |  COALESCE(event_type, 'ALL') AS event_type,
        |  COUNT(*) AS n, ROUND(SUM(value), 2) AS total,
        |  CAST(GROUPING(dt, event_type) AS BIGINT) AS gid
        |FROM (SELECT CAST(ts AS DATE) AS dt, event_type, value FROM events)
        |WHERE dt < DATE '2024-01-04'
        |GROUP BY CUBE(dt, event_type)
        |ORDER BY gid, dt, event_type""".stripMargin,

    "q41_string_funcs" ->
      """SELECT c_custkey,
        |  UPPER(c_name) AS name_upper,
        |  CAST(LENGTH(c_name) AS BIGINT) AS name_len,
        |  SUBSTRING(c_name, 1, 8) AS name_prefix,
        |  concat_ws('/', c_mktsegment, c_name) AS seg_name,
        |  CAST(levenshtein(c_name, 'Customer#000000001') AS BIGINT) AS edit_dist
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q42_monthly_revenue" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |  ROUND(SUM(o_totalprice), 2) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin,

    "q40_stream_dedup" ->
      """SELECT event_type, COUNT(DISTINCT event_id) AS n_unique_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q36_range_join" ->
      """SELECT p_partkey, n_nationkey AS band_id,
        |  ROUND(p_retailprice, 2) AS price
        |FROM part JOIN nation
        |  ON p_retailprice >= n_nationkey * 80.0
        | AND p_retailprice <= n_nationkey * 80.0 + 160.0
        |ORDER BY p_partkey, band_id""".stripMargin,

    "q37_pivot" ->
      """SELECT o_orderpriority,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q38_unpivot" ->
      """WITH d AS (
        |  SELECT o_custkey % 10 AS store_id, CAST(o_orderdate AS DATE) AS dt,
        |    ROUND(SUM(o_totalprice), 2) AS revenue,
        |    CAST(COUNT(*) AS DOUBLE) AS order_count
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
        |  GROUP BY 1, 2)
        |SELECT store_id, dt, 'revenue' AS metric, revenue AS value FROM d
        |UNION ALL
        |SELECT store_id, dt, 'order_count' AS metric, order_count AS value FROM d
        |ORDER BY store_id, dt, metric""".stripMargin,

    "q47_bpe_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '''(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'))
        |    AS BIGINT) AS n_bpe,
        |  CAST(len(str_split_regex(trim(text), '\s+')) AS BIGINT) AS n_ws
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q39_token_freq" ->
      """SELECT token, COUNT(*) AS cnt
        |FROM (SELECT unnest(str_split_regex(trim(text), '\s+')) AS token
        |      FROM documents)
        |WHERE length(token) > 2
        |GROUP BY token
        |ORDER BY cnt DESC, token
        |LIMIT 20""".stripMargin,

    "q35_semi_anti" ->
      """WITH big AS (
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)
        |SELECT c_custkey, 'has_big_order' AS tag FROM customer
        |WHERE EXISTS (SELECT 1 FROM big WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, 'no_big_order' AS tag FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM big WHERE o_custkey = c_custkey)
        |ORDER BY tag, c_custkey""".stripMargin,

    "q34_corpus_clean" ->
      """WITH t AS (
        |  SELECT doc_id, text, str_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, text,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_tok_len,
        |    CAST(list_sum(list_transform(toks, x -> CASE WHEN x IN
        |      ('the','a','of','and','to','in','is','on',
        |       'der','die','das','und','ist','nicht','ein','zu',
        |       'el','la','de','que','y','en','un','es',
        |       'le','et','les','des','est','une') THEN 1 ELSE 0 END))
        |      AS BIGINT) AS stop_all,
        |    CAST(list_sum(list_transform(toks, x -> CASE WHEN x IN
        |      ('the','a','of','and','to','in','is','on') THEN 1 ELSE 0 END)) AS BIGINT) AS s_en,
        |    CAST(list_sum(list_transform(toks, x -> CASE WHEN x IN
        |      ('der','die','das','und','ist','nicht','ein','zu') THEN 1 ELSE 0 END)) AS BIGINT) AS s_de,
        |    CAST(list_sum(list_transform(toks, x -> CASE WHEN x IN
        |      ('el','la','de','que','y','en','un','es') THEN 1 ELSE 0 END)) AS BIGINT) AS s_es,
        |    CAST(list_sum(list_transform(toks, x -> CASE WHEN x IN
        |      ('le','la','et','les','des','est','un','une') THEN 1 ELSE 0 END)) AS BIGINT) AS s_fr
        |  FROM t),
        |scored AS (
        |  SELECT doc_id, text, n_tokens,
        |    ROUND(
        |      LEAST(CAST(n_tokens AS DOUBLE) / 16.0, 1.0) * 0.4 +
        |      (CASE WHEN CAST(sum_tok_len AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |            BETWEEN 2.0 AND 9.0 THEN 1.0 ELSE 0.5 END) * 0.4 +
        |      LEAST(CAST(stop_all AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 4.0, 1.0) * 0.2,
        |    4) AS quality,
        |    CASE WHEN GREATEST(s_en, s_de, s_es, s_fr) <= 0 THEN 'und'
        |         WHEN s_en = GREATEST(s_en, s_de, s_es, s_fr) THEN 'en'
        |         WHEN s_de = GREATEST(s_en, s_de, s_es, s_fr) THEN 'de'
        |         WHEN s_es = GREATEST(s_en, s_de, s_es, s_fr) THEN 'es'
        |         ELSE 'fr' END AS lang_pred
        |  FROM s)
        |SELECT doc_id, n_tokens, quality, lang_pred
        |FROM scored
        |WHERE quality >= 0.5
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,

    "q22_embedding_neardup" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 500)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    "q64_seq_packing" ->
      """WITH t AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |         len(str_split_regex(trim(text), '\s+')) AS nt
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, shard, nt,
        |    COALESCE(SUM(nt) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM t WHERE nt >= 1)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
        |  CAST(cum // 1024 AS BIGINT) AS seq_id,
        |  CAST(cum % 1024 AS BIGINT) AS token_offset,
        |  CAST(nt AS BIGINT) AS n_tokens
        |FROM c ORDER BY doc_id""".stripMargin,

    "q62_snapshot_diff" ->
      """WITH b AS (
        |  SELECT o_orderkey, ROUND(o_totalprice, 2) AS price,
        |         o_orderstatus AS status
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
        |a AS (
        |  SELECT o_orderkey,
        |    ROUND(o_totalprice *
        |      CASE WHEN o_orderkey % 7 = 0 THEN 1.1 ELSE 1.0 END, 2) AS price,
        |    o_orderstatus AS status
        |  FROM orders
        |  WHERE o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
        |    AND o_orderkey % 13 <> 0),
        |d AS (
        |  SELECT o_orderkey,
        |    CASE WHEN b.o_orderkey IS NULL THEN 'added'
        |         WHEN a.o_orderkey IS NULL THEN 'removed'
        |         WHEN (a.price IS DISTINCT FROM b.price)
        |           OR (a.status IS DISTINCT FROM b.status) THEN 'changed'
        |         END AS change_type
        |  FROM b FULL JOIN a USING (o_orderkey))
        |SELECT o_orderkey, change_type FROM d
        |WHERE change_type IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin,

    "q60_stratified_sample" ->
      """SELECT doc_id, lang, source, sample_rank FROM (
        |  SELECT doc_id, lang, source,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang, source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
        |      AS sample_rank
        |  FROM documents) t
        |WHERE sample_rank <= 5
        |ORDER BY lang, source, sample_rank""".stripMargin,

    "q66_mix_report" ->
      """WITH ranked AS (
        |  SELECT lang, source,
        |    ROW_NUMBER() OVER (PARTITION BY lang, source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents),
        |tot AS (SELECT lang, source, COUNT(*) AS n_total
        |        FROM documents GROUP BY 1, 2),
        |sam AS (SELECT lang, source, COUNT(*) AS n_sampled
        |        FROM ranked WHERE rn <= 5 GROUP BY 1, 2)
        |SELECT lang, source, n_total, n_sampled
        |FROM tot JOIN sam USING (lang, source)
        |ORDER BY lang, source""".stripMargin,

    "q67_tfidf" ->
      """WITH ft AS (
        |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(str_split_regex(trim(text), '\s+')) AS term
        |        FROM documents)
        |  WHERE term IN ('stream', 'merge', 'batch')
        |  GROUP BY 1, 2),
        |dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM ft GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
        |  ROUND(tf * ln(n_docs / df), 4) AS tf_idf
        |FROM ft JOIN dfs USING (term) CROSS JOIN n
        |ORDER BY doc_id, term""".stripMargin,

    "q61_chunking" ->
      """WITH t AS (
        |  SELECT doc_id, str_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |s AS (SELECT doc_id, toks, len(toks) AS nt FROM t WHERE len(toks) >= 1),
        |c AS (
        |  SELECT doc_id, nt, toks,
        |         unnest(generate_series(0, nt - 1, 24)) AS token_start
        |  FROM s)
        |SELECT doc_id,
        |  CAST(token_start // 24 AS BIGINT) AS chunk_idx,
        |  CAST(token_start AS BIGINT) AS token_start,
        |  CAST(least(32, nt - token_start) AS BIGINT) AS chunk_tokens,
        |  array_to_string(list_slice(toks, token_start + 1,
        |    token_start + least(32, nt - token_start)), ' ') AS chunk_text
        |FROM c
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "q59_bm25_search" ->
      """WITH toks AS (
        |  SELECT doc_id, len(str_split_regex(trim(text), '\s+')) AS dl,
        |         unnest(str_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |ft AS (
        |  SELECT doc_id, term, CAST(dl AS DOUBLE) AS dl,
        |         CAST(count(*) AS DOUBLE) AS tf
        |  FROM toks WHERE term IN ('stream', 'merge', 'batch')
        |  GROUP BY 1, 2, 3),
        |dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM ft GROUP BY 1),
        |stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |         avg(len(str_split_regex(trim(text), '\s+'))) AS avgdl
        |  FROM documents)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
        |  ROUND(SUM(
        |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * (1.2 + 1.0)
        |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4) AS bm25
        |FROM ft JOIN dfs USING (term) CROSS JOIN stats
        |GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id
        |LIMIT 20""".stripMargin,

    // Connected components as a recursive CTE: labels propagate only
    // downward (r.label < e.u), which preserves the component min —
    // the min m reaches every member along some path, and m < every
    // intermediate node on it.
    "q55_dup_clusters" ->
      """WITH RECURSIVE rawpairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM documents a JOIN documents b
        |    ON substr(a.text, 1, 40) = substr(b.text, 1, 40)
        |   AND a.doc_id < b.doc_id
        |  UNION ALL
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM documents a JOIN documents b
        |    ON substr(a.text, greatest(1, length(a.text) - 39), 40)
        |     = substr(b.text, greatest(1, length(b.text) - 39), 40)
        |   AND a.doc_id < b.doc_id
        |),
        |-- DISTINCT as its own step: inside WITH RECURSIVE, DuckDB does
        |-- not dedup a plain UNION in a non-recursive CTE (suffix pairs
        |-- that are also prefix pairs survive and inflate counts).
        |pairs AS (SELECT DISTINCT id_a, id_b FROM rawpairs),
        |edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION
        |  SELECT id_b AS u, id_a AS v FROM pairs
        |),
        |reach AS (
        |  SELECT doc_id AS u, doc_id AS label FROM documents
        |  UNION
        |  SELECT e.u, r.label FROM edges e JOIN reach r ON r.u = e.v
        |  WHERE r.label < e.u
        |),
        |lab AS (SELECT u AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY u)
        |SELECT doc_id, cluster_id,
        |  CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
        |FROM lab ORDER BY doc_id""".stripMargin,

    // Chained rewrites: each rule counts hits on the text as the
    // previous rules left it, mirroring the Spark fold.
    "q70_pii_redact" ->
      """WITH r0 AS (SELECT doc_id, text AS t0 FROM documents),
        |r1 AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(t0,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  regexp_replace(t0,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
        |  FROM r0),
        |r2 AS (SELECT doc_id, n_email,
        |  CAST(len(regexp_extract_all(t1,
        |    '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b')) AS BIGINT) AS n_phone,
        |  regexp_replace(t1,
        |    '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '<PHONE>', 'g') AS t2
        |  FROM r1),
        |r3 AS (SELECT doc_id, n_email, n_phone,
        |  CAST(len(regexp_extract_all(t2,
        |    '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
        |  regexp_replace(t2,
        |    '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS t3
        |  FROM r2),
        |r4 AS (SELECT doc_id, n_email, n_phone, n_ipv4,
        |  CAST(len(regexp_extract_all(t3, '\b(customer|value)\b')) AS BIGINT) AS n_term,
        |  regexp_replace(t3, '\b(customer|value)\b', '<TERM>', 'g') AS redacted
        |  FROM r3)
        |SELECT doc_id, n_email, n_phone, n_term,
        |  n_email + n_phone + n_ipv4 + n_term AS n_redacted, redacted
        |FROM r4 ORDER BY doc_id""".stripMargin,

    "q71_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, str_split_regex(trim(text), '\s+') AS t FROM documents),
        |base AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct, t
        |  FROM toks),
        |grams AS (
        |  SELECT doc_id, n_tokens, n_distinct,
        |    unnest(list_transform(range(1, len(t)),
        |      i -> t[i] || ' ' || t[i + 1])) AS gram
        |  FROM base),
        |counted AS (
        |  SELECT doc_id, n_tokens, n_distinct, gram, count(*) AS gram_n
        |  FROM grams GROUP BY 1, 2, 3, 4),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY gram_n DESC, gram) AS rk
        |  FROM counted)
        |SELECT doc_id, n_tokens, n_distinct,
        |  ROUND(CAST(n_distinct AS DOUBLE) / n_tokens, 4) AS distinct_ratio,
        |  gram AS top_bigram, CAST(gram_n AS BIGINT) AS top_bigram_n,
        |  ROUND(CAST(gram_n AS DOUBLE) / (n_tokens - 1), 4) AS top_bigram_frac
        |FROM ranked WHERE rk = 1 ORDER BY doc_id""".stripMargin,

    "q72_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, str_split_regex(trim(text), '\s+') AS t FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 2),
        |      i -> array_to_string(t[i:i+3], ' '))) AS gram
        |    FROM toks WHERE len(t) >= 4)),
        |corpus AS (SELECT * FROM grams WHERE doc_id % 41 != 0),
        |bench AS (SELECT doc_id AS bench_id, gram FROM grams WHERE doc_id % 41 = 0)
        |SELECT c.doc_id,
        |  CAST(count(DISTINCT c.gram) AS BIGINT) AS n_shared_grams,
        |  CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
        |FROM corpus c JOIN bench b ON c.gram = b.gram
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,

    // q51's islands query + the append-mode emission cutoff: only
    // sessions the final watermark (max ts − 7 days) finalized emit.
    "q73_stream_sessions" ->
      """WITH mx AS (SELECT MAX(ts) AS m FROM events),
        |e AS (
        |  SELECT user_id, value, epoch_ns(ts) // 1000 AS us FROM events),
        |flagged AS (
        |  SELECT user_id, value, us,
        |    CASE WHEN LAG(us) OVER w IS NULL
        |              OR us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0
        |    END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |sessions AS (
        |  SELECT user_id, value, us,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged),
        |agg AS (
        |  SELECT user_id,
        |    make_timestamp(MIN(us)) AS session_start,
        |    make_timestamp(MAX(us) + 1800000000) AS session_end,
        |    COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
        |  FROM sessions GROUP BY user_id, sid)
        |SELECT a.user_id, a.session_start, a.session_end,
        |  a.n_events, a.total_value
        |FROM agg a, mx
        |WHERE a.session_end <= mx.m - INTERVAL 7 DAY
        |ORDER BY user_id, session_start""".stripMargin,

    // generate_series(1, 0) is empty in DuckDB, so weight-0 rows drop
    // without an explicit filter (Spark needs one: sequence(1, 0) is
    // the descending [1, 0]).
    "q74_mixture_upsample" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    CASE source WHEN 'src0' THEN 3 WHEN 'src1' THEN 0
        |                WHEN 'src2' THEN 2 ELSE 1 END AS wt
        |  FROM documents)
        |SELECT doc_id, source,
        |  CAST(unnest(generate_series(1, wt)) AS BIGINT) AS epoch
        |FROM w ORDER BY doc_id, epoch""".stripMargin,

    // ASCII corpus: per-char == per-byte histogram, so the exploded
    // char formulation oracles the native byte-wise expression.
    "q78_entropy" ->
      """WITH cnt AS (
        |  SELECT doc_id, c, CAST(count(*) AS DOUBLE) AS k FROM (
        |    SELECT doc_id, unnest(string_split(text, '')) AS c
        |    FROM documents)
        |  GROUP BY 1, 2),
        |tot AS (SELECT doc_id, SUM(k) AS n FROM cnt GROUP BY 1)
        |SELECT c.doc_id, CAST(t.n AS BIGINT) AS n_bytes,
        |  ROUND(-SUM((c.k / t.n) * log2(c.k / t.n)), 4) AS entropy
        |FROM cnt c JOIN tot t USING (doc_id)
        |GROUP BY c.doc_id, t.n
        |ORDER BY doc_id""".stripMargin,

    "q77_curation_pipeline" ->
      """WITH red AS (
        |  SELECT doc_id,
        |    regexp_replace(text, '\b(customer|value)\b', '<TERM>', 'g') AS redacted
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, redacted,
        |    str_split_regex(trim(redacted), '\s+') AS t FROM red),
        |met AS (
        |  SELECT doc_id, redacted, CAST(len(t) AS BIGINT) AS n_tokens,
        |    ROUND(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 4)
        |      AS distinct_ratio
        |  FROM toks WHERE len(t) >= 2),
        |kept AS (SELECT * FROM met WHERE distinct_ratio >= 0.35),
        |ded AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY substr(redacted, 1, 40)
        |    ORDER BY doc_id) AS rk
        |  FROM kept)
        |SELECT doc_id,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666'
        |         THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'f851eb85'
        |         THEN 'val'
        |       ELSE 'test' END AS split,
        |  n_tokens, distinct_ratio
        |FROM ded WHERE rk = 1 ORDER BY doc_id""".stripMargin,

    // the MV finalize must equal a from-scratch aggregate — the
    // incremental bookkeeping is invisible to the result
    "q85_incremental_mv" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
        |  ROUND(SUM(l_quantity), 2) AS sum_qty,
        |  ROUND(SUM(l_extendedprice), 2) AS sum_price,
        |  CAST(MAX(l_shipdate) AS DATE) AS last_ship
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // gram identity travels as xxhash64 on the Spark side; equality of
    // the report proves the hash introduced no collisions at this SF
    "q91_repeated_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, str_split_regex(trim(text), '\s+') AS t FROM documents),
        |wins AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t) - 8 + 2),
        |      i -> struct_pack(s := i, g := array_to_string(t[i:i+7], ' ')))) AS w_
        |  FROM toks WHERE len(t) >= 8),
        |w2 AS (SELECT doc_id, w_.s AS start, w_.g AS gram FROM wins),
        |rep AS (SELECT gram FROM w2 GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        |rw AS (SELECT w2.doc_id, w2.start FROM w2 JOIN rep USING (gram)),
        |cov AS (
        |  SELECT doc_id, CAST(count(DISTINCT pos) AS BIGINT) AS covered_tokens,
        |         CAST(count(DISTINCT start) AS BIGINT) AS n_repeated_windows
        |  FROM (SELECT doc_id, start, unnest(range(start, start + 8)) AS pos FROM rw)
        |  GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
        |  CAST(greatest(len(t.t) - 7, 0) AS BIGINT) AS n_windows,
        |  COALESCE(c.n_repeated_windows, 0) AS n_repeated_windows,
        |  COALESCE(c.covered_tokens, 0) AS covered_tokens,
        |  ROUND(COALESCE(c.covered_tokens, 0) * 1.0 / greatest(len(t.t), 1), 4)
        |    AS repeated_fraction
        |FROM toks t LEFT JOIN cov c USING (doc_id) ORDER BY doc_id""".stripMargin,

    // same window/gram identity as q91; witness = first occurrence by
    // (doc, start); a position is removed iff under a non-witness
    // occurrence and no witness occurrence; DuckDB list lambdas take a
    // 1-based index, matching the 1-based window positions
    "q92_span_excision" ->
      """WITH toks AS (
        |  SELECT doc_id, str_split_regex(trim(text), '\s+') AS t FROM documents),
        |wins AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t) - 8 + 2),
        |      i -> struct_pack(s := i, g := array_to_string(t[i:i+7], ' ')))) AS w_
        |  FROM toks WHERE len(t) >= 8),
        |w2 AS (SELECT doc_id, w_.s AS start, w_.g AS gram FROM wins),
        |rep AS (SELECT gram FROM w2 GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        |occ AS (
        |  SELECT w2.doc_id, w2.start,
        |    (row_number() OVER (PARTITION BY w2.gram ORDER BY w2.doc_id, w2.start)) = 1
        |      AS is_wit
        |  FROM w2 JOIN rep USING (gram)),
        |pos AS (
        |  SELECT doc_id, unnest(range(start, start + 8)) AS p, is_wit FROM occ),
        |rm AS (
        |  SELECT doc_id, p FROM pos GROUP BY doc_id, p
        |  HAVING bool_or(NOT is_wit) AND NOT bool_or(is_wit)),
        |rml AS (SELECT doc_id, list(p) AS rm_pos FROM rm GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CAST(len(t.t) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(len(r.rm_pos), 0) AS BIGINT) AS n_removed,
        |  COALESCE(array_to_string(list_filter(t.t,
        |    (x, i) -> NOT COALESCE(list_contains(r.rm_pos, i), FALSE)), ' '), '')
        |    AS cleaned_text
        |FROM toks t LEFT JOIN rml r USING (doc_id) ORDER BY doc_id""".stripMargin,

    // the post-delete snapshot must equal a plain NOT-BETWEEN filter —
    // the file-pruned rewrite is invisible to the result
    "q86_delete" ->
      """SELECT o_orderstatus, COUNT(*) AS cnt,
        |  ROUND(SUM(o_totalprice), 2) AS total
        |FROM orders
        |WHERE NOT (o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
        |                           AND TIMESTAMP '1996-12-31 23:59:59')
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // step 1: append commit ⇒ pure inserts of the appended window;
    // step 2: keyed delete ⇒ pure deletes of the erased key range
    "q87_change_feed" ->
      """WITH base AS (
        |  SELECT o_orderkey, ROUND(o_totalprice, 2) AS price,
        |         o_orderstatus AS status, o_orderdate
        |  FROM orders),
        |s1 AS (
        |  SELECT CAST(1 AS BIGINT) AS step, o_orderkey, price, status,
        |         'insert' AS _change_type, CAST(1 AS BIGINT) AS n
        |  FROM base
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'),
        |s2 AS (
        |  SELECT CAST(2 AS BIGINT) AS step, o_orderkey, price, status,
        |         'delete' AS _change_type, CAST(1 AS BIGINT) AS n
        |  FROM base
        |  WHERE o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
        |    AND o_orderkey BETWEEN 1000 AND 3000)
        |SELECT * FROM s1 UNION ALL SELECT * FROM s2
        |ORDER BY step, o_orderkey, _change_type""".stripMargin,

    "q82_temperature_mix" ->
      """WITH c AS (
        |  SELECT lang, source, count(*) AS n_docs FROM documents GROUP BY 1, 2),
        |t AS (
        |  SELECT lang, source, n_docs,
        |    CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER () AS p,
        |    SUM(n_docs) OVER () AS total
        |  FROM c),
        |z AS (
        |  SELECT *, POWER(p, 0.3) / SUM(POWER(p, 0.3)) OVER () AS q FROM t)
        |SELECT lang, source, n_docs,
        |  ROUND(p, 6) AS p, ROUND(q, 6) AS q,
        |  ROUND(q / p, 4) AS weight,
        |  CAST(ROUND(q * total) AS BIGINT) AS target_n
        |FROM z ORDER BY lang, source""".stripMargin,

    "q83_length_buckets" ->
      """WITH t AS (
        |  SELECT doc_id, len(str_split_regex(trim(text), '\s+')) AS nt
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, nt,
        |    CASE WHEN nt <= 16 THEN 16 WHEN nt <= 32 THEN 32
        |         WHEN nt <= 64 THEN 64 WHEN nt <= 128 THEN 128
        |         WHEN nt <= 256 THEN 256 WHEN nt <= 512 THEN 512
        |         WHEN nt <= 1024 THEN 1024 WHEN nt <= 2048 THEN 2048
        |         WHEN nt <= 4096 THEN 4096 ELSE 8192 END AS bucket
        |  FROM t WHERE nt >= 1)
        |SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_docs,
        |  CAST(SUM(nt) AS BIGINT) AS total_tokens,
        |  CAST(SUM(GREATEST(bucket - nt, 0)) AS BIGINT) AS total_padding,
        |  ROUND(SUM(GREATEST(bucket - nt, 0))
        |    / CAST(count(*) * bucket AS DOUBLE), 4) AS pad_frac
        |FROM e GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q84_hybrid_rrf" ->
      """WITH toks AS (
        |  SELECT doc_id, len(str_split_regex(trim(text), '\s+')) AS dl,
        |         unnest(str_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |ft AS (
        |  SELECT doc_id, term, CAST(dl AS DOUBLE) AS dl,
        |         CAST(count(*) AS DOUBLE) AS tf
        |  FROM toks WHERE term IN ('stream', 'merge', 'batch')
        |  GROUP BY 1, 2, 3),
        |dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM ft GROUP BY 1),
        |stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |         avg(len(str_split_regex(trim(text), '\s+'))) AS avgdl
        |  FROM documents),
        |bm AS (
        |  SELECT doc_id, ROUND(SUM(
        |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * (1.2 + 1.0)
        |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4) AS bm25
        |  FROM ft JOIN dfs USING (term) CROSS JOIN stats
        |  GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 100),
        |lex AS (
        |  SELECT doc_id,
        |    ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
        |  FROM bm),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cos AS (
        |  SELECT c.vec_id AS doc_id,
        |    ROUND(list_cosine_similarity(q.v, c.v), 6) AS cos_sim
        |  FROM e q JOIN e c ON q.vec_id = 0 AND c.vec_id <> 0),
        |sem AS (
        |  SELECT * FROM (
        |    SELECT doc_id,
        |      ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id) AS sem_rank
        |    FROM cos)
        |  WHERE sem_rank <= 100)
        |SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
        |  COALESCE(l.lex_rank, 0) AS lex_rank,
        |  COALESCE(s.sem_rank, 0) AS sem_rank,
        |  ROUND(COALESCE(1.0 / (60 + l.lex_rank), 0)
        |      + COALESCE(1.0 / (60 + s.sem_rank), 0), 6) AS rrf
        |FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
        |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,

    "q81_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id, str_split_regex(trim(text), '\s+') AS t FROM documents),
        |eligible AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) >= 2),
        |big AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        |  FROM (SELECT doc_id, t,
        |          unnest(generate_series(1, n - 1)) AS i FROM eligible)),
        |bc AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY 1, 2),
        |cc AS (SELECT w1, count(*) AS c1 FROM big GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v FROM (
        |  SELECT w1 AS w FROM big UNION ALL SELECT w2 AS w FROM big)),
        |nll AS (
        |  SELECT b.doc_id,
        |    -log2((c12 + 0.4) / (c1 + 0.4 * v.v)) AS nll
        |  FROM big b JOIN bc USING (w1, w2) JOIN cc USING (w1) CROSS JOIN v)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  ROUND(AVG(nll), 4) AS avg_nll,
        |  ROUND(POWER(2, AVG(nll)), 3) AS ppl
        |FROM nll GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // The oracle sees only the scan's filter+agg semantics — that the
    // engine opened 2 of 8 files is asserted in TableStatsSpec.
    "q79_pruned_scan" ->
      """SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS mon,
        |  ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01 00:00:00'
        |  AND TIMESTAMP '1997-12-31 23:59:59'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q76_variant_props" ->
      """SELECT event_type,
        |  COUNT(CAST(json_extract(props, '$.k') AS INTEGER)) AS n,
        |  CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |  CAST(MIN(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS min_k,
        |  CAST(MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // thresholds are the 8-hex-digit prefixes of 0.90·2^32 and
    // 0.97·2^32 — identical constants to Sampling.hashSplit's
    "q75_hash_split" ->
      """SELECT doc_id,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666'
        |         THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'f851eb85'
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q99_point_lookup" ->
      """SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS price
        |FROM orders
        |WHERE o_orderkey IN (
        |  SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0
        |  ORDER BY o_orderkey LIMIT 10)
        |ORDER BY o_orderkey""".stripMargin,

    "q100_stats_profile" ->
      """SELECT COUNT(*) AS n_rows,
        |  COUNT(l_orderkey) AS cnt_l_orderkey,
        |  MIN(l_orderkey) AS min_l_orderkey,
        |  MAX(l_orderkey) AS max_l_orderkey,
        |  COUNT(l_returnflag) AS cnt_l_returnflag,
        |  MIN(l_returnflag) AS min_l_returnflag,
        |  MAX(l_returnflag) AS max_l_returnflag,
        |  COUNT(l_extendedprice) AS cnt_l_extendedprice,
        |  MIN(l_extendedprice) AS min_l_extendedprice,
        |  MAX(l_extendedprice) AS max_l_extendedprice,
        |  (SELECT COUNT(*) FROM lineitem
        |   WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01 00:00:00'
        |     AND TIMESTAMP '1997-12-31 23:59:59') AS cnt_1997
        |FROM lineitem""".stripMargin,

    "q101_constraints" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  ROUND(SUM(ROUND(o_totalprice, 2)), 2) AS total,
        |  TRUE AS rejected_batch
        |FROM orders
        |WHERE o_orderkey % 3 = 0
        |   OR (o_orderkey % 3 = 1 AND o_orderkey % 10 <> 1)
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // string shingles here vs hashed-long shingles in Spark: |∩| and
    // set sizes agree absent a 64-bit collision (same trick as q19)
    "q103_containment" ->
      """WITH d AS (
        |  SELECT doc_id, str_split_regex(trim(text), '\s+') AS toks
        |  FROM documents WHERE doc_id < 500),
        |s AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh
        |  FROM d),
        |sn AS (SELECT * FROM s WHERE len(sh) > 0)
        |SELECT id_a, id_b, containment FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |          CAST(least(len(a.sh), len(b.sh)) AS DOUBLE), 4) AS containment
        |  FROM sn a JOIN sn b ON a.doc_id < b.doc_id)
        |WHERE containment >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    "q104_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
        |SELECT CAST(1 AS INTEGER) AS step, 'view' AS event_type,
        |  (SELECT COUNT(*) FROM s1) AS users
        |UNION ALL SELECT CAST(2 AS INTEGER), 'click', (SELECT COUNT(*) FROM s2)
        |UNION ALL SELECT CAST(3 AS INTEGER), 'purchase', (SELECT COUNT(*) FROM s3)
        |ORDER BY step""".stripMargin,

    // floor(epoch(ts)) mirrors Spark's unix_timestamp second-truncation
    "q105_decayed_mix" ->
      """WITH w AS (
        |  SELECT event_type, value,
        |    pow(0.5, ((epoch(TIMESTAMP '2024-02-01 00:00:00')
        |               - floor(epoch(ts))) / 86400.0) / 7.0) AS dk
        |  FROM events),
        |a AS (
        |  SELECT event_type, COUNT(*) AS n_rows, SUM(dk) AS w,
        |    SUM(dk * value) AS wv
        |  FROM w GROUP BY event_type)
        |SELECT event_type, n_rows, ROUND(w, 4) AS decayed_weight,
        |  ROUND(wv, 4) AS decayed_value,
        |  ROUND(w / (SELECT SUM(w) FROM a), 6) AS decayed_share
        |FROM a ORDER BY event_type""".stripMargin,

    "q106_drift" ->
      """WITH bb AS (
        |  SELECT CAST(floor(o_totalprice / 100000.0) AS BIGINT) AS bucket,
        |    COUNT(*) AS base_n
        |  FROM orders WHERE year(o_orderdate) <= 1997 GROUP BY 1),
        |cc AS (
        |  SELECT CAST(floor(o_totalprice / 100000.0) AS BIGINT) AS bucket,
        |    COUNT(*) AS cur_n
        |  FROM orders WHERE year(o_orderdate) >= 1996 GROUP BY 1),
        |j AS (
        |  SELECT COALESCE(bb.bucket, cc.bucket) AS bucket,
        |    COALESCE(base_n, 0) AS base_n, COALESCE(cur_n, 0) AS cur_n
        |  FROM bb FULL OUTER JOIN cc ON bb.bucket = cc.bucket),
        |p AS (
        |  SELECT bucket, base_n, cur_n,
        |    greatest(base_n / (SELECT CAST(SUM(base_n) AS DOUBLE) FROM j), 1e-6) AS bp,
        |    greatest(cur_n / (SELECT CAST(SUM(cur_n) AS DOUBLE) FROM j), 1e-6) AS cp
        |  FROM j)
        |SELECT bucket, base_n, cur_n,
        |  ROUND(bp, 6) AS base_p, ROUND(cp, 6) AS cur_p,
        |  ROUND((cp - bp) * ln(cp / bp), 6) AS psi_term
        |FROM p ORDER BY bucket""".stripMargin,

    // Single-batch AvailableNow run ⇒ the report is exactly
    // Drift.psiReport(orders≤1996, ALL orders) tagged batch_id 0 —
    // q106's PSI SQL with the current side unfiltered.
    "q110_stream_drift" ->
      """WITH bb AS (
        |  SELECT CAST(floor(o_totalprice / 100000.0) AS BIGINT) AS bucket,
        |    COUNT(*) AS base_n
        |  FROM orders WHERE year(o_orderdate) <= 1996 GROUP BY 1),
        |cc AS (
        |  SELECT CAST(floor(o_totalprice / 100000.0) AS BIGINT) AS bucket,
        |    COUNT(*) AS cur_n
        |  FROM orders GROUP BY 1),
        |j AS (
        |  SELECT COALESCE(bb.bucket, cc.bucket) AS bucket,
        |    COALESCE(base_n, 0) AS base_n, COALESCE(cur_n, 0) AS cur_n
        |  FROM bb FULL OUTER JOIN cc ON bb.bucket = cc.bucket),
        |p AS (
        |  SELECT bucket, base_n, cur_n,
        |    greatest(base_n / (SELECT CAST(SUM(base_n) AS DOUBLE) FROM j), 1e-6) AS bp,
        |    greatest(cur_n / (SELECT CAST(SUM(cur_n) AS DOUBLE) FROM j), 1e-6) AS cp
        |  FROM j)
        |SELECT bucket, base_n, cur_n,
        |  ROUND(bp, 6) AS base_p, ROUND(cp, 6) AS cur_p,
        |  ROUND((cp - bp) * ln(cp / bp), 6) AS psi_term,
        |  CAST(0 AS BIGINT) AS batch_id
        |FROM p ORDER BY batch_id, bucket""".stripMargin,

    "q107_transitions" ->
      """WITH seq AS (
        |  SELECT event_type AS from_type,
        |    LEAD(event_type) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |m AS (
        |  SELECT from_type, to_type, COUNT(*) AS n
        |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  ROUND(n / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 6)
        |    AS prob
        |FROM m ORDER BY from_type, to_type""".stripMargin,

    "q108_vocab" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(str_split_regex(trim(text), '\s+')) AS token
        |  FROM documents),
        |nz AS (SELECT * FROM toks WHERE token <> ''),
        |tf AS (
        |  SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
        |  FROM nz GROUP BY token HAVING COUNT(*) >= 2
        |  ORDER BY tf DESC, token ASC LIMIT 500)
        |SELECT token, tf, df,
        |  CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, token) AS BIGINT) AS rank,
        |  ROUND(CAST(SUM(tf) OVER (ORDER BY tf DESC, token
        |      ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |    / (SELECT COUNT(*) FROM nz), 6) AS cum_share
        |FROM tf ORDER BY rank""".stripMargin,

    "q109_oov" ->
      """WITH toks AS (
        |  SELECT lang, doc_id,
        |    unnest(str_split_regex(trim(text), '\s+')) AS token
        |  FROM documents),
        |nz AS (SELECT * FROM toks WHERE token <> ''),
        |v AS (
        |  SELECT token FROM nz GROUP BY token HAVING COUNT(*) >= 2
        |  ORDER BY COUNT(*) DESC, token ASC LIMIT 500)
        |SELECT lang, COUNT(*) AS n_tokens,
        |  COUNT(*) FILTER (WHERE nz.token NOT IN (SELECT token FROM v))
        |    AS oov_tokens,
        |  ROUND(CAST(COUNT(*) FILTER (
        |      WHERE nz.token NOT IN (SELECT token FROM v)) AS DOUBLE)
        |    / COUNT(*), 6) AS oov_rate
        |FROM nz GROUP BY lang ORDER BY lang""".stripMargin,

    "q111_quantile_keep" ->
      """WITH t AS (
        |  SELECT doc_id, lang, str_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang,
        |    CAST(len(toks) AS DOUBLE) AS n,
        |    CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) AS sl,
        |    CAST(list_sum(list_transform(toks, x -> CASE WHEN x IN
        |      ('the','a','of','and','to','in','is','on',
        |       'der','die','das','und','ist','nicht','ein','zu',
        |       'el','la','de','que','y','en','un','es',
        |       'le','et','les','des','est','une') THEN 1 ELSE 0 END))
        |      AS DOUBLE) AS st
        |  FROM t),
        |q AS (
        |  SELECT doc_id, lang, ROUND(
        |    LEAST(n / 16.0, 1.0) * 0.4 +
        |    (CASE WHEN sl / n BETWEEN 2.0 AND 9.0 THEN 1.0 ELSE 0.5 END) * 0.4 +
        |    LEAST(st / n * 4.0, 1.0) * 0.2, 4) AS quality
        |  FROM s),
        |r AS (
        |  SELECT lang, doc_id, quality,
        |    PERCENT_RANK() OVER (PARTITION BY lang
        |      ORDER BY quality DESC, doc_id ASC) AS pr
        |  FROM q)
        |SELECT lang, doc_id, quality FROM r
        |WHERE pr <= 0.5 ORDER BY lang, doc_id""".stripMargin,

    "q112_substring_search" ->
      """SELECT doc_id, lang FROM documents
        |WHERE contains(text, 'sort table window')
        |ORDER BY doc_id""".stripMargin,

    // identical oracle to q104: a single-batch streaming funnel run
    // is defined to equal the batch funnel
    "q114_stream_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
        |SELECT CAST(1 AS INTEGER) AS step, 'view' AS event_type,
        |  (SELECT COUNT(*) FROM s1) AS users
        |UNION ALL SELECT CAST(2 AS INTEGER), 'click', (SELECT COUNT(*) FROM s2)
        |UNION ALL SELECT CAST(3 AS INTEGER), 'purchase', (SELECT COUNT(*) FROM s3)
        |ORDER BY step""".stripMargin,

    "q125_anomaly" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    ROUND(SUM(value), 2) AS daily_value
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, d, daily_value,
        |    avg(daily_value) OVER w AS m,
        |    stddev_samp(daily_value) OVER w AS sd
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT event_type, d, daily_value,
        |  ROUND(m, 4) AS roll_mean, ROUND(sd, 4) AS roll_std,
        |  CASE WHEN sd IS NOT NULL AND sd <> 0
        |       THEN ROUND((daily_value - m) / sd, 4) END AS z,
        |  CASE WHEN sd IS NOT NULL AND sd <> 0
        |       THEN abs((daily_value - m) / sd) > 2.0
        |       ELSE false END AS anomaly
        |FROM r ORDER BY event_type, d""".stripMargin,

    "q126_profile" ->
      """SELECT 'o_custkey' AS col_name,
        |  (SELECT COUNT(*) FROM orders) AS n_rows,
        |  (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) AS n_nulls,
        |  (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS n_distinct,
        |  (SELECT ROUND(CAST(MIN(o_custkey) AS DOUBLE), 4) FROM orders) AS min_value,
        |  (SELECT ROUND(CAST(MAX(o_custkey) AS DOUBLE), 4) FROM orders) AS max_value,
        |  (SELECT ROUND(AVG(o_custkey), 4) FROM orders) AS mean_value,
        |  (SELECT ROUND(stddev_samp(o_custkey), 4) FROM orders) AS stddev_value
        |UNION ALL
        |SELECT 'o_orderkey',
        |  (SELECT COUNT(*) FROM orders),
        |  (SELECT COUNT(*) FROM orders WHERE o_orderkey IS NULL),
        |  (SELECT COUNT(DISTINCT o_orderkey) FROM orders),
        |  (SELECT ROUND(CAST(MIN(o_orderkey) AS DOUBLE), 4) FROM orders),
        |  (SELECT ROUND(CAST(MAX(o_orderkey) AS DOUBLE), 4) FROM orders),
        |  (SELECT ROUND(AVG(o_orderkey), 4) FROM orders),
        |  (SELECT ROUND(stddev_samp(o_orderkey), 4) FROM orders)
        |UNION ALL
        |SELECT 'o_totalprice',
        |  (SELECT COUNT(*) FROM orders),
        |  (SELECT COUNT(*) FROM orders WHERE o_totalprice IS NULL),
        |  (SELECT COUNT(DISTINCT o_totalprice) FROM orders),
        |  (SELECT ROUND(CAST(MIN(o_totalprice) AS DOUBLE), 4) FROM orders),
        |  (SELECT ROUND(CAST(MAX(o_totalprice) AS DOUBLE), 4) FROM orders),
        |  (SELECT ROUND(AVG(o_totalprice), 4) FROM orders),
        |  (SELECT ROUND(stddev_samp(o_totalprice), 4) FROM orders)
        |ORDER BY col_name""".stripMargin,

    "q124_gapfill_locf" ->
      """WITH sparse AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |    ROUND(SUM(value), 2) AS daily_value
        |  FROM events WHERE user_id <= 5 GROUP BY 1, 2),
        |spine AS (
        |  SELECT k.user_id, CAST(u.s AS DATE) AS d
        |  FROM (SELECT DISTINCT user_id FROM sparse) k,
        |    (SELECT unnest(generate_series(DATE '2024-01-01',
        |       DATE '2024-01-31', INTERVAL 1 DAY)) AS s) u),
        |joined AS (
        |  SELECT sp.user_id, sp.d, s.daily_value,
        |    s.daily_value IS NOT NULL AS observed
        |  FROM spine sp LEFT JOIN sparse s USING (user_id, d))
        |SELECT user_id, d,
        |  last_value(daily_value IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS daily_value,
        |  observed
        |FROM joined ORDER BY user_id, d""".stripMargin,

    "q123_dim_truncation" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 200)
        |SELECT a.vec_id AS id_a,
        |  ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos_full,
        |  ROUND(list_cosine_similarity(a.v[1:32], b.v[1:32]), 6) AS cos_32,
        |  ROUND(list_cosine_similarity(a.v[1:16], b.v[1:16]), 6) AS cos_16
        |FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
        |WHERE a.vec_id % 2 = 0
        |ORDER BY id_a""".stripMargin,

    "q121_retention" ->
      """WITH firsts AS (
        |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        |  FROM events GROUP BY user_id),
        |activity AS (
        |  SELECT DISTINCT e.user_id, f.cohort_week,
        |    CAST(datediff('week', f.cohort_week,
        |      date_trunc('week', e.ts)) AS BIGINT) AS week_offset
        |  FROM events e JOIN firsts f USING (user_id)),
        |sizes AS (
        |  SELECT cohort_week, COUNT(*) AS cohort_size
        |  FROM firsts GROUP BY cohort_week)
        |SELECT a.cohort_week, a.week_offset, COUNT(*) AS active_users,
        |  s.cohort_size,
        |  ROUND(COUNT(*) / CAST(s.cohort_size AS DOUBLE), 6) AS retention
        |FROM activity a JOIN sizes s USING (cohort_week)
        |GROUP BY a.cohort_week, a.week_offset, s.cohort_size
        |ORDER BY cohort_week, week_offset""".stripMargin,

    "q122_rfm" ->
      """WITH u AS (
        |  SELECT user_id, max(ts) AS last_ts, COUNT(*) AS freq,
        |    SUM(value) AS mon
        |  FROM events GROUP BY user_id),
        |t AS (
        |  SELECT
        |    CAST(NTILE(4) OVER (ORDER BY last_ts ASC, user_id ASC) AS INTEGER) AS r,
        |    CAST(NTILE(4) OVER (ORDER BY freq ASC, user_id ASC) AS INTEGER) AS f,
        |    CAST(NTILE(4) OVER (ORDER BY mon ASC, user_id ASC) AS INTEGER) AS m
        |  FROM u)
        |SELECT r, f, m, COUNT(*) AS n_users
        |FROM t GROUP BY r, f, m ORDER BY r, f, m""".stripMargin,

    // hopping window = union of dur/slide tumbling grids, each offset
    // by a multiple of the slide; second-aligned boundaries make the
    // floor-on-seconds form equal Spark's micros-precision assignment
    "q120_hopping_window" ->
      """WITH grid AS (SELECT 0 AS off UNION ALL SELECT 1800),
        |w AS (
        |  SELECT epoch_ms((CAST(floor((floor(epoch(ts)) - off) / 3600)
        |      AS BIGINT) * 3600 + off) * 1000) AS win_start,
        |    event_type, value
        |  FROM events, grid)
        |SELECT win_start, event_type, COUNT(*) AS n,
        |  ROUND(SUM(value), 2) AS total_value
        |FROM w GROUP BY 1, 2
        |ORDER BY win_start, event_type""".stripMargin,

    "q118_unique_accepted" ->
      """SELECT 'columns_ordered' AS check_name, CAST(0 AS BIGINT) AS violations
        |UNION ALL SELECT 'event_id_unique',
        |  (SELECT COUNT(event_id) - COUNT(DISTINCT event_id) FROM events)
        |UNION ALL SELECT 'user_id_unique',
        |  (SELECT COUNT(user_id) - COUNT(DISTINCT user_id) FROM events)
        |UNION ALL SELECT 'event_type_accepted',
        |  (SELECT COUNT(*) FROM events WHERE event_type IS NOT NULL
        |     AND event_type NOT IN ('click','view','purchase','signup'))
        |ORDER BY check_name""".stripMargin,

    "q119_relationships" ->
      """SELECT 'lineitem_orders' AS relationship,
        |  (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NOT NULL
        |     AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS orphans
        |UNION ALL SELECT 'orders_customer',
        |  (SELECT COUNT(*) FROM orders WHERE o_custkey IS NOT NULL
        |     AND o_custkey NOT IN (SELECT c_custkey FROM customer))
        |UNION ALL SELECT 'orders_customer_even',
        |  (SELECT COUNT(*) FROM orders WHERE o_custkey IS NOT NULL
        |     AND o_custkey NOT IN
        |       (SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0))
        |ORDER BY relationship""".stripMargin,

    "q115_curriculum" ->
      """WITH t AS (
        |  SELECT doc_id, str_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS DOUBLE) AS n,
        |    CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) AS sl,
        |    CAST(list_sum(list_transform(toks, x -> CASE WHEN x IN
        |      ('the','a','of','and','to','in','is','on',
        |       'der','die','das','und','ist','nicht','ein','zu',
        |       'el','la','de','que','y','en','un','es',
        |       'le','et','les','des','est','une') THEN 1 ELSE 0 END))
        |      AS DOUBLE) AS st
        |  FROM t),
        |q AS (
        |  SELECT doc_id, ROUND(
        |    LEAST(n / 16.0, 1.0) * 0.4 +
        |    (CASE WHEN sl / n BETWEEN 2.0 AND 9.0 THEN 1.0 ELSE 0.5 END) * 0.4 +
        |    LEAST(st / n * 4.0, 1.0) * 0.2, 4) AS quality
        |  FROM s),
        |sh AS (
        |  SELECT quality,
        |    NTILE(4) OVER (ORDER BY quality ASC, doc_id ASC) AS shard
        |  FROM q)
        |SELECT CAST(shard AS INTEGER) AS shard, COUNT(*) AS n_docs,
        |  ROUND(AVG(quality), 6) AS avg_quality
        |FROM sh GROUP BY shard ORDER BY shard""".stripMargin,

    "q116_source_overlap" ->
      """WITH d AS (
        |  SELECT source, str_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT DISTINCT source AS src, unnest(list_distinct(
        |    list_transform(range(1, len(toks) - 1),
        |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS sh
        |  FROM d),
        |tot AS (SELECT src, COUNT(*) AS n FROM s GROUP BY src),
        |p AS (
        |  SELECT a.src AS src_a, b.src AS src_b, COUNT(*) AS shared_shingles
        |  FROM s a JOIN s b ON a.sh = b.sh AND a.src < b.src
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, shared_shingles,
        |  ROUND(shared_shingles / CAST(LEAST(ta.n, tb.n) AS DOUBLE), 6)
        |    AS overlap
        |FROM p
        |JOIN tot ta ON ta.src = src_a
        |JOIN tot tb ON tb.src = src_b
        |ORDER BY src_a, src_b""".stripMargin,

    "q117_zipf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(str_split_regex(trim(text), '\s+')) AS token
        |  FROM documents),
        |nz AS (SELECT * FROM toks WHERE token <> ''),
        |tf AS (
        |  SELECT token, COUNT(*) AS tf FROM nz GROUP BY token
        |  HAVING COUNT(*) >= 2 ORDER BY tf DESC, token ASC LIMIT 500),
        |xy AS (
        |  SELECT ln(CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, token) AS DOUBLE)) AS x,
        |    ln(CAST(tf AS DOUBLE)) AS y
        |  FROM tf)
        |SELECT ROUND(covar_pop(x, y) / var_pop(x), 6) AS slope,
        |  ROUND(avg(y) - (covar_pop(x, y) / var_pop(x)) * avg(x), 6)
        |    AS intercept,
        |  COUNT(*) AS n_terms
        |FROM xy""".stripMargin,

    "q113_weighted_sample" ->
      """SELECT o_orderkey FROM (
        |  SELECT o_orderkey FROM (
        |    SELECT o_orderkey,
        |      pow((('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT)
        |            / 4294967296.0,
        |          1.0 / o_totalprice) AS key
        |    FROM orders)
        |  ORDER BY key DESC, o_orderkey ASC LIMIT 50)
        |ORDER BY o_orderkey""".stripMargin,

    "q102_catalog" ->
      """SELECT 'cust' AS table_name, CAST(1 AS INTEGER) AS version,
        |  'overwrite' AS last_action, CAST(2 AS INTEGER) AS n_columns,
        |  (SELECT COUNT(*) FROM customer) AS row_count,
        |  CAST(NULL AS DOUBLE) AS freshness_hours
        |UNION ALL
        |SELECT 'li97', CAST(1 AS INTEGER), 'overwrite', CAST(4 AS INTEGER),
        |  (SELECT COUNT(*) FROM lineitem WHERE year(l_shipdate) = 1997),
        |  CAST(NULL AS DOUBLE)
        |UNION ALL
        |SELECT 'ord', CAST(2 AS INTEGER), 'append', CAST(4 AS INTEGER),
        |  (SELECT COUNT(*) FROM orders)
        |    + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 0),
        |  CAST(915062400000 - epoch_ms((SELECT max(o_orderdate) FROM orders))
        |    AS DOUBLE) / 3600000.0
        |ORDER BY table_name""".stripMargin,

    "q127_lineage" ->
      """SELECT 'mart' AS output_table, CAST(1 AS INTEGER) AS output_version,
        |  'cust' AS input_table, CAST(1 AS INTEGER) AS input_version,
        |  'merge' AS action
        |UNION ALL SELECT 'mart', CAST(1 AS INTEGER), 'ord',
        |  CAST(1 AS INTEGER), 'merge'
        |UNION ALL SELECT 'mart', CAST(2 AS INTEGER), 'cust',
        |  CAST(1 AS INTEGER), 'merge'
        |UNION ALL SELECT 'mart', CAST(2 AS INTEGER), 'ord',
        |  CAST(2 AS INTEGER), 'merge'
        |UNION ALL SELECT 'mv', CAST(1 AS INTEGER), 'ord',
        |  CAST(2 AS INTEGER), 'overwrite'
        |UNION ALL SELECT 'ord', CAST(2 AS INTEGER), 'raw/orders_feed',
        |  CAST(NULL AS INTEGER), 'append'
        |ORDER BY output_table, output_version, input_table""".stripMargin,

    // Sketch thresholds are exact below the accuracy bound: the value
    // at p=k/4 is the element at ascending rank ceil(k*n/4) (Spark's
    // exact-path convention), stable under ties since tied values are
    // equal; strict-> bucketing is monotone-transform-invariant, so
    // epoch(ts) vs cast-to-double needn't match numerically.
    "q128_rfm_approx" ->
      """WITH u AS (
        |  SELECT user_id, epoch(max(ts)) AS rv,
        |    CAST(COUNT(*) AS DOUBLE) AS fv, SUM(value) AS mv
        |  FROM events GROUP BY user_id),
        |cnt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM u),
        |ks AS (SELECT unnest([1, 2, 3]) AS k),
        |rr AS (SELECT rv AS v, row_number() OVER (ORDER BY rv) AS rn FROM u),
        |rf AS (SELECT fv AS v, row_number() OVER (ORDER BY fv) AS rn FROM u),
        |rm AS (SELECT mv AS v, row_number() OVER (ORDER BY mv) AS rn FROM u),
        |tr AS (SELECT r.v FROM ks, cnt, rr r
        |       WHERE r.rn = CAST(ceil(ks.k * cnt.n / 4) AS BIGINT)),
        |tf AS (SELECT r.v FROM ks, cnt, rf r
        |       WHERE r.rn = CAST(ceil(ks.k * cnt.n / 4) AS BIGINT)),
        |tm AS (SELECT r.v FROM ks, cnt, rm r
        |       WHERE r.rn = CAST(ceil(ks.k * cnt.n / 4) AS BIGINT)),
        |b AS (
        |  SELECT
        |    CAST(1 + (SELECT COUNT(*) FROM tr WHERE u.rv > tr.v) AS INTEGER) AS r,
        |    CAST(1 + (SELECT COUNT(*) FROM tf WHERE u.fv > tf.v) AS INTEGER) AS f,
        |    CAST(1 + (SELECT COUNT(*) FROM tm WHERE u.mv > tm.v) AS INTEGER) AS m
        |  FROM u)
        |SELECT r, f, m, COUNT(*) AS n_users
        |FROM b GROUP BY r, f, m ORDER BY r, f, m""".stripMargin,

    "q129_curriculum_approx" ->
      """WITH t AS (
        |  SELECT doc_id, str_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS DOUBLE) AS n,
        |    CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) AS sl,
        |    CAST(list_sum(list_transform(toks, x -> CASE WHEN x IN
        |      ('the','a','of','and','to','in','is','on',
        |       'der','die','das','und','ist','nicht','ein','zu',
        |       'el','la','de','que','y','en','un','es',
        |       'le','et','les','des','est','une') THEN 1 ELSE 0 END))
        |      AS DOUBLE) AS st
        |  FROM t),
        |q AS (
        |  SELECT doc_id, ROUND(
        |    LEAST(n / 16.0, 1.0) * 0.4 +
        |    (CASE WHEN sl / n BETWEEN 2.0 AND 9.0 THEN 1.0 ELSE 0.5 END) * 0.4 +
        |    LEAST(st / n * 4.0, 1.0) * 0.2, 4) AS quality
        |  FROM s),
        |cnt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM q),
        |ks AS (SELECT unnest([1, 2, 3]) AS k),
        |rq AS (SELECT quality AS v, row_number() OVER (ORDER BY quality) AS rn
        |       FROM q),
        |thr AS (SELECT r.v FROM ks, cnt, rq r
        |        WHERE r.rn = CAST(ceil(ks.k * cnt.n / 4) AS BIGINT)),
        |b AS (
        |  SELECT quality,
        |    CAST(1 + (SELECT COUNT(*) FROM thr WHERE q.quality > thr.v)
        |      AS INTEGER) AS shard
        |  FROM q)
        |SELECT shard, COUNT(*) AS n_docs, ROUND(AVG(quality), 6) AS avg_quality
        |FROM b GROUP BY shard ORDER BY shard""".stripMargin,

    // The fixture commits deterministically: run_a = cust v1 overwrite
    // + ord v1 append; run_b and the unscoped commit are excluded.
    "q131_run_commits" ->
      """SELECT 'cust' AS table_name, CAST(1 AS INTEGER) AS version,
        |  'overwrite' AS action
        |UNION ALL SELECT 'ord', CAST(1 AS INTEGER), 'append'
        |ORDER BY table_name, version""".stripMargin,

    // The feed fed ord@2; ord@2 fed mart@2 and the MV refresh; the
    // clean ord@3 append still CONTAINS the feed's rows (forward
    // carry). mart@1 consumed ord@1 and stays clean.
    "q132_impact" ->
      """SELECT 'mart' AS tainted_table, CAST(2 AS INTEGER) AS version
        |UNION ALL SELECT 'mv', CAST(1 AS INTEGER)
        |UNION ALL SELECT 'ord', CAST(2 AS INTEGER)
        |UNION ALL SELECT 'ord', CAST(3 AS INTEGER)
        |ORDER BY tainted_table, version""".stripMargin,

    // Compaction preserves content exactly; the layout assertions live
    // in the Spark query (DuckDB has no view of the directory tree).
    "q133_compaction" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  ROUND(SUM(value), 2) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // q55's recursive component labeling, then keep-best per cluster:
    // highest n_chars, ties to the lowest doc_id.
    "q134_canonical_keep" ->
      """WITH RECURSIVE rawpairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM documents a JOIN documents b
        |    ON substr(a.text, 1, 40) = substr(b.text, 1, 40)
        |   AND a.doc_id < b.doc_id
        |  UNION ALL
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM documents a JOIN documents b
        |    ON substr(a.text, greatest(1, length(a.text) - 39), 40)
        |     = substr(b.text, greatest(1, length(b.text) - 39), 40)
        |   AND a.doc_id < b.doc_id
        |),
        |-- DISTINCT as its own step: inside WITH RECURSIVE, DuckDB does
        |-- not dedup a plain UNION in a non-recursive CTE (suffix pairs
        |-- that are also prefix pairs survive and inflate counts).
        |pairs AS (SELECT DISTINCT id_a, id_b FROM rawpairs),
        |edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION
        |  SELECT id_b AS u, id_a AS v FROM pairs
        |),
        |reach AS (
        |  SELECT doc_id AS u, doc_id AS label FROM documents
        |  UNION
        |  SELECT e.u, r.label FROM edges e JOIN reach r ON r.u = e.v
        |  WHERE r.label < e.u
        |),
        |lab AS (SELECT u AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY u),
        |sized AS (
        |  SELECT doc_id, cluster_id,
        |    CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
        |  FROM lab),
        |ranked AS (
        |  SELECT s.doc_id, s.cluster_id, s.cluster_size, d.n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY s.cluster_id
        |      ORDER BY d.n_chars DESC, s.doc_id ASC) AS rk
        |  FROM sized s JOIN documents d USING (doc_id))
        |SELECT doc_id, cluster_id, cluster_size, n_chars
        |FROM ranked WHERE rk = 1 ORDER BY doc_id""".stripMargin,

    // q55's labeling, then q75's md5-prefix split CASE evaluated on the
    // CLUSTER id (90/7/3 bounds: 0.90 and 0.97 of the 2^32 hash space).
    "q135_cluster_split" ->
      """WITH RECURSIVE rawpairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM documents a JOIN documents b
        |    ON substr(a.text, 1, 40) = substr(b.text, 1, 40)
        |   AND a.doc_id < b.doc_id
        |  UNION ALL
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM documents a JOIN documents b
        |    ON substr(a.text, greatest(1, length(a.text) - 39), 40)
        |     = substr(b.text, greatest(1, length(b.text) - 39), 40)
        |   AND a.doc_id < b.doc_id
        |),
        |-- DISTINCT as its own step: inside WITH RECURSIVE, DuckDB does
        |-- not dedup a plain UNION in a non-recursive CTE (suffix pairs
        |-- that are also prefix pairs survive and inflate counts).
        |pairs AS (SELECT DISTINCT id_a, id_b FROM rawpairs),
        |edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION
        |  SELECT id_b AS u, id_a AS v FROM pairs
        |),
        |reach AS (
        |  SELECT doc_id AS u, doc_id AS label FROM documents
        |  UNION
        |  SELECT e.u, r.label FROM edges e JOIN reach r ON r.u = e.v
        |  WHERE r.label < e.u
        |),
        |lab AS (SELECT u AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY u)
        |SELECT doc_id, cluster_id,
        |  CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8) < 'e6666666'
        |         THEN 'train'
        |       WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8) < 'f851eb85'
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM lab ORDER BY doc_id""".stripMargin,

    "q136_budget_fill" ->
      """WITH c AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(SUM(n_chars) OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_cost
        |  FROM documents)
        |SELECT doc_id, source, n_chars, cum_cost FROM c
        |WHERE cum_cost <= CASE WHEN source = 'src0' THEN 1500 ELSE 4000 END
        |ORDER BY doc_id""".stripMargin,

    // q115's quality CTE, binned 10-wide against the n_chars label.
    "q137_calibration" ->
      """WITH t AS (
        |  SELECT doc_id, str_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS DOUBLE) AS n,
        |    CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) AS sl,
        |    CAST(list_sum(list_transform(toks, x -> CASE WHEN x IN
        |      ('the','a','of','and','to','in','is','on',
        |       'der','die','das','und','ist','nicht','ein','zu',
        |       'el','la','de','que','y','en','un','es',
        |       'le','et','les','des','est','une') THEN 1 ELSE 0 END))
        |      AS DOUBLE) AS st
        |  FROM t),
        |q AS (
        |  SELECT doc_id, ROUND(
        |    LEAST(n / 16.0, 1.0) * 0.4 +
        |    (CASE WHEN sl / n BETWEEN 2.0 AND 9.0 THEN 1.0 ELSE 0.5 END) * 0.4 +
        |    LEAST(st / n * 4.0, 1.0) * 0.2, 4) AS quality
        |  FROM s),
        |l AS (
        |  SELECT q.quality,
        |    CASE WHEN d.n_chars >= 300 THEN 1.0 ELSE 0.0 END AS lab
        |  FROM q JOIN documents d USING (doc_id))
        |SELECT CAST(LEAST(CAST(floor(quality * 10) AS INTEGER), 9) + 1
        |    AS INTEGER) AS bin,
        |  COUNT(*) AS n_docs,
        |  ROUND(AVG(quality), 6) AS avg_score,
        |  ROUND(AVG(lab), 6) AS frac_positive
        |FROM l GROUP BY 1 ORDER BY 1""".stripMargin,

    // The affix pair table joined to both split assignments: per-doc
    // md5 hashing leaves straddling pairs; cluster hashing leaves none.
    "q138_split_leakage" ->
      """WITH RECURSIVE rawpairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM documents a JOIN documents b
        |    ON substr(a.text, 1, 40) = substr(b.text, 1, 40)
        |   AND a.doc_id < b.doc_id
        |  UNION ALL
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM documents a JOIN documents b
        |    ON substr(a.text, greatest(1, length(a.text) - 39), 40)
        |     = substr(b.text, greatest(1, length(b.text) - 39), 40)
        |   AND a.doc_id < b.doc_id
        |),
        |-- DISTINCT as its own step: inside WITH RECURSIVE, DuckDB does
        |-- not dedup a plain UNION in a non-recursive CTE (suffix pairs
        |-- that are also prefix pairs survive and inflate counts).
        |pairs AS (SELECT DISTINCT id_a, id_b FROM rawpairs),
        |edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION
        |  SELECT id_b AS u, id_a AS v FROM pairs
        |),
        |reach AS (
        |  SELECT doc_id AS u, doc_id AS label FROM documents
        |  UNION
        |  SELECT e.u, r.label FROM edges e JOIN reach r ON r.u = e.v
        |  WHERE r.label < e.u
        |),
        |lab AS (SELECT u AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY u),
        |dsplit AS (
        |  SELECT doc_id,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666'
        |           THEN 'train'
        |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'f851eb85'
        |           THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |csplit AS (
        |  SELECT doc_id,
        |    CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8) < 'e6666666'
        |           THEN 'train'
        |         WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8) < 'f851eb85'
        |           THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM lab),
        |da AS (
        |  SELECT COUNT(*) AS n_pairs,
        |    CAST(SUM(CASE WHEN x.split <> y.split THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_straddling
        |  FROM pairs p JOIN dsplit x ON p.id_a = x.doc_id
        |    JOIN dsplit y ON p.id_b = y.doc_id),
        |ca AS (
        |  SELECT COUNT(*) AS n_pairs,
        |    CAST(SUM(CASE WHEN x.split <> y.split THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_straddling
        |  FROM pairs p JOIN csplit x ON p.id_a = x.doc_id
        |    JOIN csplit y ON p.id_b = y.doc_id)
        |SELECT 'cluster_hash' AS method, n_pairs, n_straddling,
        |  ROUND(CAST(n_straddling AS DOUBLE) / n_pairs, 6) AS straddle_rate
        |FROM ca
        |UNION ALL
        |SELECT 'doc_hash', n_pairs, n_straddling,
        |  ROUND(CAST(n_straddling AS DOUBLE) / n_pairs, 6)
        |FROM da
        |ORDER BY method""".stripMargin,

    "q139_shard_export" ->
      """WITH s AS (
        |  SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |           % 8 AS shard,
        |         md5(CAST(doc_id AS VARCHAR)) AS shard_key,
        |         n_chars
        |  FROM documents)
        |SELECT shard,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  MIN(shard_key) AS first_key,
        |  MAX(shard_key) AS last_key
        |FROM s GROUP BY shard ORDER BY shard""".stripMargin,

    "q141_embedding_drift" ->
      """WITH x AS (
        |  SELECT vec_id, label,
        |    generate_subscripts(embedding, 1) - 1 AS idx,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |co AS (
        |  SELECT label, idx, AVG(v) AS co FROM x
        |  WHERE vec_id % 2 = 0 GROUP BY label, idx),
        |cn AS (
        |  SELECT label, idx, AVG(v) AS cn FROM x
        |  WHERE vec_id % 2 = 1 GROUP BY label, idx),
        |d AS (
        |  SELECT co.label,
        |    SUM(co.co * cn.cn) AS dot,
        |    SUM(co.co * co.co) AS no,
        |    SUM(cn.cn * cn.cn) AS nn,
        |    SUM((co.co - cn.cn) * (co.co - cn.cn)) AS d2
        |  FROM co JOIN cn ON co.label = cn.label AND co.idx = cn.idx
        |  GROUP BY co.label),
        |k AS (
        |  SELECT label,
        |    CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_old,
        |    CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_new
        |  FROM embeddings GROUP BY label)
        |SELECT d.label, k.n_old, k.n_new,
        |  ROUND(d.dot / sqrt(d.no * d.nn), 6) AS centroid_cos,
        |  ROUND(sqrt(d.d2), 6) AS centroid_l2
        |FROM d JOIN k ON d.label = k.label
        |ORDER BY d.label""".stripMargin,

    "q142_stream_embedding_drift" ->
      """WITH x AS (
        |  SELECT vec_id, label,
        |    generate_subscripts(embedding, 1) - 1 AS idx,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |co AS (
        |  SELECT label, idx, AVG(v) AS co FROM x
        |  WHERE vec_id % 2 = 0 GROUP BY label, idx),
        |cn AS (
        |  SELECT label, idx, AVG(v) AS cn FROM x GROUP BY label, idx),
        |d AS (
        |  SELECT co.label,
        |    SUM(co.co * cn.cn) AS dot,
        |    SUM(co.co * co.co) AS no,
        |    SUM(cn.cn * cn.cn) AS nn,
        |    SUM((co.co - cn.cn) * (co.co - cn.cn)) AS d2
        |  FROM co JOIN cn ON co.label = cn.label AND co.idx = cn.idx
        |  GROUP BY co.label),
        |k AS (
        |  SELECT label,
        |    CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_old,
        |    CAST(COUNT(*) AS BIGINT) AS n_new
        |  FROM embeddings GROUP BY label)
        |SELECT d.label, k.n_old, k.n_new,
        |  ROUND(d.dot / sqrt(d.no * d.nn), 6) AS centroid_cos,
        |  ROUND(sqrt(d.d2), 6) AS centroid_l2,
        |  CAST(0 AS BIGINT) AS batch_id
        |FROM d JOIN k ON d.label = k.label
        |ORDER BY batch_id, d.label""".stripMargin,

    "q143_segment_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS tok,
        |    generate_subscripts(string_split_regex(trim(text), '\s+'), 1)
        |      AS ord
        |  FROM documents),
        |segs AS (
        |  SELECT doc_id, CAST(floor((ord - 1) / 5) AS BIGINT) AS seg_id,
        |    string_agg(tok, ' ' ORDER BY ord) AS seg
        |  FROM toks GROUP BY 1, 2),
        |w1 AS (SELECT seg, MIN(doc_id) AS wdoc FROM segs GROUP BY 1),
        |w2 AS (SELECT s.seg, f.wdoc, MIN(s.seg_id) AS wseg
        |       FROM segs s JOIN w1 f ON s.seg = f.seg AND s.doc_id = f.wdoc
        |       GROUP BY 1, 2),
        |m AS (SELECT s.doc_id,
        |        CASE WHEN s.doc_id = w.wdoc AND s.seg_id = w.wseg
        |             THEN 1 ELSE 0 END AS kept
        |      FROM segs s JOIN w2 w ON s.seg = w.seg)
        |SELECT doc_id, COUNT(*) AS n_segs,
        |  CAST(SUM(kept) AS BIGINT) AS n_kept,
        |  ROUND(SUM(kept) * 1.0 / COUNT(*), 4) AS kept_ratio
        |FROM m GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "q144_fuzzy_er" ->
      """WITH names AS (
        |  SELECT p_name AS name, COUNT(*) AS n_rows,
        |    string_split(p_name, ' ')[-1] AS block
        |  FROM part WHERE p_name IS NOT NULL GROUP BY 1)
        |SELECT a.name AS name_a, b.name AS name_b,
        |  CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
        |  a.n_rows AS n_rows_a, b.n_rows AS n_rows_b
        |FROM names a JOIN names b
        |  ON a.block = b.block AND a.name < b.name
        |WHERE abs(length(a.name) - length(b.name)) <= 2
        |  AND levenshtein(a.name, b.name) <= 2
        |ORDER BY name_a, name_b""".stripMargin,

    "q145_skew_advisor" ->
      """WITH ec AS (SELECT CAST(user_id AS VARCHAR) AS k, COUNT(*) AS cnt
        |            FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |es AS (SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |         MAX(cnt) AS max_cnt, ROUND(AVG(cnt), 4) AS avg_cnt,
        |         ROUND(MAX(cnt) * 1.0 / AVG(cnt), 4) AS skew_ratio,
        |         CAST(LEAST(CEIL(MAX(cnt) * 1.0 / AVG(cnt)), 32) AS BIGINT)
        |           AS rec_salt
        |       FROM ec),
        |et AS (SELECT k AS top_key FROM ec ORDER BY cnt DESC, k LIMIT 1),
        |lc AS (SELECT CAST(l_partkey AS VARCHAR) AS k, COUNT(*) AS cnt
        |            FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
        |ls AS (SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |         MAX(cnt) AS max_cnt, ROUND(AVG(cnt), 4) AS avg_cnt,
        |         ROUND(MAX(cnt) * 1.0 / AVG(cnt), 4) AS skew_ratio,
        |         CAST(LEAST(CEIL(MAX(cnt) * 1.0 / AVG(cnt)), 32) AS BIGINT)
        |           AS rec_salt
        |       FROM lc),
        |lt AS (SELECT k AS top_key FROM lc ORDER BY cnt DESC, k LIMIT 1),
        |oc AS (SELECT CAST(o_custkey AS VARCHAR) AS k, COUNT(*) AS cnt
        |            FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
        |os AS (SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |         MAX(cnt) AS max_cnt, ROUND(AVG(cnt), 4) AS avg_cnt,
        |         ROUND(MAX(cnt) * 1.0 / AVG(cnt), 4) AS skew_ratio,
        |         CAST(LEAST(CEIL(MAX(cnt) * 1.0 / AVG(cnt)), 32) AS BIGINT)
        |           AS rec_salt
        |       FROM oc),
        |ot AS (SELECT k AS top_key FROM oc ORDER BY cnt DESC, k LIMIT 1)
        |SELECT 'events.user_id' AS key_col, es.*, et.top_key FROM es, et
        |UNION ALL
        |SELECT 'lineitem.l_partkey', ls.*, lt.top_key FROM ls, lt
        |UNION ALL
        |SELECT 'orders.o_custkey', os.*, ot.top_key FROM os, ot
        |ORDER BY key_col""".stripMargin,

    "q146_train_shuffle" ->
      """SELECT doc_id,
        |  CAST(((doc_id + 7) % 1000000007) * 2654435761
        |    % 1000000007 % 8 AS INT) AS shard,
        |  CAST(ROW_NUMBER() OVER (
        |    PARTITION BY ((doc_id + 7) % 1000000007) * 2654435761
        |      % 1000000007 % 8
        |    ORDER BY ((doc_id + 7) % 1000000007) * 2654435761
        |      % 1000000007, doc_id)
        |    AS BIGINT) AS pos
        |FROM documents
        |ORDER BY shard, pos""".stripMargin,

    "q147_bloom_join" ->
      """SELECT o_orderpriority,
        |  ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  COUNT(*) AS n_items,
        |  COUNT(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 480000.0
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q148_incremental_segdedup" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS tok,
        |    generate_subscripts(string_split_regex(trim(text), '\s+'), 1)
        |      AS ord
        |  FROM documents),
        |segs AS (
        |  SELECT doc_id, CAST(floor((ord - 1) / 5) AS BIGINT) AS seg_id,
        |    string_agg(tok, ' ' ORDER BY ord) AS seg
        |  FROM toks GROUP BY 1, 2),
        |b2 AS (SELECT * FROM segs WHERE doc_id % 2 = 1),
        |store AS (SELECT DISTINCT seg FROM segs WHERE doc_id % 2 = 0),
        |w1 AS (SELECT seg, MIN(doc_id) AS wdoc FROM b2 GROUP BY 1),
        |w2 AS (SELECT s.seg, f.wdoc, MIN(s.seg_id) AS wseg
        |       FROM b2 s JOIN w1 f ON s.seg = f.seg AND s.doc_id = f.wdoc
        |       GROUP BY 1, 2),
        |m AS (SELECT s.doc_id,
        |        CASE WHEN s.doc_id = w.wdoc AND s.seg_id = w.wseg
        |              AND st.seg IS NULL THEN 1 ELSE 0 END AS kept
        |      FROM b2 s JOIN w2 w ON s.seg = w.seg
        |      LEFT JOIN store st ON s.seg = st.seg)
        |SELECT doc_id, COUNT(*) AS n_segs,
        |  CAST(SUM(kept) AS BIGINT) AS n_kept,
        |  ROUND(SUM(kept) * 1.0 / COUNT(*), 4) AS kept_ratio
        |FROM m GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "q149_stream_hotkeys" ->
      """SELECT user_id, COUNT(*) AS n_events
        |FROM events
        |GROUP BY user_id
        |ORDER BY n_events DESC, user_id
        |LIMIT 20""".stripMargin,

    "q150_pagerank" -> graft.operators.GraphRank.oracleSql(),

    "q151_rolling_dau" ->
      """WITH du AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
        |days AS (SELECT DISTINCT d FROM du)
        |SELECT days.d AS dt, COUNT(DISTINCT du.user_id) AS active_users
        |FROM days JOIN du ON du.d BETWEEN days.d - 6 AND days.d
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q152_stream_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, str_split_regex(trim(text), '\s+') AS t FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 2),
        |      i -> array_to_string(t[i:i+3], ' '))) AS gram
        |    FROM toks WHERE len(t) >= 4)),
        |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 41 = 0),
        |hits AS (
        |  SELECT g.doc_id, COUNT(DISTINCT g.gram) AS n
        |  FROM grams g JOIN bench b USING (gram)
        |  WHERE g.doc_id % 41 != 0 GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(COALESCE(h.n, 0) AS BIGINT) AS n_shared_grams,
        |  COALESCE(h.n, 0) < 2 AS admitted
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 41 != 0) d
        |LEFT JOIN hits h USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q153_dsir_select" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, unnest(str_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents),
        |tb AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5(tok), 1, 6))::BIGINT % 4096 AS b, COUNT(*) AS c
        |  FROM toks WHERE tok != '' GROUP BY 1, 2, 3),
        |cs AS (SELECT b, SUM(c) AS cs FROM tb GROUP BY 1),
        |ct AS (SELECT b, SUM(c) AS ct FROM tb WHERE lang = 'en' GROUP BY 1),
        |tot AS (SELECT (SELECT SUM(cs) FROM cs) AS s,
        |               (SELECT SUM(ct) FROM ct) AS t),
        |lr AS (
        |  SELECT cs.b,
        |    ln((COALESCE(ct.ct, 0) + 0.5) / (tot.t + 0.5 * 4096)) -
        |    ln((cs.cs + 0.5) / (tot.s + 0.5 * 4096)) AS lr
        |  FROM cs LEFT JOIN ct USING (b), tot),
        |w AS (
        |  SELECT tb.doc_id, ROUND(SUM(tb.c * lr.lr), 6) AS li_weight
        |  FROM tb JOIN lr USING (b) GROUP BY 1),
        |scored AS (
        |  SELECT d.doc_id, COALESCE(w.li_weight, 0.0) AS li_weight
        |  FROM (SELECT doc_id FROM documents) d LEFT JOIN w USING (doc_id)),
        |thr AS (SELECT MIN(li_weight) AS thr FROM
        |  (SELECT li_weight FROM scored ORDER BY li_weight DESC LIMIT 100))
        |SELECT doc_id, li_weight,
        |  li_weight >= (SELECT thr FROM thr) AS selected
        |FROM scored ORDER BY doc_id""".stripMargin,

    "q154_top_paths" ->
      """WITH seq AS (
        |  SELECT event_type AS s0,
        |    LEAD(event_type, 1) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS s1,
        |    LEAD(event_type, 2) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS s2
        |  FROM events)
        |SELECT s0 || '>' || s1 || '>' || s2 AS path, COUNT(*) AS n
        |FROM seq WHERE s2 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin,

    "q155_semantic_decontaminate" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |b AS (SELECT v FROM e WHERE label = 9),
        |c AS (SELECT vec_id, v FROM e WHERE label <> 9)
        |SELECT c.vec_id,
        |  ROUND(MAX(list_cosine_similarity(c.v, b.v)), 6) AS max_bench_cos,
        |  ROUND(MAX(list_cosine_similarity(c.v, b.v)), 6) >= 0.4
        |    AS contaminated
        |FROM c CROSS JOIN b
        |GROUP BY c.vec_id
        |ORDER BY vec_id""".stripMargin,

    "q160_normalize" ->
      """SELECT doc_id,
        |  nfc_normalize(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
        |    AS text_norm,
        |  nfc_normalize(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
        |    <> text AS changed
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q159_boilerplate" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    unnest(string_split_regex(trim(text), '\s+')) AS tok,
        |    generate_subscripts(string_split_regex(trim(text), '\s+'), 1)
        |      AS ord
        |  FROM documents),
        |segs AS (
        |  SELECT doc_id, source,
        |    CAST(floor((ord - 1) / 2) AS BIGINT) AS seg_id,
        |    string_agg(tok, ' ' ORDER BY ord) AS seg
        |  FROM toks GROUP BY 1, 2, 3),
        |tot AS (
        |  SELECT source, COUNT(DISTINCT doc_id) AS nd
        |  FROM documents GROUP BY 1),
        |df AS (
        |  SELECT source, seg, COUNT(DISTINCT doc_id) AS dfc
        |  FROM segs GROUP BY 1, 2),
        |bp AS (
        |  SELECT d.source, d.seg FROM df d JOIN tot t ON d.source = t.source
        |  WHERE CAST(d.dfc AS DOUBLE) >= CAST(t.nd AS DOUBLE) * 0.18),
        |m AS (
        |  SELECT s.doc_id, s.seg_id, s.seg,
        |    CASE WHEN b.seg IS NOT NULL THEN 1 ELSE 0 END AS is_bp
        |  FROM segs s LEFT JOIN bp b
        |    ON s.source = b.source AND s.seg = b.seg),
        |stats AS (
        |  SELECT doc_id, COUNT(*) AS n_segs,
        |    CAST(SUM(is_bp) AS BIGINT) AS n_dropped
        |  FROM m GROUP BY 1),
        |clean AS (
        |  SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_id) AS text_clean
        |  FROM m WHERE is_bp = 0 GROUP BY 1)
        |SELECT s.doc_id, s.n_segs, s.n_dropped,
        |  COALESCE(c.text_clean, '') AS text_clean
        |FROM stats s LEFT JOIN clean c ON s.doc_id = c.doc_id
        |ORDER BY s.doc_id""".stripMargin,

    "q158_column_lineage" ->
      """SELECT * FROM (VALUES
        |  ('dt', 'events', 'ts'),
        |  ('dt', 'orders', 'o_orderdate'),
        |  ('fulfilled_orders', 'orders', 'o_orderstatus'),
        |  ('order_count', '<constant>', '<none>'),
        |  ('revenue', 'orders', 'o_totalprice'),
        |  ('sessions', '<constant>', '<none>'),
        |  ('store_id', 'events', 'user_id'),
        |  ('store_id', 'orders', 'o_custkey'),
        |  ('visitors', 'events', 'user_id'))
        |  AS t(output_column, source_table, source_column)
        |ORDER BY 1, 2, 3""".stripMargin,

    "q157_token_budget" ->
      """WITH toks AS (
        |  SELECT lang,
        |    len(list_filter(str_split_regex(trim(text), '\s+'),
        |        t -> t <> '')) AS n
        |  FROM documents),
        |avail AS (
        |  SELECT lang, CAST(SUM(n) AS BIGINT) AS avail_tokens
        |  FROM toks GROUP BY lang),
        |w AS (SELECT * FROM (VALUES
        |  ('en', 0.5), ('zh', 0.2), ('de', 0.1), ('es', 0.1), ('fr', 0.1))
        |  AS t(lang, wr))
        |SELECT a.lang, a.avail_tokens,
        |  ROUND(w.wr, 6) AS weight,
        |  CAST(ROUND(100000 * ROUND(w.wr, 6)) AS BIGINT) AS target_tokens,
        |  ROUND(CAST(ROUND(100000 * ROUND(w.wr, 6)) AS BIGINT)
        |    / CAST(a.avail_tokens AS DOUBLE), 4) AS epochs,
        |  ROUND(CAST(ROUND(100000 * ROUND(w.wr, 6)) AS BIGINT)
        |    / CAST(a.avail_tokens AS DOUBLE), 4) > 4.0 AS oversubscribed
        |FROM avail a JOIN w ON a.lang = w.lang
        |ORDER BY a.lang""".stripMargin,

    "q162_mmr_rerank" ->
      graft.operators.Similarity.mmrOracleSql(k = 24, m = 6,
        lambda = 0.7),

    "q163_bpe_fertility" ->
      graft.operators.BpeTrainer.fertilityOracleSql(numMerges = 30),

    "q185_markov_attribution" ->
      graft.operators.Attribution.removalOracleSql,

    "q140_bpe_train" ->
      graft.operators.BpeTrainer.mergesOracleSql(numMerges = 30),
  )

  /** Hash-stable canonicalization plan, applied to BOTH sides of the
    * oracle contract (see [[graft.util.Canon]] for why): per query,
    * the ORDERED output-column list with markers — trailing `*` on a
    * double to emit as a micro-unit bigint (renamed `_micros`),
    * trailing `#` on an integer count the oracle must CAST to BIGINT
    * (DuckDB SUM over ints returns HUGEINT, which pandas widens to
    * float64 and the driver's bit-exact hash rejects). The list must
    * match the raw registration's output schema exactly.
    *
    * Every oracled query whose output contains a round()-produced
    * double MUST appear here: PlanAudit walks the final plans and
    * fails the build on any raw rounded-double output column in an
    * oracled query, so a new ratio-statistic query can't re-roll the
    * round-11 hash-red dice. */
  val canonPlan: Map[String, Seq[String]] = Map(
    "q350_bartlett" -> Seq("n#", "k#", "pooled_var*", "chi2*",
      "df#", "sig_95"),
    "q351_cramers_v" -> Seq("n#", "r#", "c#", "chi2*",
      "cramers_v*", "v_corrected*"),
    "q352_participation_ratio" -> Seq("d#", "trace*", "frob_sq*",
      "participation_ratio*", "pr_share*"),
    "q353_balanced_sample" -> Seq("cls", "n_total#", "n_kept#",
      "id_checksum#", "mean_kept_metric*"),
    "q354_gain_ratio" -> Seq("feature", "n_values#", "h_label*",
      "ig*", "split_info*", "gain_ratio*"),
    "q355_intrinsic_dim" -> Seq("n_probes#", "n_used#",
      "mean_log_mu*", "id_mle*"),
    "q356_hubness" -> Seq("k#", "n_queries#", "n_points#",
      "mean_occ*", "sd_occ*", "skew_occ*", "max_occ#",
      "never_share*"),
    "q357_fisher_exact" -> Seq("n11#", "n10#", "n01#", "n00#",
      "odds_ratio*", "p_obs*", "p_left*", "p_right*",
      "p_two_sided*"),
    "q358_signed_rank" -> Seq("n_pairs#", "n_zero#", "n_pos#",
      "n_neg#", "w_plus*", "z_wilcoxon*", "z_sign*",
      "sig_95_wilcoxon", "sig_95_sign"),
    "q359_jonckheere" -> Seq("n#", "k#", "jt_stat*", "e_jt*",
      "var_jt*", "z*", "sig_95"),
    "q360_hits" -> Seq("page#", "hub*", "auth*"),
    "q361_dtw" -> Seq("n_days#", "band#", "dtw_distance#",
      "dtw_per_day*"),
    "q362_tost" -> Seq("n_a#", "n_b#", "mean_a*", "mean_b*",
      "lift*", "margin*", "t_lower*", "t_upper*", "equivalent"),
    "q363_partial_corr" -> Seq("n#", "r_xy*", "r_xz*", "r_yz*",
      "r_xy_z*"),
    "q364_cronbach_alpha" -> Seq("n_units#", "k_items#",
      "sum_item_var*", "total_var*", "alpha*"),
    "q365_stream_cronbach" -> Seq("n_units#", "k_items#",
      "sum_item_var*", "total_var*", "alpha*"),
    "q366_mood_median" -> Seq("n#", "k#", "n_above#", "chi2*",
      "df#", "sig_95"),
    "q367_cohens_h" -> Seq("n_a#", "n_b#", "conv_a#", "conv_b#",
      "p_a*", "p_b*", "h*", "magnitude"),
    "q368_jarque_bera" -> Seq("n#", "mean*", "skewness*",
      "kurtosis*", "jb*", "sig_95"),
    "q369_iv_wald" -> Seq("n_z0#", "n_z1#", "itt*", "first_stage*",
      "late*"),
    "q370_cox_ph" -> Seq("n#", "n_events#", "n_treated#", "beta*",
      "hazard_ratio*", "se*", "z*", "sig_95"),
    "q371_mantel_haenszel" -> Seq("n#", "k_strata#", "or_mh*",
      "cmh_chi2*", "sig_95"),
    "q372_modularity" -> Seq("n_nodes#", "n_communities#",
      "m_weight*", "within_share*", "modularity*"),
    "q373_assortativity" -> Seq("n_edges#", "r_assortativity*",
      "mean_src_deg*", "mean_dst_deg*"),
    "q374_reciprocity" -> Seq("n_edges#", "n_reciprocated#",
      "w_total*", "w_reciprocated*", "edge_reciprocity*",
      "weight_reciprocity*"),
    "q375_lilliefors" -> Seq("n#", "mean*", "sd*", "d_stat*",
      "d_crit_95*", "sig_95"),
    "q376_cohens_d" -> Seq("n_a#", "n_b#", "mean_a*", "mean_b*",
      "pooled_sd*", "cohens_d*", "hedges_g*", "magnitude"),
    "q377_oneway_anova" -> Seq("n#", "k#", "df_between#",
      "df_within#", "f_stat*", "eta_sq*", "omega_sq*", "sig_95"),
    "q378_cvm_twosample" -> Seq("n_a#", "n_b#", "t_stat*", "sig_95"),
    "q379_rmst" -> Seq("tau_days#", "n_steps#", "rmst*", "rmst_se*"),
    "q380_gehan_wilcoxon" -> Seq("n_times#", "o1#", "w_diff*",
      "w_var*", "chi_sq*", "sig_95", "sig_99"),
    "q381_atkinson" -> Seq("n#", "mean_x*", "a_half*", "a_one*",
      "a_two*"),
    "q382_breusch_pagan" -> Seq("event_type", "n_days#", "lm_stat*",
      "sig_95"),
    "q383_dagostino_k2" -> Seq("n#", "skewness*", "kurtosis*",
      "z_skew*", "z_kurt*", "k2*", "sig_95"),
    "q384_page_trend" -> Seq("n_blocks#", "k#", "l_stat*", "e_l*",
      "z*", "sig_95"),
    "q385_sample_entropy" -> Seq("n_days#", "r_tol*", "b_count#",
      "a_count#", "sampen*"),
    "q386_avg_precision" -> Seq("n_pos#", "n_neg#", "n_scores#",
      "avg_prec*"),
    "q387_wilson_intervals" -> Seq("slice#", "n#", "conv#", "p_hat*",
      "ci_lo*", "ci_hi*"),
    "q388_hodges_lehmann" -> Seq("n_a#", "n_b#", "n_pairs#",
      "hl_shift*"),
    "q389_kendall_w" -> Seq("n_blocks#", "k#", "w_stat*", "chi2*",
      "df#", "sig_95"),
    "q390_icc" -> Seq("n#", "k#", "n0*", "f_ratio*", "icc*"),
    "q391_graph_distances" -> Seq("page#", "n_reach#", "ecc#",
      "sum_dist#", "avg_dist*"),
    "q392_dunning_llr" -> Seq("token", "cnt_a#", "cnt_b#", "llr*",
      "enriched_in_a"),
    "q393_fightin_words" -> Seq("token", "cnt_a#", "cnt_b#",
      "delta*", "z*"),
    "q394_collocations" -> Seq("w1", "w2", "cnt#", "pmi*",
      "t_score*"),
    "q395_ipw_att" -> Seq("n_treated#", "n_control#", "n_strata#",
      "n_strata_matched#", "att_ipw*", "naive_diff*"),
    "q396_burrows_delta" -> Seq("src_a", "src_b", "n_words#",
      "delta*"),
    "q397_lexical_richness" -> Seq("n_tokens#", "v_types#",
      "v1_hapax#", "v2_dis#", "ttr*", "hapax_share*", "yules_k*",
      "sichel_s*", "honore_r*"),
    "q398_energy_distance" -> Seq("n_a#", "n_b#", "e_stat*",
      "t_stat*"),
    "q399_distance_correlation" -> Seq("n_days#", "dcov2*",
      "dvarx2*", "dvary2*", "dcor*"),
    "q400_kuiper_uniformity" -> Seq("n#", "d_plus*", "d_minus*",
      "v_stat*", "sig_95"),
    "q401_seasonal_mann_kendall" -> Seq("n_days#", "k_seasons#",
      "s_stat#", "var_s*", "z*", "trend"),
    "q402_bartels_rank" -> Seq("n_days#", "rvn*", "z*", "sig_95",
      "reading"),
    "q403_watson_u2" -> Seq("n#", "w2*", "u2*", "sig_95"),
    "q404_weighted_kappa" -> Seq("n#", "k#", "d_obs*", "d_exp*",
      "kappa_w*"),
    "q405_cucconi" -> Seq("n_a#", "n_b#", "u*", "v*", "c_stat*",
      "sig_95"),
    "q406_lepage" -> Seq("n_a#", "n_b#", "z_w*", "z_a*", "l_stat*",
      "sig_95"),
    "q407_conover_sqranks" -> Seq("n_a#", "n_b#", "t_ratio*", "z*",
      "sig_95"),
    "q408_ordinal_assoc" -> Seq("n#", "c_pairs#", "d_pairs#",
      "gamma*", "somers_d*", "lambda*"),
    "q409_mcc_confusion" -> Seq("tp#", "fp#", "tn#", "fn#", "mcc*",
      "f1*", "balanced_acc*", "informedness*"),
    "q410_fleiss_kappa" -> Seq("n_items#", "m_raters#", "k_cats#",
      "p_bar*", "p_exp*", "kappa*"),
    "q428_krippendorff_alpha" -> Seq("n_items#", "n_ratings#",
      "k_cats#", "d_obs*", "d_exp*", "alpha*"),
    "q429_csv_roundtrip" -> Seq("event_type", "n#", "users#",
      "avg_value*", "props_chars#", "ts_min_us#", "ts_max_us#"),
    "q430_jsonl_roundtrip" -> Seq("event_type", "n#", "users#",
      "avg_value*", "props_chars#", "ts_min_us#", "ts_max_us#"),
    "q411_partition_agreement" -> Seq("n#", "k_a#", "k_b#", "rand*",
      "ari*", "fowlkes_mallows*"),
    "q412_turning_points" -> Seq("n_days#", "t_points#", "e_t*",
      "z*", "sig_95", "reading"),
    "q413_cox_stuart" -> Seq("n_days#", "n_pairs#", "s_plus#", "z*",
      "sig_95", "trend"),
    "q414_records_test" -> Seq("n_days#", "n_records#",
      "e_records*", "z*", "sig_95"),
    "q415_hjorth" -> Seq("n_days#", "cv*", "mobility*",
      "complexity*"),
    "q416_perm_entropy" -> Seq("n_triples#", "k_patterns#", "h*",
      "h_norm*"),
    "q417_ad_normality" -> Seq("n#", "mean*", "sd*", "a2*",
      "a2_star*", "sig_95"),
    "q418_imr_chart" -> Seq("n_days#", "mean_x*", "mr_bar*", "ucl*",
      "lcl*", "x_violations#", "mr_violations#"),
    "q419_p_chart" -> Seq("n_days#", "p_bar*", "total_events#",
      "violations_hi#", "violations_lo#"),
    "q420_hist_distances" -> Seq("n_a#", "n_b#", "k_bins#", "tv*",
      "bhattacharyya*", "hellinger*"),
    "q421_dispersion_index" -> Seq("n_days#", "mean_count*", "vmr*",
      "z*", "sig_95", "reading"),
    "q422_allan_deviation" -> Seq("n_days#", "adev_rel_1*",
      "adev_rel_2*", "adev_rel_4*", "tau_slope*"),
    "q423_nominal_assoc" -> Seq("n#", "u_yx*", "u_xy*", "tau_yx*",
      "tau_xy*"),
    "q424_cressie_read" -> Seq("k#", "n_a#", "n_b#", "cr_stat*",
      "sig_95"),
    "q425_poisson_rate" -> Seq("n_a#", "n_b#", "days_a#", "days_b#",
      "rate_a*", "rate_b*", "rate_ratio*", "z*", "sig_95"),
    "q426_grubbs" -> Seq("n_days#", "mean*", "sd*", "g_stat*",
      "g_crit_95*", "sig_95", "worst_day"),
    "q427_gesd" -> Seq("round#", "n_days#", "g_stat*",
      "g_crit_95*", "worst_day", "flagged"),
    "q140_bpe_train" -> Seq("rank#", "left", "right", "merged",
      "cnt#"),
    "q162_mmr_rerank" -> Seq("query_id#", "neighbor_id#",
      "mmr_score*", "mmr_rank#"),
    "q163_bpe_fertility" -> Seq("lang", "n_words#", "n_bpe_tokens#",
      "n_chars#", "fertility*", "chars_per_token*"),
    "q185_markov_attribution" -> Seq("channel", "removal_effect*",
      "attribution*"),
    "q241_embedding_covariance" -> Seq("i#", "j#", "cov*"),
    "q297_c4_rules" -> Seq("source", "n_docs#", "n_brace#", "n_lorem#",
      "n_js#", "n_policy#", "n_short#", "mean_line_term_share*",
      "n_keep#"),
    "q298_gopher_rules" -> Seq("source", "n_docs#", "fail_word_count#",
      "fail_mean_word_len#", "fail_alpha_share#", "fail_stopwords#",
      "fail_top_bigram#", "n_pass#"),
    "q301_kendall_tau" -> Seq("n_pairs#", "concordant#", "discordant#",
      "ties_x#", "ties_y#", "tau_b*"),
    "q303_line_dedup" -> Seq("source", "n_lines#", "n_boiler_lines#",
      "boiler_line_share*", "n_chars#", "boiler_char_share*"),
    "q304_line_rules" -> Seq("source", "n_docs#", "fail_bullet#",
      "fail_ellipsis#", "mean_bullet_share*", "mean_ellipsis_share*"),
    "q309_trend_proportions" -> Seq("n_groups#", "n_total#",
      "n_success#", "p_pooled*", "z_trend*", "sig_95"),
    "q310_mcnemar" -> Seq("n_users#", "n_00#", "n_01#", "n_10#",
      "n_11#", "chi2*", "sig_95"),
    "q313_cem_att" -> Seq("n_treated#", "n_control#", "n_strata#",
      "n_strata_matched#", "n_treated_matched#", "att*",
      "naive_diff*"),
    "q319_encoding_audit" -> Seq("source", "n_docs#", "n_replacement#",
      "n_control#", "mean_non_ascii_share*"),
    "q327_stream_encoding_audit" -> Seq("source", "n_docs#",
      "n_replacement#", "n_control#", "mean_non_ascii_share*"),
    "q328_qini" -> Seq("score_ge*", "n_t#", "n_c#", "conv_t#",
      "conv_c#", "uplift*", "qini*"),
    "q334_cochran_q" -> Seq("treatment", "n_units#", "successes#",
      "rate*", "q_stat*", "df#"),
    "q431_quade" -> Seq("treatment", "n_blocks#", "s_j*",
      "f_stat*", "df1#", "df2#"),
    "q432_conover_iman" -> Seq("t_a", "t_b", "r_a*", "r_b*",
      "t_stat*", "t_crit*", "sig_bonf", "df#"),
    "q433_bws" -> Seq("n_a#", "n_b#", "b_a*", "b_b*", "b_stat*",
      "sig_95"),
    "q434_pettitt" -> Seq("n_days#", "k_stat#", "change_day",
      "p_approx*", "sig_95"),
    "q435_kpss" -> Seq("n_days#", "lag_l#", "eta*", "sig_95"),
    "q436_dickey_fuller" -> Seq("n_obs#", "beta*", "tau*", "sig_95"),
    "q437_lmoments" -> Seq("n_days#", "l1*", "l2*", "l_cv*",
      "l_skew*", "l_kurt*"),
    "q438_theta" -> Seq("n_days#", "ols_slope*", "ses_level*",
      "forecast_ses*", "forecast_theta*", "mae_ses*", "mae_theta*"),
    "q439_croston" -> Seq("n_days#", "n_demand_days#", "zero_share*",
      "z_hat*", "p_hat*", "forecast*", "forecast_sba*"),
    "q440_c_chart" -> Seq("n_days#", "c_bar*", "ucl*", "lcl*",
      "violations_hi#", "violations_lo#"),
    "q441_u_chart" -> Seq("n_days#", "u_bar*", "total_errors#",
      "violations_hi#", "violations_lo#"),
    "q442_seasonal_strength" -> Seq("n_used#", "f_trend*",
      "f_seasonal*", "dominant"),
    "q443_weco_rules" -> Seq("n_days#", "x_bar*", "sigma_hat*",
      "r1_days#", "r2_days#", "r3_days#", "r4_days#"),
    "q444_damped_holt" -> Seq("event_type", "n_days#", "level*",
      "trend*", "forecast_next*", "forecast_inf*", "mae_backtest*"),
    "q445_jonckheere" -> Seq("n#", "k_groups#", "j_stat*", "mu*",
      "sigma*", "z*", "sig_95"),
    "q446_diebold_mariano" -> Seq("n_eval#", "mae_ses*",
      "mae_snaive*", "d_bar*", "dm_stat*", "dm_hln*", "sig_95"),
    "q447_tracking_signal" -> Seq("n_days#", "n_eval#", "e_smooth*",
      "mad_smooth*", "tracking_signal*", "alarm_days#"),
    "q448_engle_granger" -> Seq("n_days#", "ols_alpha*", "ols_beta*",
      "r2*", "eg_rho*", "tau*", "cointegrated"),
    "q449_hac_trend" -> Seq("n_days#", "lag_l#", "slope*", "se_ols*",
      "se_nw*", "t_ols*", "t_nw*", "sig_95"),
    "q450_intradoc_repetition" -> Seq("source", "n_docs#",
      "mean_dup5_share*", "max_dup5_share*", "n_fail#"),
    "q451_holt_winters" -> Seq("n_days#", "n_eval#", "level*",
      "trend*", "seas_next*", "seas_spread*", "forecast_next*",
      "mae_backtest*"),
    "q341_competing_risks" -> Seq("t_days#", "n_risk#", "d_purchase#",
      "d_error#", "cif_purchase*", "cif_error*"),
    "q344_simpsons" -> Seq("stratum", "n_treated#", "n_control#",
      "rate_treated*", "rate_control*", "diff*",
      "agrees_with_pooled"),
  )

  /** The public query contract: [[registered]] with [[canonPlan]]'s
    * canonicalization applied (queries without a plan entry pass
    * through untouched). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registered.map { case (n, f) =>
      canonPlan.get(n) match {
        case None => n -> f
        case Some(markers) =>
          val stars =
            markers.collect { case m if m.endsWith("*") => m.dropRight(1) }
          if (stars.isEmpty) n -> f
          else n -> { (s: SparkSession, d: String) =>
            graft.util.Canon.microsify(f(s, d), stars: _*) }
      }
    }

  /** The public oracle contract: [[registeredOracleSql]] with
    * [[canonPlan]] mirrored onto the SQL side. */
  def oracleSql: Map[String, String] =
    registeredOracleSql.map { case (n, sql) =>
      n -> canonPlan.get(n)
        .map(m => graft.util.Canon.microsifySql(sql, m)).getOrElse(sql)
    }
}
