package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.PrefixSum

/** Kaplan–Meier survival estimation over user lifetimes (Kaplan &
  * Meier, JASA 1958) — the censoring-aware retention curve: q121's
  * cohort retention counts users active at day k, but users whose
  * observation window ends while STILL ACTIVE are not churners, and
  * ignoring that right-censoring biases every lifetime statistic
  * downward. KM is the standard fix: at each observed lifetime t,
  * S(t) ← S(t−)·(1 − d_t/n_t) over the users still at risk.
  *
  * Scale shape: one grouped agg to per-user (first, last) lifetimes,
  * then ALL survival arithmetic happens on the lifetime-cardinality
  * risk table (≤ observation-window days) with ordered-frame windows
  * — same-partition, explicitly framed, NOT the stacked-unbounded
  * corruption shape. The corpus is touched exactly once. */
object Survival {

  /** KM curve `(t_days, n_risk, n_events, survival)` at every
    * lifetime with ≥ 1 uncensored end. A user is censored when their
    * last event falls within `horizonDays` of the corpus max date
    * (still active at the edge of observation). The terminal
    * all-remaining-users-exit point (d = n) pins S to 0 explicitly —
    * both engines would otherwise disagree on log(0). */
  def kaplanMeier(events: DataFrame, horizonDays: Int = 3): DataFrame = {
    val per = events.groupBy("user_id").agg(
      min(to_date(col("ts"))).as("__f"),
      max(to_date(col("ts"))).as("__l"))
    val mx = per.agg(max("__l").as("__mx"), count(lit(1)).as("__n"))
    val obs = per.crossJoin(broadcast(mx))   // 1-row stat factor
      .select(
        datediff(col("__l"), col("__f")).cast("double").as("t"),
        (datediff(col("__mx"), col("__l")) < horizonDays).as("__cens"),
        col("__n"))
    val tbl = obs.groupBy("t").agg(
      sum(when(!col("__cens"), 1L).otherwise(0L)).as("d"),
      count(lit(1)).as("__ended"),
      first("__n").as("__n"))
    // kept: the double log/hazard sums share t; lifetimes are days
    val wBefore = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, 0)
    val withRisk = tbl
      .withColumn("n_risk",
        col("__n") - coalesce(sum("__ended").over(wBefore), lit(0L)))
      .where(col("d") > 0)
    val term = lit(1.0) - col("d").cast("double") / col("n_risk")
    withRisk
      .withColumn("__hit0", max(when(col("d") === col("n_risk"), 1)
        .otherwise(0)).over(wCum))
      .withColumn("survival",
        round(when(col("__hit0") === 1, lit(0.0))
          .otherwise(exp(sum(log(term)).over(wCum))), 6))
      .select(col("t").cast("bigint").as("t_days"),
        col("n_risk"), col("d").as("n_events"), col("survival"))
      .orderBy("t_days")
  }

  /** Aalen–Johansen cumulative incidence under competing risks
    * (Aalen & Johansen, Scand. J. Stat. 1978): when two absorbing
    * outcomes compete — here "first purchase" vs "first error" from a
    * user's journey start — 1−KM per cause OVERSTATES both (it treats
    * the competitor as censoring); the AJ estimator allocates each
    * day's event-free mass S(t−) across causes:
    * CIFₖ(t) = Σ_{s≤t} S(s−)·dₖ(s)/n(s). The standard churn-vs-convert
    * readout (and the reason "1 − retention" dashboards double-count).
    *
    * Ties (both causes on the same day) resolve to purchase —
    * deterministic in both engines. Users with neither outcome censor
    * at their last observed day. Same dataflow as [[kaplanMeier]]:
    * one per-user agg, then lifetime-cardinality risk-table windows.
    * Output: `(t_days, n_risk, d_purchase, d_error, cif_purchase,
    * cif_error)` at event days, ordered. */
  def competingRisks(events: DataFrame,
      cause1: String = "purchase", cause2: String = "error"): DataFrame = {
    val per = events.groupBy("user_id").agg(
      min(to_date(col("ts"))).as("__f"),
      min(when(col("event_type") === cause1, to_date(col("ts"))))
        .as("__p"),
      min(when(col("event_type") === cause2, to_date(col("ts"))))
        .as("__e"),
      max(to_date(col("ts"))).as("__l"))
    val n0 = per.agg(count(lit(1)).as("__n"))
    val tp = datediff(col("__p"), col("__f")).cast("double")
    val te = datediff(col("__e"), col("__f")).cast("double")
    val obs = per.crossJoin(broadcast(n0))   // 1-row stat factor
      .select(
        when(col("__p").isNotNull &&
            (col("__e").isNull || tp <= te), tp)
          .when(col("__e").isNotNull, te)
          .otherwise(datediff(col("__l"), col("__f")).cast("double"))
          .as("t"),
        when(col("__p").isNotNull &&
            (col("__e").isNull || tp <= te), lit(1))
          .when(col("__e").isNotNull, lit(2)).otherwise(lit(0))
          .as("__cause"),
        col("__n"))
    val tbl = obs.groupBy("t").agg(
      sum(when(col("__cause") === 1, 1L).otherwise(0L)).as("d1"),
      sum(when(col("__cause") === 2, 1L).otherwise(0L)).as("d2"),
      count(lit(1)).as("__ended"), first("__n").as("__n"))
    // kept: the double log/hazard sums share t; lifetimes are days
    val wBefore = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, 0)
    val withRisk = tbl.withColumn("n_risk",
      col("__n") - coalesce(sum("__ended").over(wBefore), lit(0L)))
    val d = (col("d1") + col("d2")).cast("double")
    val term = lit(1.0) - d / col("n_risk")
    val enriched = withRisk
      .withColumn("__dead0",
        coalesce(max(when(col("d1") + col("d2") === col("n_risk"), 1)
          .otherwise(0)).over(wBefore), lit(0)))
      .withColumn("__sminus",
        when(col("__dead0") === 1, lit(0.0)).otherwise(
          exp(coalesce(sum(when(term > 0.0, log(term))
            .otherwise(lit(0.0))).over(wBefore), lit(0.0)))))
    enriched
      .withColumn("cif_purchase", round(sum(
        col("__sminus") * col("d1").cast("double") / col("n_risk"))
        .over(wCum), 6))
      .withColumn("cif_error", round(sum(
        col("__sminus") * col("d2").cast("double") / col("n_risk"))
        .over(wCum), 6))
      .where(col("d1") + col("d2") > 0)
      .select(col("t").cast("bigint").as("t_days"), col("n_risk"),
        col("d1").as("d_purchase"), col("d2").as("d_error"),
        col("cif_purchase"), col("cif_error"))
      .orderBy("t_days")
  }

  /** DuckDB oracle for [[competingRisks]] (defaults). */
  val competingRisksOracleSql: String =
    """WITH per AS (
      |  SELECT user_id, MIN(CAST(ts AS DATE)) AS f,
      |    MIN(CASE WHEN event_type = 'purchase'
      |      THEN CAST(ts AS DATE) END) AS p,
      |    MIN(CASE WHEN event_type = 'error'
      |      THEN CAST(ts AS DATE) END) AS e,
      |    MAX(CAST(ts AS DATE)) AS l
      |  FROM events GROUP BY 1),
      |n0 AS (SELECT COUNT(*) AS n FROM per),
      |obs AS (
      |  SELECT CASE
      |      WHEN p IS NOT NULL AND (e IS NULL OR
      |        CAST(p - f AS DOUBLE) <= CAST(e - f AS DOUBLE))
      |        THEN CAST(p - f AS DOUBLE)
      |      WHEN e IS NOT NULL THEN CAST(e - f AS DOUBLE)
      |      ELSE CAST(l - f AS DOUBLE) END AS t,
      |    CASE
      |      WHEN p IS NOT NULL AND (e IS NULL OR
      |        CAST(p - f AS DOUBLE) <= CAST(e - f AS DOUBLE)) THEN 1
      |      WHEN e IS NOT NULL THEN 2 ELSE 0 END AS cause,
      |    n0.n
      |  FROM per CROSS JOIN n0),
      |tbl AS (
      |  SELECT t,
      |    SUM(CASE WHEN cause = 1 THEN 1 ELSE 0 END) AS d1,
      |    SUM(CASE WHEN cause = 2 THEN 1 ELSE 0 END) AS d2,
      |    COUNT(*) AS ended, ANY_VALUE(n) AS n
      |  FROM obs GROUP BY 1),
      |risk AS (
      |  SELECT *, n - COALESCE(SUM(ended) OVER (ORDER BY t
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS n_risk
      |  FROM tbl),
      |sm AS (
      |  SELECT *,
      |    COALESCE(MAX(CASE WHEN d1 + d2 = n_risk THEN 1 ELSE 0 END)
      |      OVER (ORDER BY t
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS dead0,
      |    EXP(COALESCE(SUM(CASE WHEN
      |        1.0 - CAST(d1 + d2 AS DOUBLE) / n_risk > 0
      |      THEN LN(1.0 - CAST(d1 + d2 AS DOUBLE) / n_risk)
      |      ELSE 0.0 END) OVER (ORDER BY t
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0))
      |      AS sexp
      |  FROM risk),
      |cif AS (
      |  SELECT t, n_risk, d1, d2,
      |    SUM((CASE WHEN dead0 = 1 THEN 0.0 ELSE sexp END) *
      |      CAST(d1 AS DOUBLE) / n_risk) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
      |    SUM((CASE WHEN dead0 = 1 THEN 0.0 ELSE sexp END) *
      |      CAST(d2 AS DOUBLE) / n_risk) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2
      |  FROM sm)
      |SELECT CAST(t AS BIGINT) AS t_days, n_risk,
      |  d1 AS d_purchase, d2 AS d_error,
      |  ROUND(c1, 6) AS cif_purchase, ROUND(c2, 6) AS cif_error
      |FROM cif WHERE d1 + d2 > 0 ORDER BY t_days""".stripMargin

  /** The two-cohort risk table [[logRank]] and [[gehanWilcoxon]] read:
    * per lifetime `t` with ≥ 1 uncensored end, the ends `d` (cohort 1:
    * `d1`), the users still at risk `n` (cohort 1: `n1`) and the user
    * count `__nall`. A user with no timestamp has no lifetime and is
    * dropped. */
  private def twoCohortRisk(events: DataFrame,
      cohort: org.apache.spark.sql.Column, horizonDays: Int): DataFrame = {
    val per = events.groupBy("user_id").agg(
      min(to_date(col("ts"))).as("__f"),
      max(to_date(col("ts"))).as("__l"),
      first(cohort).as("__g"))
    val mx = per.agg(max("__l").as("__mx"))
    val obs = per.crossJoin(broadcast(mx))
      .select(
        datediff(col("__l"), col("__f")).cast("double").as("t"),
        (datediff(col("__mx"), col("__l")) < horizonDays).as("__cens"),
        col("__g").cast("boolean").as("__g"))
      .where(col("t").isNotNull)
    val tbl = obs.groupBy("t").agg(
      sum(when(!col("__cens") && col("__g"), 1L).otherwise(0L)).as("d1"),
      sum(when(!col("__cens"), 1L).otherwise(0L)).as("d"),
      sum(when(col("__g"), 1L).otherwise(0L)).as("__end1"),
      count(lit(1)).as("__end"))
    val tot = obs.agg(
      sum(when(col("__g"), 1L).otherwise(0L)).as("__n1all"),
      count(lit(1)).as("__nall"))
    // at risk at t: everyone less the lifetimes that ended before t
    // (one row per lifetime in days: bounded by the span, one task)
    PrefixSum.running(tbl, "t", Seq("__end", "__end1"), Nil)
      .crossJoin(broadcast(tot))   // 1-row stat factor
      .withColumn("n", col("__nall") - col("__end_cum") + col("__end"))
      .withColumn("n1", col("__n1all") - col("__end1_cum") + col("__end1"))
      .where(col("d") > 0)
  }

  /** Log-rank test between two cohorts' survival curves (Mantel
    * 1966) — the hypothesis test that belongs next to [[kaplanMeier]]
    * the way Welch belongs next to a mean: at every event time the
    * observed cohort-1 deaths are compared to the expectation under
    * "both curves identical" (hypergeometric mean d·n₁/n), and χ² =
    * (Σ(O−E))²/ΣV with the hypergeometric variance. Significance
    * against the 1-df χ² thresholds (3.841/6.635) in closed form.
    *
    * Same dataflow as KM: one per-user agg, then the per-cohort risk
    * table over the lifetime-cardinality frame. */
  def logRank(events: DataFrame, cohort: org.apache.spark.sql.Column,
      horizonDays: Int = 3): DataFrame = {
    val risk = twoCohortRisk(events, cohort, horizonDays)
    val dD = col("d").cast("double")
    val nD = col("n").cast("double")
    val n1D = col("n1").cast("double")
    val e1 = dD * n1D / nD
    val v = when(col("n") > 1,
      dD * (n1D / nD) * (lit(1.0) - n1D / nD) * (nD - dD) / (nD - 1.0))
      .otherwise(lit(0.0))
    val g = risk.agg(
      sum("d1").cast("bigint").as("o1"),
      sum(e1).as("__e1"),
      sum(v).as("__v"),
      count(lit(1)).as("n_times"))
    val chi = when(col("__v") > 0.0,
      pow(col("o1").cast("double") - col("__e1"), 2) / col("__v"))
      .otherwise(lit(0.0))
    g.select(
      col("n_times"), col("o1"),
      round(col("__e1"), 6).as("e1"),
      round(chi, 6).as("chi_sq"),
      (chi > 3.841).as("sig_95"),
      (chi > 6.635).as("sig_99"))
  }

  /** DuckDB oracle for the registered log-rank fixture (cohort =
    * user-id parity). */
  def logRankOracleSql(horizonDays: Int = 3): String =
    s"""WITH per AS (
       |  SELECT user_id, MIN(CAST(ts AS DATE)) AS f,
       |    MAX(CAST(ts AS DATE)) AS l, user_id % 2 = 1 AS g
       |  FROM events GROUP BY 1, 4),
       |mx AS (SELECT MAX(l) AS m FROM per),
       |obs AS (
       |  SELECT CAST(date_diff('day', f, l) AS DOUBLE) AS t,
       |    date_diff('day', l, (SELECT m FROM mx)) < $horizonDays
       |      AS cens, g
       |  FROM per),
       |tbl AS (
       |  SELECT t,
       |    SUM(CASE WHEN NOT cens AND g THEN 1 ELSE 0 END) AS d1,
       |    SUM(CASE WHEN NOT cens THEN 1 ELSE 0 END) AS d,
       |    SUM(CASE WHEN g THEN 1 ELSE 0 END) AS end1,
       |    COUNT(*) AS ended
       |  FROM obs GROUP BY 1),
       |tot AS (
       |  SELECT SUM(CASE WHEN g THEN 1 ELSE 0 END) AS n1all,
       |    COUNT(*) AS nall
       |  FROM obs),
       |r AS (
       |  SELECT t, d1, d,
       |    (SELECT nall FROM tot) - COALESCE(SUM(ended) OVER (
       |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND
       |      1 PRECEDING), 0) AS n,
       |    (SELECT n1all FROM tot) - COALESCE(SUM(end1) OVER (
       |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND
       |      1 PRECEDING), 0) AS n1
       |  FROM tbl),
       |k AS (
       |  SELECT COUNT(*) AS n_times, SUM(d1) AS o1,
       |    SUM(CAST(d AS DOUBLE) * n1 / n) AS e1,
       |    SUM(CASE WHEN n > 1 THEN CAST(d AS DOUBLE) *
       |      (CAST(n1 AS DOUBLE) / n) * (1.0 - CAST(n1 AS DOUBLE) / n)
       |      * (n - d) / (n - 1.0) ELSE 0.0 END) AS v
       |  FROM r WHERE d > 0)
       |SELECT CAST(n_times AS BIGINT) AS n_times,
       |  CAST(o1 AS BIGINT) AS o1,
       |  ROUND(e1, 6) AS e1,
       |  ROUND(CASE WHEN v > 0 THEN pow(o1 - e1, 2) / v ELSE 0.0 END, 6)
       |    AS chi_sq,
       |  CASE WHEN v > 0 THEN pow(o1 - e1, 2) / v ELSE 0.0 END > 3.841
       |    AS sig_95,
       |  CASE WHEN v > 0 THEN pow(o1 - e1, 2) / v ELSE 0.0 END > 6.635
       |    AS sig_99
       |FROM k""".stripMargin

  /** DuckDB oracle for [[kaplanMeier]] on events. */
  def kmOracleSql(horizonDays: Int = 3): String =
    s"""WITH per AS (
       |  SELECT user_id, MIN(CAST(ts AS DATE)) AS f,
       |    MAX(CAST(ts AS DATE)) AS l
       |  FROM events GROUP BY 1),
       |mx AS (SELECT MAX(l) AS m, COUNT(*) AS n FROM per),
       |obs AS (
       |  SELECT CAST(date_diff('day', f, l) AS DOUBLE) AS t,
       |    date_diff('day', l, (SELECT m FROM mx)) < $horizonDays
       |      AS cens
       |  FROM per),
       |tbl AS (
       |  SELECT t,
       |    SUM(CASE WHEN NOT cens THEN 1 ELSE 0 END) AS d,
       |    COUNT(*) AS ended
       |  FROM obs GROUP BY 1),
       |r AS (
       |  SELECT t, d,
       |    (SELECT n FROM mx) - COALESCE(SUM(ended) OVER (ORDER BY t
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS n_risk
       |  FROM tbl),
       |k AS (
       |  SELECT t, d, n_risk,
       |    MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER (ORDER BY t
       |      ROWS UNBOUNDED PRECEDING) AS hit0,
       |    SUM(ln(1.0 - CAST(d AS DOUBLE) / n_risk)) OVER (ORDER BY t
       |      ROWS UNBOUNDED PRECEDING) AS lsum
       |  FROM r WHERE d > 0)
       |SELECT CAST(t AS BIGINT) AS t_days,
       |  CAST(n_risk AS BIGINT) AS n_risk,
       |  CAST(d AS BIGINT) AS n_events,
       |  ROUND(CASE WHEN hit0 = 1 THEN 0.0 ELSE exp(lsum) END, 6)
       |    AS survival
       |FROM k ORDER BY t_days""".stripMargin

  /** Restricted mean survival time (Irwin 1949; Royston & Parmar,
    * Stat. Med. 2011) — the AREA under the [[kaplanMeier]] curve up
    * to τ = the last observed event time: "expected active days per
    * user within the observation window", the single-number summary
    * a median-survival readout can't give when the curve never
    * crosses 0.5. The variance is the standard Klein–Moeschberger
    * §4.5 form Var = Σᵢ Aᵢ²·dᵢ/(nᵢ(nᵢ−dᵢ)) with Aᵢ the area from tᵢ
    * to τ (rows where the whole risk set exits contribute 0 — their
    * Aᵢ is 0 anyway).
    *
    * Same dataflow as [[kaplanMeier]]: one corpus pass to per-user
    * lifetimes, then every integral/variance term is an ordered
    * window over the lifetime-cardinality risk table. One row
    * `(tau_days, n_steps, rmst, rmst_se)`. */
  def rmst(events: DataFrame, horizonDays: Int = 3): DataFrame = {
    val per = events.groupBy("user_id").agg(
      min(to_date(col("ts"))).as("__f"),
      max(to_date(col("ts"))).as("__l"))
    val mx = per.agg(max("__l").as("__mx"), count(lit(1)).as("__n"))
    val obs = per.crossJoin(broadcast(mx))   // 1-row stat factor
      .select(
        datediff(col("__l"), col("__f")).cast("double").as("t"),
        (datediff(col("__mx"), col("__l")) < horizonDays).as("__cens"),
        col("__n"))
    val tbl = obs.groupBy("t").agg(
      sum(when(!col("__cens"), 1L).otherwise(0L)).as("d"),
      count(lit(1)).as("__ended"),
      first("__n").as("__n"))
    // kept: the double log/hazard sums share t; lifetimes are days
    val wBefore = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wOrd = Window.orderBy("t")
    val withRisk = tbl
      .withColumn("n_risk",
        col("__n") - coalesce(sum("__ended").over(wBefore), lit(0L)))
      .where(col("d") > 0)
    val term = lit(1.0) - col("d").cast("double") / col("n_risk")
    val steps = withRisk
      .withColumn("__hit0", max(when(col("d") === col("n_risk"), 1)
        .otherwise(0)).over(wCum))
      .withColumn("__s", when(col("__hit0") === 1, lit(0.0))
        .otherwise(exp(sum(log(term)).over(wCum))))
      .withColumn("__sprev", coalesce(lag("__s", 1).over(wOrd), lit(1.0)))
      .withColumn("__tprev", coalesce(lag("t", 1).over(wOrd), lit(0.0)))
      .withColumn("__seg", col("__sprev") * (col("t") - col("__tprev")))
      .withColumn("__cum", sum("__seg").over(wCum))
    val tot = steps.agg(max("t").as("__tau"),
      count(lit(1)).as("__k"), sum("__seg").as("__rmst"))
    val nD = col("n_risk").cast("double")
    val dD = col("d").cast("double")
    steps.crossJoin(broadcast(tot))   // 1-row stat factor
      .agg(
        first("__tau").as("__tau2"), first("__k").as("__k2"),
        first("__rmst").as("__r2"),
        sum(when(col("d") < col("n_risk"),
          pow(col("__rmst") - col("__cum"), 2) * dD /
            (nD * (nD - dD))).otherwise(lit(0.0))).as("__var"))
      .select(
        col("__tau2").cast("bigint").as("tau_days"),
        col("__k2").cast("bigint").as("n_steps"),
        round(col("__r2"), 6).as("rmst"),
        round(sqrt(col("__var")), 6).as("rmst_se"))
  }

  /** DuckDB oracle for [[rmst]] on events. */
  def rmstOracleSql(horizonDays: Int = 3): String =
    s"""WITH per AS (
       |  SELECT user_id, MIN(CAST(ts AS DATE)) AS f,
       |    MAX(CAST(ts AS DATE)) AS l
       |  FROM events GROUP BY 1),
       |mx AS (SELECT MAX(l) AS m, COUNT(*) AS n FROM per),
       |obs AS (
       |  SELECT CAST(date_diff('day', f, l) AS DOUBLE) AS t,
       |    date_diff('day', l, (SELECT m FROM mx)) < $horizonDays
       |      AS cens
       |  FROM per),
       |tbl AS (
       |  SELECT t,
       |    SUM(CASE WHEN NOT cens THEN 1 ELSE 0 END) AS d,
       |    COUNT(*) AS ended
       |  FROM obs GROUP BY 1),
       |r AS (
       |  SELECT t, d,
       |    (SELECT n FROM mx) - COALESCE(SUM(ended) OVER (ORDER BY t
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS n_risk
       |  FROM tbl),
       |k AS (
       |  SELECT t, d, n_risk,
       |    MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER (ORDER BY t
       |      ROWS UNBOUNDED PRECEDING) AS hit0,
       |    SUM(ln(1.0 - CAST(d AS DOUBLE) / n_risk)) OVER (ORDER BY t
       |      ROWS UNBOUNDED PRECEDING) AS lsum
       |  FROM r WHERE d > 0),
       |s AS (
       |  SELECT t, d, n_risk,
       |    CASE WHEN hit0 = 1 THEN 0.0 ELSE exp(lsum) END AS surv
       |  FROM k),
       |st AS (
       |  SELECT *, COALESCE(LAG(surv) OVER (ORDER BY t), 1.0) AS sprev,
       |    COALESCE(LAG(t) OVER (ORDER BY t), 0.0) AS tprev
       |  FROM s),
       |seg AS (
       |  SELECT *, sprev * (t - tprev) AS seg,
       |    SUM(sprev * (t - tprev)) OVER (ORDER BY t
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM st),
       |tot AS (SELECT MAX(t) AS tau, COUNT(*) AS k2,
       |  SUM(seg) AS rm FROM seg)
       |SELECT CAST(tau AS BIGINT) AS tau_days,
       |  CAST(k2 AS BIGINT) AS n_steps,
       |  ROUND(rm, 6) AS rmst,
       |  ROUND(SQRT(SUM(CASE WHEN d < n_risk
       |    THEN POW(rm - cum, 2) * d /
       |      (CAST(n_risk AS DOUBLE) * (n_risk - d))
       |    ELSE 0.0 END)), 6) AS rmst_se
       |FROM seg, tot GROUP BY tau, k2, rm""".stripMargin

  /** Gehan–Breslow generalized Wilcoxon test (Gehan, Biometrika
    * 1965; Breslow 1970) — the weighted [[logRank]]: each event
    * time's (O−E) and variance are weighted by the NORMALIZED risk
    * count n/N, so EARLY divergence between the cohorts' survival
    * curves (where most users are still at risk) moves the statistic
    * far more than late-tail divergence. Log-rank answers "do the
    * curves differ anywhere"; this answers "do they differ early" —
    * the onboarding-cohort question. χ² is scale-invariant in the
    * weights, so the n/N normalization changes nothing statistically
    * while keeping the reported sums O(1).
    *
    * Same single corpus pass + lifetime-cardinality risk table as
    * [[logRank]]. One row `(n_times, o1, w_diff, w_var,
    * chi_sq, sig_95, sig_99)`. */
  def gehanWilcoxon(events: DataFrame,
      cohort: org.apache.spark.sql.Column,
      horizonDays: Int = 3): DataFrame = {
    val risk = twoCohortRisk(events, cohort, horizonDays)
    val dD = col("d").cast("double")
    val nD = col("n").cast("double")
    val n1D = col("n1").cast("double")
    val w = nD / col("__nall").cast("double")
    val e1 = dD * n1D / nD
    val v = when(col("n") > 1,
      dD * (n1D / nD) * (lit(1.0) - n1D / nD) * (nD - dD) / (nD - 1.0))
      .otherwise(lit(0.0))
    val g = risk.agg(
      sum("d1").cast("bigint").as("o1"),
      sum(w * (col("d1").cast("double") - e1)).as("__woe"),
      sum(w * w * v).as("__wv"),
      count(lit(1)).as("n_times"))
    val chi = when(col("__wv") > 0.0,
      pow(col("__woe"), 2) / col("__wv")).otherwise(lit(0.0))
    g.select(
      col("n_times"), col("o1"),
      round(col("__woe"), 6).as("w_diff"),
      round(col("__wv"), 6).as("w_var"),
      round(chi, 6).as("chi_sq"),
      (chi > 3.841).as("sig_95"),
      (chi > 6.635).as("sig_99"))
  }

  /** DuckDB oracle for the registered Gehan–Wilcoxon fixture
    * (cohort = user-id parity, the [[logRankOracleSql]] fixture). */
  def gehanOracleSql(horizonDays: Int = 3): String =
    s"""WITH per AS (
       |  SELECT user_id, MIN(CAST(ts AS DATE)) AS f,
       |    MAX(CAST(ts AS DATE)) AS l, user_id % 2 = 1 AS g
       |  FROM events GROUP BY 1, 4),
       |mx AS (SELECT MAX(l) AS m FROM per),
       |obs AS (
       |  SELECT CAST(date_diff('day', f, l) AS DOUBLE) AS t,
       |    date_diff('day', l, (SELECT m FROM mx)) < $horizonDays
       |      AS cens, g
       |  FROM per),
       |tbl AS (
       |  SELECT t,
       |    SUM(CASE WHEN NOT cens AND g THEN 1 ELSE 0 END) AS d1,
       |    SUM(CASE WHEN NOT cens THEN 1 ELSE 0 END) AS d,
       |    SUM(CASE WHEN g THEN 1 ELSE 0 END) AS end1,
       |    COUNT(*) AS ended
       |  FROM obs GROUP BY 1),
       |tot AS (
       |  SELECT SUM(CASE WHEN g THEN 1 ELSE 0 END) AS n1all,
       |    COUNT(*) AS nall
       |  FROM obs),
       |r AS (
       |  SELECT t, d1, d, (SELECT nall FROM tot) AS nall,
       |    (SELECT nall FROM tot) - COALESCE(SUM(ended) OVER (
       |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND
       |      1 PRECEDING), 0) AS n,
       |    (SELECT n1all FROM tot) - COALESCE(SUM(end1) OVER (
       |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND
       |      1 PRECEDING), 0) AS n1
       |  FROM tbl),
       |k AS (
       |  SELECT COUNT(*) AS n_times, SUM(d1) AS o1,
       |    SUM((CAST(n AS DOUBLE) / nall) *
       |      (d1 - CAST(d AS DOUBLE) * n1 / n)) AS woe,
       |    SUM(POW(CAST(n AS DOUBLE) / nall, 2) *
       |      (CASE WHEN n > 1 THEN CAST(d AS DOUBLE) *
       |        (CAST(n1 AS DOUBLE) / n) *
       |        (1.0 - CAST(n1 AS DOUBLE) / n)
       |        * (n - d) / (n - 1.0) ELSE 0.0 END)) AS wv
       |  FROM r WHERE d > 0)
       |SELECT CAST(n_times AS BIGINT) AS n_times,
       |  CAST(o1 AS BIGINT) AS o1,
       |  ROUND(woe, 6) AS w_diff,
       |  ROUND(wv, 6) AS w_var,
       |  ROUND(CASE WHEN wv > 0 THEN pow(woe, 2) / wv ELSE 0.0 END, 6)
       |    AS chi_sq,
       |  CASE WHEN wv > 0 THEN pow(woe, 2) / wv ELSE 0.0 END > 3.841
       |    AS sig_95,
       |  CASE WHEN wv > 0 THEN pow(woe, 2) / wv ELSE 0.0 END > 6.635
       |    AS sig_99
       |FROM k""".stripMargin

  /** Nelson–Aalen cumulative hazard with the Greenwood standard
    * error (Nelson 1972; Aalen 1978; Greenwood 1926) — the
    * inferential companion to [[kaplanMeier]]: H(t) = Σ d/n is the
    * additive hazard view (more stable than −log S in small risk
    * sets), exp(−H) its survival estimate, and the Greenwood SE
    * S·√(Σ d/(n(n−d))) is what turns the KM point curve into a
    * confidence band. Same censoring convention and risk-table
    * construction as [[kaplanMeier]]; same scale shape (one corpus
    * pass, lifetime-cardinality windows).
    *
    * Rows where the full risk set exits (d = n) pin S to 0 and
    * carry a NULL SE (the Greenwood term divides by n−d). */
  def nelsonAalen(events: DataFrame, horizonDays: Int = 3): DataFrame = {
    val per = events.groupBy("user_id").agg(
      min(to_date(col("ts"))).as("__f"),
      max(to_date(col("ts"))).as("__l"))
    val mx = per.agg(max("__l").as("__mx"), count(lit(1)).as("__n"))
    val obs = per.crossJoin(broadcast(mx))   // 1-row stat factor
      .select(
        datediff(col("__l"), col("__f")).cast("double").as("t"),
        (datediff(col("__mx"), col("__l")) < horizonDays).as("__cens"),
        col("__n"))
    val tbl = obs.groupBy("t").agg(
      sum(when(!col("__cens"), 1L).otherwise(0L)).as("d"),
      count(lit(1)).as("__ended"),
      first("__n").as("__n"))
    // kept: the double log/hazard sums share t; lifetimes are days
    val wBefore = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, 0)
    val withRisk = tbl
      .withColumn("n_risk",
        col("__n") - coalesce(sum("__ended").over(wBefore), lit(0L)))
      .where(col("d") > 0)
    val dD = col("d").cast("double")
    val nD = col("n_risk").cast("double")
    val kmTerm = when(col("d") < col("n_risk"),
      log(lit(1.0) - dD / nD))
    val gTerm = when(col("d") < col("n_risk"),
      dD / (nD * (nD - dD)))
    withRisk
      .withColumn("__h", sum(dD / nD).over(wCum))
      .withColumn("__hit0", max(when(col("d") === col("n_risk"), 1)
        .otherwise(0)).over(wCum))
      .withColumn("__lsum", sum(kmTerm).over(wCum))
      .withColumn("__g", sum(gTerm).over(wCum))
      .select(col("t").cast("bigint").as("t_days"),
        col("n_risk"), col("d").as("n_events"),
        round(col("__h"), 6).as("cum_hazard"),
        round(exp(-col("__h")), 6).as("survival_na"),
        round(when(col("__hit0") === 1, lit(null).cast("double"))
          .otherwise(exp(col("__lsum")) * sqrt(col("__g"))), 6)
          .as("greenwood_se"))
      .orderBy("t_days")
  }

  /** DuckDB oracle for [[nelsonAalen]] on events. */
  def nelsonAalenOracleSql(horizonDays: Int = 3): String =
    s"""WITH per AS (
       |  SELECT user_id, MIN(CAST(ts AS DATE)) AS f,
       |    MAX(CAST(ts AS DATE)) AS l
       |  FROM events GROUP BY 1),
       |mx AS (SELECT MAX(l) AS m, COUNT(*) AS n FROM per),
       |obs AS (
       |  SELECT CAST(date_diff('day', f, l) AS DOUBLE) AS t,
       |    date_diff('day', l, (SELECT m FROM mx)) < $horizonDays
       |      AS cens
       |  FROM per),
       |tbl AS (
       |  SELECT t,
       |    SUM(CASE WHEN NOT cens THEN 1 ELSE 0 END) AS d,
       |    COUNT(*) AS ended
       |  FROM obs GROUP BY 1),
       |r AS (
       |  SELECT t, d,
       |    (SELECT n FROM mx) - COALESCE(SUM(ended) OVER (ORDER BY t
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS n_risk
       |  FROM tbl),
       |k AS (
       |  SELECT t, d, n_risk,
       |    SUM(CAST(d AS DOUBLE) / n_risk) OVER (ORDER BY t
       |      ROWS UNBOUNDED PRECEDING) AS h,
       |    MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER (ORDER BY t
       |      ROWS UNBOUNDED PRECEDING) AS hit0,
       |    SUM(CASE WHEN d < n_risk
       |      THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk) END)
       |      OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS lsum,
       |    SUM(CASE WHEN d < n_risk
       |      THEN CAST(d AS DOUBLE) / (n_risk * (n_risk - d)) END)
       |      OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS g
       |  FROM r WHERE d > 0)
       |SELECT CAST(t AS BIGINT) AS t_days,
       |  CAST(n_risk AS BIGINT) AS n_risk,
       |  CAST(d AS BIGINT) AS n_events,
       |  ROUND(h, 6) AS cum_hazard,
       |  ROUND(exp(-h), 6) AS survival_na,
       |  ROUND(CASE WHEN hit0 = 1 THEN NULL
       |    ELSE exp(lsum) * sqrt(g) END, 6) AS greenwood_se
       |FROM k ORDER BY t_days""".stripMargin
}
