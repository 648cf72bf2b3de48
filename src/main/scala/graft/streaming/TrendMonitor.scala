package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.TableLog
import graft.operators.Regression

/** Continuous trend monitoring — the streaming face of
  * [[graft.operators.Regression.olsTrend]]: every micro-batch folds
  * its events into a per-(event_type, day) revenue-increment table
  * via a replay-safe TableLog commit, and `dashboard` re-fits the
  * per-type OLS slope/t-stat from that table on demand — "is revenue
  * trending and is the trend significant" refreshed per batch without
  * ever rescanning event history.
  *
  * Stream ≡ batch by construction (the [[ExperimentMonitor]] recipe):
  * increments are keyed (event_type, day) and the dashboard
  * RE-aggregates them, so a day split across micro-batches collapses
  * back to the daily row the batch [[Regression.olsTrend]] sees —
  * batch boundaries cannot move the fit, and the q269 DuckDB oracle
  * applies verbatim. Crash replays are effectively-once via the
  * `trend-<batchId>` commit-action tag.
  *
  * Scale shape per batch: one grouped agg over the batch (bounded by
  * the trigger), one append commit. Dashboard cost is a scan of the
  * calendar×type increment table, never the raw events.
  */
object TrendMonitor {

  private def trendAction(batchId: Long) = s"trend-$batchId"

  /** Fold one batch into the daily-increment table, replay-safe.
    * Returns rows appended (0 on a replayed batch). */
  private[graft] def ingestOnce(spark: SparkSession, batch: DataFrame,
      dailyPath: String, batchId: Long): Long =
    TableLog.commitTagged(spark, dailyPath, trendAction(batchId)) { _ =>
      batch
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(sum("value").as("y"))
    }.fold(0L)(_._2)

  /** Watch an events parquet stream; fold each micro-batch into
    * `dailyPath`. */
  def monitor(spark: SparkSession, sourceDir: String, glob: String,
      dailyPath: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): Unit =
    Streams.runBatches(spark, checkpointDir)(
      Streams.eventStream(_, sourceDir, glob, maxFilesPerTrigger)) {
      (batch, batchId) =>
        ingestOnce(batch.sparkSession, batch, dailyPath, batchId)
    }

  /** The trend dashboard over everything ingested so far:
    * re-aggregate the (event_type, day) increments, then the batch
    * OLS — identical to [[Regression.olsTrend]] over the full
    * history. */
  def dashboard(spark: SparkSession, dailyPath: String): DataFrame =
    Regression.olsTrendFromDaily(
      TableLog.read(spark, dailyPath)
        .groupBy("event_type", "d").agg(sum("y").as("y")))

  /** Holt forecast over the same ingested daily table: the streaming
    * face of [[graft.operators.Forecast.holtBacktest]]. The increment
    * table stores `y` = daily REVENUE, so this dashboard forecasts
    * revenue (the batch q280 fixture folds daily counts) — same
    * recursion, pinned by the same oracle family with `SUM(value)`
    * dailies. Stream ≡ batch exactly as [[dashboard]]: increments are
    * re-aggregated to one daily row before the fold. */
  def holtDashboard(spark: SparkSession, dailyPath: String,
      alpha: Double = 0.3, beta: Double = 0.1): DataFrame =
    graft.operators.Forecast.holtFromDaily(
      TableLog.read(spark, dailyPath)
        .groupBy("event_type", "d").agg(sum("y").as("y")),
      alpha, beta)

  /** Page–Hinkley change alarm over the same ingested daily table: the
    * streaming face of [[graft.operators.Anomaly.pageHinkley]]. The
    * increments collapse to TOTAL daily revenue before the detector
    * runs — a day split across micro-batches re-aggregates to the row
    * the batch query sees, so the q292 oracle applies verbatim. */
  def pageHinkleyDashboard(spark: SparkSession, dailyPath: String,
      delta: Double = 0.0, lambda: Double = 1000.0): DataFrame =
    graft.operators.Anomaly.pageHinkleyFromDaily(
      TableLog.read(spark, dailyPath)
        .groupBy("d").agg(sum("y").as("x")),
      delta, lambda)

  /** EWMA control chart over the same ingested daily table: the
    * streaming face of [[graft.operators.Anomaly.ewmaChart]]. Same
    * re-aggregation contract as [[pageHinkleyDashboard]], so the
    * batch oracle applies verbatim. */
  def ewmaDashboard(spark: SparkSession, dailyPath: String,
      lambda: Double = 0.2, widthL: Double = 3.0): DataFrame =
    graft.operators.Anomaly.ewmaFromDaily(
      TableLog.read(spark, dailyPath)
        .groupBy("d").agg(sum("y").as("x")),
      lambda, widthL)
}
