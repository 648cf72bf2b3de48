package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.TableLog
import graft.operators.Experiment

/** Continuous experiment monitoring — the streaming face of
  * [[graft.operators.Experiment.sequentialMsprt]]: every micro-batch
  * folds its purchase events into a per-(user, day) moment table via
  * a replay-safe TableLog commit, and `dashboard` re-derives the
  * always-valid p-value curve from that table on demand. The mSPRT is
  * exactly the test built for this deployment (its p-value stays
  * valid under continuous peeking), so "refresh the dashboard every
  * micro-batch" is statistically sound — the thing a fixed-n t-test
  * dashboard can never be.
  *
  * Stream ≡ batch by construction: increments are keyed (user, day)
  * and the dashboard RE-aggregates them, so a user-day split across
  * micro-batches collapses back to the same unit row the batch
  * computation sees — batch boundaries can't move the curve. Crash
  * replays are effectively-once via the `exp-<batchId>` commit-action
  * tag (the [[DriftMonitor]]/[[CorpusIngest]] recipe).
  *
  * Scale shape per batch: one grouped agg over the batch (bounded by
  * trigger size), one append commit. Dashboard cost is a scan of the
  * user-day-cardinality moment table, never the raw event history.
  */
object ExperimentMonitor {

  private def expAction(batchId: Long) = s"exp-$batchId"

  /** Fold one batch's purchase events into the moments table,
    * replay-safe. Returns rows appended (0 on a replayed batch). */
  private[graft] def ingestOnce(spark: SparkSession, batch: DataFrame,
      momentsPath: String, batchId: Long): Long =
    TableLog.commitTagged(spark, momentsPath, expAction(batchId)) { _ =>
      batch
        .where(col("event_type") === "purchase")
        .groupBy(col("user_id"), to_date(col("ts")).as("d"))
        .agg(sum("value").as("m"))
    }.fold(0L)(_._2)

  /** Watch an events parquet stream; fold each micro-batch into
    * `momentsPath`. AvailableNow + `maxFilesPerTrigger` bounds a
    * replayable run (the monitoring deployments drop the trigger). */
  def monitor(spark: SparkSession, sourceDir: String, glob: String,
      momentsPath: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): Unit =
    Streams.runBatches(spark, checkpointDir)(
      Streams.eventStream(_, sourceDir, glob, maxFilesPerTrigger)) {
      (batch, batchId) =>
        ingestOnce(batch.sparkSession, batch, momentsPath, batchId)
    }

  /** The always-valid dashboard over everything ingested so far:
    * re-aggregate the (user, day) increments, then the batch mSPRT.
    * Identical to running [[Experiment.sequentialMsprt]] over the
    * full history — the batch-equivalence the spec pins. */
  def dashboard(spark: SparkSession, momentsPath: String,
      tau: Double): DataFrame = {
    val units = TableLog.read(spark, momentsPath)
      .groupBy("user_id", "d").agg(sum("m").as("m"))
    Experiment.sequentialMsprt(units,
      col("user_id") % 2 === 1, col("d"), col("m"), tau)
  }
}
