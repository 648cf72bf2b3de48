package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.TableLog
import graft.operators.Reliability

/** Continuous engagement-reliability monitoring — the streaming face
  * of [[Reliability.cronbachAlpha]]: every event micro-batch folds
  * its per-(user, event_type) counts into a replay-safe increment
  * table, and the dashboard re-aggregates the cells and re-runs the
  * alpha moments — "is the composite engagement score still
  * measuring one trait" refreshed per batch without rescanning event
  * history.
  *
  * Stream ≡ batch by construction (the [[CorpusHealth]] recipe): the
  * unit×item CELL COUNTS are additive across batches, and
  * [[Reliability.cronbachFromCells]] consumes the re-aggregated
  * cells — so batch boundaries cannot move the statistic and the
  * q364 DuckDB oracle applies verbatim. Crash replays are
  * effectively-once via the `engmat-<batchId>` commit-action tag.
  *
  * Scale shape per batch: one grouped count bounded by the trigger;
  * the increment table grows with |users × items| (the q63/q183
  * keyed-state contract — the state unit is the entity matrix, not
  * event history). */
object EngagementMatrix {

  private def action(batchId: Long) = s"engmat-$batchId"

  /** Fold one batch of events into the cell-count increment table,
    * replay-safe. Returns rows appended (0 on a replayed batch). */
  private[graft] def ingestOnce(spark: SparkSession, batch: DataFrame,
      matrixPath: String, batchId: Long): Long =
    TableLog.commitTagged(spark, matrixPath, action(batchId)) { _ =>
      batch
        .where(col("user_id").isNotNull && col("event_type").isNotNull)
        .groupBy(col("user_id").as("u"), col("event_type").as("i"))
        .agg(count(lit(1)).as("c"))
    }.fold(0L)(_._2)

  /** Watch an events parquet stream; fold each micro-batch into
    * `matrixPath`. */
  def monitor(spark: SparkSession, sourceDir: String, glob: String,
      matrixPath: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): Unit =
    Streams.runBatches(spark, checkpointDir)(
      Streams.parquetStream(_, sourceDir, glob, maxFilesPerTrigger)) {
      (batch, batchId) =>
        ingestOnce(batch.sparkSession, batch, matrixPath, batchId)
    }

  /** The alpha readout over everything ingested so far — identical
    * schema and values to [[Reliability.cronbachAlpha]] over the
    * full event table. */
  def dashboard(spark: SparkSession, matrixPath: String): DataFrame =
    Reliability.cronbachFromCells(
      TableLog.read(spark, matrixPath)
        .groupBy("u", "i")
        .agg(sum("c").as("c")))
}
