package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.TableLog
import graft.operators.CorpusFilters

/** Continuous encoding-health monitoring — the streaming face of
  * [[CorpusFilters.encodingAudit]]: every document micro-batch folds
  * its per-source mojibake counts (replacement chars, control-char
  * bleed, non-ASCII mass) into a replay-safe increment table, and the
  * dashboard re-aggregates — "is source X starting to ship broken
  * decodes" refreshed per batch without rescanning corpus history.
  *
  * Stream ≡ batch by construction (the [[TrendMonitor]] recipe): the
  * per-doc kernel is the SHARED [[CorpusFilters.encodingFlags]], the
  * increments are additive per-source sums, and the dashboard
  * re-aggregates them, so batch boundaries cannot move the audit and
  * the q319 DuckDB oracle applies verbatim. Crash replays are
  * effectively-once via the `enchealth-<batchId>` commit-action tag.
  *
  * Scale shape per batch: one map-only flag pass + one grouped agg
  * bounded by the trigger; dashboard cost is source-cardinality.
  */
object CorpusHealth {

  private def action(batchId: Long) = s"enchealth-$batchId"

  /** Fold one batch of documents into the per-source increment table,
    * replay-safe. Returns rows appended (0 on a replayed batch). */
  private[graft] def ingestOnce(spark: SparkSession, batch: DataFrame,
      healthPath: String, batchId: Long): Long =
    TableLog.commitTagged(spark, healthPath, action(batchId)) { _ =>
      CorpusFilters.encodingFlags(batch)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__repl"), 1L).otherwise(0L)).as("n_replacement"),
          sum(when(col("__ctrl"), 1L).otherwise(0L)).as("n_control"),
          sum(col("__nas")).as("sum_nas"))
    }.fold(0L)(_._2)

  /** Watch a documents parquet stream; fold each micro-batch into
    * `healthPath`. */
  def monitor(spark: SparkSession, sourceDir: String, glob: String,
      healthPath: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): Unit =
    Streams.runBatches(spark, checkpointDir)(
      Streams.parquetStream(_, sourceDir, glob, maxFilesPerTrigger)) {
      (batch, batchId) =>
        ingestOnce(batch.sparkSession, batch, healthPath, batchId)
    }

  /** The audit over everything ingested so far — identical schema and
    * values to [[CorpusFilters.encodingAudit]] over the full corpus:
    * counts are additive, the mean share re-weights by doc count. */
  def dashboard(spark: SparkSession, healthPath: String): DataFrame =
    TableLog.read(spark, healthPath)
      .groupBy("source")
      .agg(sum("n_docs").as("n_docs"),
        sum("n_replacement").as("n_replacement"),
        sum("n_control").as("n_control"),
        round(sum("sum_nas") / sum("n_docs"), 6)
          .as("mean_non_ascii_share"))
      .orderBy("source")
}
