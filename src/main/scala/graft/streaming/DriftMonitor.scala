package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.TableLog
import graft.operators.Drift

/** Continuous distribution-drift monitoring: every micro-batch of a
  * stream is PSI-scored against a pinned baseline snapshot and the
  * per-bucket report (tagged with the batch id) appends to a versioned
  * report table — the streaming form of [[graft.operators.Drift]], and
  * what a data-quality pager actually watches ("alert when an input
  * feed's value distribution walks away from the snapshot it was
  * validated against").
  *
  * The baseline is read ONCE per batch from a TableLog snapshot pinned
  * at `baselineVersion` — later commits to the baseline table never
  * silently move the goalposts mid-stream. Crash-replays are
  * effectively-once: each report commit carries action
  * `drift-<batchId>`, so a replayed batch that already reported skips
  * the commit (the same manifest-action idempotence recipe as
  * [[CorpusIngest]]).
  *
  * Scale shape per batch: one grouped count over the BATCH (bounded by
  * trigger size), one over the baseline (prunable via manifest stats),
  * join + window on the tiny bucket table. State lives in the report
  * table, not the state store — the stream itself is stateless.
  */
object DriftMonitor {

  /** The report commit every variant shares: `report` over the pinned
    * baseline snapshot, tagged with the batch id and committed as
    * `<kind>-<batchId>`. Returns the rows reported this call, from the
    * commit's file stats (0 on a fully-replayed batch, which builds no
    * report). */
  private def reportTagged(spark: SparkSession, reportPath: String,
      kind: String, batchId: Long, baselinePath: String,
      baselineVersion: Int)(report: DataFrame => DataFrame): Long =
    TableLog.commitTagged(spark, reportPath, s"$kind-$batchId") { _ =>
      report(TableLog.read(spark, baselinePath, Some(baselineVersion)))
        .withColumn("batch_id", lit(batchId))
    }.fold(0L)(_._2)

  /** One batch's report, replay-safe. Returns the rows reported this
    * call (0 on a fully-replayed batch). Exposed for the spec's
    * crash-window simulations. */
  private[graft] def reportOnce(spark: SparkSession, batch: DataFrame,
      baselinePath: String, baselineVersion: Int, reportPath: String,
      valueCol: String, bucketWidth: Double, batchId: Long): Long =
    reportTagged(spark, reportPath, "drift", batchId, baselinePath,
      baselineVersion)(Drift.psiReport(_, batch, valueCol, bucketWidth))

  /** Watch a parquet stream directory; one PSI report per micro-batch
    * against `baselinePath@baselineVersion`, appended to `reportPath`.
    * AvailableNow + `maxFilesPerTrigger` gives a bounded replayable
    * run; remove the trigger for a long-running monitor. */
  def monitor(spark: SparkSession, sourceDir: String, glob: String,
      baselinePath: String, baselineVersion: Int, reportPath: String,
      valueCol: String, bucketWidth: Double, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): Unit =
    Streams.runBatches(spark, checkpointDir)(
      Streams.parquetStream(_, sourceDir, glob, maxFilesPerTrigger)) {
      (batch, batchId) => reportOnce(batch.sparkSession, batch,
        baselinePath, baselineVersion, reportPath, valueCol, bucketWidth,
        batchId)
    }

  // ---- embedding-space variant: same monitoring contract (pinned
  // baseline, per-batch report commits, action-tag idempotence), the
  // report is [[Drift.embeddingDrift]] instead of PSI — what a
  // vector-ingest pipeline watches ("did this batch of re-embedded
  // documents land where the validated snapshot says its labels
  // live"). Per batch: two labels·dims aggs, nothing stateful. ----

  /** One batch's embedding-drift report, replay-safe (0 rows on a
    * fully-replayed batch). */
  private[graft] def reportEmbeddingOnce(spark: SparkSession,
      batch: DataFrame, baselinePath: String, baselineVersion: Int,
      reportPath: String, batchId: Long,
      labelCol: String = "label", vecCol: String = "embedding"): Long =
    reportTagged(spark, reportPath, "embdrift", batchId, baselinePath,
      baselineVersion)(Drift.embeddingDrift(_, batch, labelCol, vecCol))

  // ---- categorical variant: same monitoring contract, the report is
  // [[Drift.mixDivergence]] (Jensen–Shannon bits over a discrete
  // column) — what a feed-mix pager watches ("did the event-type /
  // language MIX of this feed walk away from the validated
  // snapshot"), the finite-under-new-categories complement of PSI's
  // floored numeric buckets. Per batch: two category-cardinality
  // aggs, nothing stateful. ----

  /** One batch's mix-divergence report, replay-safe (0 rows on a
    * fully-replayed batch). */
  private[graft] def reportMixOnce(spark: SparkSession, batch: DataFrame,
      baselinePath: String, baselineVersion: Int, reportPath: String,
      catCol: String, batchId: Long): Long =
    reportTagged(spark, reportPath, "mixdrift", batchId, baselinePath,
      baselineVersion)(Drift.mixDivergence(_, batch, catCol))

  /** Streaming categorical-mix monitor over a parquet stream; same
    * trigger/replay contract as [[monitor]]. */
  def monitorMix(spark: SparkSession, sourceDir: String, glob: String,
      baselinePath: String, baselineVersion: Int, reportPath: String,
      catCol: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): Unit =
    Streams.runBatches(spark, checkpointDir)(
      Streams.parquetStream(_, sourceDir, glob, maxFilesPerTrigger)) {
      (batch, batchId) => reportMixOnce(batch.sparkSession, batch,
        baselinePath, baselineVersion, reportPath, catCol, batchId)
    }

  // ---- Wasserstein variant: same monitoring contract, the report is
  // [[Drift.wassersteinReport]] — the monitor that answers "how far
  // did the feed move, in the column's units" where the PSI lane
  // answers "how surprising is the move". Per batch: one grouped
  // count each side + a cumulative window over the bucket table. ----

  /** One batch's Wasserstein report, replay-safe (0 rows on a fully
    * replayed batch). */
  private[graft] def reportW1Once(spark: SparkSession, batch: DataFrame,
      baselinePath: String, baselineVersion: Int, reportPath: String,
      valueCol: String, bucketWidth: Double, batchId: Long): Long =
    reportTagged(spark, reportPath, "w1", batchId, baselinePath,
      baselineVersion)(
      Drift.wassersteinReport(_, batch, valueCol, bucketWidth))

  /** Streaming Wasserstein monitor over a parquet stream; same
    * trigger/replay contract as [[monitor]]. */
  def monitorW1(spark: SparkSession, sourceDir: String, glob: String,
      baselinePath: String, baselineVersion: Int, reportPath: String,
      valueCol: String, bucketWidth: Double, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): Unit =
    Streams.runBatches(spark, checkpointDir)(
      Streams.parquetStream(_, sourceDir, glob, maxFilesPerTrigger)) {
      (batch, batchId) => reportW1Once(batch.sparkSession, batch,
        baselinePath, baselineVersion, reportPath, valueCol, bucketWidth,
        batchId)
    }

  // ---- separability variant: same monitoring contract, the report
  // is one [[graft.operators.ClassifierEval.aucSummary]] row per
  // batch beside the pinned baseline's AUC — what a quality-scorer
  // owner watches ("is the score still SEPARATING the classes it was
  // validated on, or has the feed drifted under it"). AUC can decay
  // while every marginal distribution looks stable, which is exactly
  // the failure PSI/KS/mix monitors cannot see. Per batch: one
  // grouped agg to the distinct-score table each side, nothing
  // stateful. ----

  /** One batch's separability report, replay-safe (0 rows on a
    * fully-replayed batch). `scoredBatch` and the baseline table both
    * carry `scoreCol` (discretized numeric) and boolean `labelCol`;
    * the report row is the batch AUC summary plus the pinned
    * baseline's AUC and the delta. */
  private[graft] def reportAucOnce(spark: SparkSession,
      scoredBatch: DataFrame, baselinePath: String, baselineVersion: Int,
      reportPath: String, scoreCol: String, labelCol: String,
      batchId: Long): Long =
    reportTagged(spark, reportPath, "auc", batchId, baselinePath,
      baselineVersion) { baseline =>
      val baseAuc = graft.operators.ClassifierEval
        .aucSummary(baseline, scoreCol, labelCol)
        .select(col("auc").as("base_auc"))
      graft.operators.ClassifierEval
        .aucSummary(scoredBatch, scoreCol, labelCol)
        .crossJoin(broadcast(baseAuc))   // 1-row × 1-row stat factor
        .withColumn("delta", round(col("auc") - col("base_auc"), 6))
    }

  /** Streaming separability monitor over a parquet stream: `score`
    * derives (scoreCol, labelCol) from each raw batch (the scorer
    * under watch); same trigger/replay contract as [[monitor]]. */
  def monitorAuc(spark: SparkSession, sourceDir: String, glob: String,
      score: DataFrame => DataFrame,
      baselinePath: String, baselineVersion: Int, reportPath: String,
      scoreCol: String, labelCol: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): Unit =
    Streams.runBatches(spark, checkpointDir)(
      Streams.parquetStream(_, sourceDir, glob, maxFilesPerTrigger)) {
      (batch, batchId) => reportAucOnce(batch.sparkSession, score(batch),
        baselinePath, baselineVersion, reportPath, scoreCol, labelCol,
        batchId)
    }

  /** Streaming embedding-drift monitor over a parquet vector stream;
    * same trigger/replay contract as [[monitor]]. */
  def monitorEmbeddings(spark: SparkSession, sourceDir: String,
      glob: String, baselinePath: String, baselineVersion: Int,
      reportPath: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      labelCol: String = "label", vecCol: String = "embedding"): Unit =
    Streams.runBatches(spark, checkpointDir)(
      Streams.parquetStream(_, sourceDir, glob, maxFilesPerTrigger)) {
      (batch, batchId) => reportEmbeddingOnce(batch.sparkSession, batch,
        baselinePath, baselineVersion, reportPath, batchId, labelCol, vecCol)
    }
}
