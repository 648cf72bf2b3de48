package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.TableLog
import graft.operators.Privacy

/** Streaming privacy monitor: a per-micro-batch k-anonymity /
  * l-diversity summary of the event stream, committed to a versioned
  * report table — the continuous form of [[Privacy]]'s release audit,
  * and the "watch the gate, not just the release" companion to the
  * suppression gate (q165): a batch whose achieved k collapses is the
  * signal to coarsen quasi-identifiers BEFORE the next publication,
  * not after.
  *
  * Same replay-safety discipline as every foreachBatch sink here
  * ([[DriftMonitor]]/[[ScdStream]]): `anon-<batchId>` action tags,
  * replayed batches no-op. Per batch the work is one hash aggregate
  * on the quasi key (class-space-sized output) + a 1-row summary.
  *
  * The bounded single-batch run makes the report equal the batch
  * audit of the whole table, which is what lets the streaming query
  * share the batch oracle arithmetic (q188 vs q166's shape). */
object PrivacyMonitor {

  private def act(batchId: Long) = s"anon-$batchId"

  /** One batch's summary, replay-safe: returns committed version or
    * -1 for a replayed no-op. */
  def reportOnce(spark: SparkSession, batch: DataFrame,
      reportPath: String, quasiCols: Seq[String], sensitiveCol: String,
      k: Int, batchId: Long): Int =
    TableLog.commitTagged(spark, reportPath, act(batchId)) { _ =>
      Privacy.anonymitySummary(batch, quasiCols, sensitiveCol, k)
        .withColumn("batch_id", lit(batchId))
    }.fold(-1)(_._1.version)

  /** Watch a parquet event stream; per micro-batch, audit the
    * (event_type, day) quasi-space with `user_id` as the sensitive
    * attribute and append the summary to `reportPath`. */
  def monitor(spark: SparkSession, sourceDir: String, glob: String,
      reportPath: String, checkpointDir: String, k: Int = 20,
      maxFilesPerTrigger: Option[Int] = None): Unit =
    Streams.runBatches(spark, checkpointDir)(ss =>
      graft.io.Sources.repairEventTs(
        Streams.parquetStream(ss, sourceDir, glob, maxFilesPerTrigger))) {
      (batch, batchId) => reportOnce(batch.sparkSession,
        batch.withColumn("day", dayofmonth(col("ts"))),
        reportPath, Seq("event_type", "day"), "user_id", k, batchId)
    }

  /** The registered query: single-batch AvailableNow run over the
    * bounded events table — the report equals the batch audit of the
    * whole table, so the DuckDB oracle is the q166-shaped summary
    * SQL over events. */
  def eventAnonymityStream(spark: SparkSession, dir: String,
      k: Int = 20): DataFrame = {
    val reportPath = graft.util.TempDirs.create("graft_anon_report").toString
    val ckpt = graft.util.TempDirs.create("graft_anon_ckpt").toString
    monitor(spark, dir, "events.parquet", reportPath, ckpt, k)
    TableLog.read(spark, reportPath)
      .select("batch_id", "k_anonymity", "l_diversity_min",
        "n_classes", "rows_at_risk")
      .orderBy("batch_id")
  }

  /** DuckDB oracle for [[eventAnonymityStream]]. */
  def oracleSql(k: Int = 20): String =
    s"""SELECT CAST(0 AS BIGINT) AS batch_id,
       |  CAST(MIN(class_size) AS BIGINT) AS k_anonymity,
       |  CAST(MIN(l_div) AS BIGINT) AS l_diversity_min,
       |  COUNT(*) AS n_classes,
       |  CAST(COALESCE(SUM(CASE WHEN class_size < $k THEN class_size
       |    ELSE 0 END), 0) AS BIGINT) AS rows_at_risk
       |FROM (SELECT COUNT(*) AS class_size,
       |        COUNT(DISTINCT user_id) AS l_div
       |      FROM events GROUP BY event_type, day(ts))""".stripMargin
}
