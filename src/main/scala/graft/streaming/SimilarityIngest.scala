package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.TableLog
import graft.operators.AllPairsJoin

/** Streaming exact-similarity admission — each micro-batch of
  * documents runs through [[AllPairsJoin.admit]] against the persisted
  * frozen-order prefix index, and the discovered threshold pairs
  * (batch×corpus and batch×batch) append to a versioned pairs table.
  * The dedup-pipeline shape this serves: a continuously-ingesting
  * corpus where every new document must be checked EXACTLY against
  * everything already admitted (the LSH ingest path,
  * [[StreamingDecontaminate]]/[[VectorIngest]], trades recall for
  * speed; this is the recall-1.0 lane for the tiers that can afford
  * the posting joins).
  *
  * Replay is effectively-once across BOTH tables the batch touches:
  * the pairs commit carries `simadmit-<batchId>` and is the first
  * check; a crash between the index append and the pairs commit
  * replays `admit` with the batch already indexed, which the operator
  * detects by the same action tag on the grams table — it recomputes
  * the identical pairs from the stored copy (id≠id guard + candidate
  * distinct) and skips the double-append. */
object SimilarityIngest {

  private def act(batchId: Long) = s"simadmit-$batchId"

  /** One batch's admission; returns pair rows appended (0 on a fully
    * replayed batch). */
  private[graft] def admitOnce(spark: SparkSession, batch: DataFrame,
      indexRoot: String, pairsPath: String, threshold: Double,
      batchId: Long): Long =
    if (batch.isEmpty) 0L
    else TableLog.commitTagged(spark, pairsPath, act(batchId)) { _ =>
      AllPairsJoin.admit(spark, indexRoot, batch, threshold,
        action = Some(act(batchId))).withColumn("batch_id", lit(batchId))
    }.fold(0L)(_._2)

  /** Watch a parquet stream directory; admit each micro-batch against
    * the index at `indexRoot` (built by [[AllPairsJoin.buildIndex]]),
    * appending threshold pairs to `pairsPath`. AvailableNow +
    * `maxFilesPerTrigger` gives a bounded replayable run. */
  def ingest(spark: SparkSession, sourceDir: String, glob: String,
      indexRoot: String, pairsPath: String, threshold: Double,
      checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): Unit =
    Streams.runBatches(spark, checkpointDir)(
      Streams.parquetStream(_, sourceDir, glob, maxFilesPerTrigger)) {
      (batch, batchId) => admitOnce(batch.sparkSession, batch, indexRoot,
        pairsPath, threshold, batchId)
    }
}
