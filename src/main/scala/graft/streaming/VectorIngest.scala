package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.lake.TableLog
import graft.operators.VectorIndex

/** Streaming embedding admission into a persisted
  * [[graft.operators.VectorIndex]] — the vector-side twin of
  * [[CorpusIngest]]: each micro-batch assigns against the PERSISTED
  * codebook (map-only, never a refit) and appends postings, so index
  * growth is one scan of each batch regardless of index size.
  *
  * Replay safety is SIMPLER than the corpus path: assignment is a pure
  * function of (batch, codebook) and the codebook is fixed between
  * explicit rebuilds, so a replayed batch recomputes identical
  * postings — the only guard needed is the batch-id-tagged commit that
  * makes the append itself idempotent.
  *
  * Drift policy: each batch's quantization-error ratio is checked
  * against [[VectorIndex.needsRefit]]. `failOnDrift = true` stops the
  * stream loudly (operator rebuilds via [[VectorIndex.build]] and
  * restarts); the default records admission and keeps going — drift
  * degrades recall, not correctness, and a nightly rebuild is the
  * typical cadence.
  */
object VectorIngest {

  private def admitAction(batchId: Long) = s"admit-$batchId"

  /** One batch's admission, replay-safe. Returns (rows appended this
    * call — 0 on replay, drift ratio — NaN on replay/empty). */
  private[graft] def admitBatchOnce(spark: SparkSession, batch: DataFrame,
      indexRoot: String, batchId: Long, failOnDrift: Boolean = false,
      idCol: String = "vec_id", vecCol: String = "embedding"): (Long, Double) = {
    if (batch.isEmpty) return (0L, Double.NaN)
    // built by the first commit attempt only (a replay builds nothing);
    // assigned feeds both the drift aggregate and the postings write —
    // pay the centroid assignment once per batch, not twice
    var assigned: Option[DataFrame] = None
    var drift = Double.NaN
    def postings(): DataFrame = assigned.getOrElse {
      val (cents, buildErr) = VectorIndex.loadCodebook(spark, indexRoot)
      val a = graft.operators.Similarity
        .assignToCentroids(batch, cents, idCol, vecCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      assigned = Some(a)
      drift = VectorIndex.batchDrift(a, cents, buildErr, vecCol)
      if (failOnDrift && VectorIndex.needsRefit(drift))
        throw new IllegalStateException(
          f"embedding drift $drift%.2f exceeds refit tolerance — rebuild the " +
            "codebook (VectorIndex.build) and restart the stream")
      a
    }
    try TableLog.commitTagged(spark, VectorIndex.postingsPath(indexRoot),
        admitAction(batchId))(_ => postings())
      .fold((0L, Double.NaN))(c => (c._2, drift))
    finally assigned.foreach(_.unpersist(blocking = false))
  }

  /** Continuous admission of a parquet embedding stream into the index
    * (which must already be [[VectorIndex.build]]t). AvailableNow +
    * `maxFilesPerTrigger` gives the bounded replayable run; remove the
    * trigger for a long-running ingest. */
  def admitEmbeddings(spark: SparkSession, sourceDir: String,
      indexRoot: String, checkpointDir: String,
      glob: String = "embeddings.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      failOnDrift: Boolean = false): Unit =
    Streams.runBatches(spark, checkpointDir)(
      Streams.parquetStream(_, sourceDir, glob, maxFilesPerTrigger)) {
      (batch, batchId) => admitBatchOnce(batch.sparkSession, batch,
        indexRoot, batchId, failOnDrift)
    }
}
