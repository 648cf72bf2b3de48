package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.TableLog
import graft.operators.IncrementalDedup

/** Streaming corpus admission — the continuous form of
  * [[graft.operators.IncrementalDedup]]: a document stream is
  * near-dup-admitted per micro-batch against the persisted LSH band
  * store, survivors append to a versioned corpus table. This is the
  * 100 TB ingest loop: each batch pays one shingle pass over ITSELF
  * plus one band-key join against the store — never a re-scan of the
  * published corpus.
  *
  * Effectively-once across crash-replays, WITHOUT a cross-table
  * transaction, via batch-id-tagged commits + time travel:
  *
  *  - both tables' commits carry action `admit-<batchId>`, so a replay
  *    detects exactly which table(s) already absorbed this batch and
  *    skips those commits (the standard idempotent-foreachBatch
  *    recipe, expressed as manifest actions);
  *  - the admission decision is REPLAYED DETERMINISTICALLY: if the
  *    band store already holds this batch's bands (crash after the
  *    band commit, before the corpus commit), admission re-runs
  *    against the store version JUST BEFORE that commit — otherwise
  *    the batch's own bands would reject every document and the
  *    replay would silently drop the batch's survivors.
  *
  * Band rows are admitted before corpus rows so the failure window
  * never publishes an un-indexed document: a document visible in the
  * corpus is always blockable as a future near-dup source.
  */
object CorpusIngest {

  private def admitAction(batchId: Long) = s"admit-$batchId"

  /** One batch's admission, replay-safe (see object doc). Returns the
    * number of documents appended to the corpus this call (0 on a
    * fully-replayed batch). Exposed for the spec's crash-window
    * simulations; [[admitDocuments]] drives it from foreachBatch. */
  private[graft] def admitOnce(spark: SparkSession, batch: DataFrame,
      corpusPath: String, bandStorePath: String, batchId: Long,
      idCol: String = "doc_id", textCol: String = "text"): Long = {
    val act = admitAction(batchId)
    // admission runs only when a commit needs it (a fully replayed
    // batch builds nothing), once for both commits
    var admitted: Option[IncrementalDedup.Admission] = None
    def adm: IncrementalDedup.Admission = admitted.getOrElse {
      val bandHist = TableLog.history(spark, bandStorePath)
      // the store AS OF before this batch's own bands (deterministic
      // replay); None on the very first batch
      val store = bandHist.find(_.action == act) match {
        case Some(c) if c.version > 1 =>
          Some(TableLog.read(spark, bandStorePath, Some(c.version - 1)))
        case Some(_) => None
        case None => bandHist.lastOption.map(_ =>
          TableLog.read(spark, bandStorePath))
      }
      val a = IncrementalDedup.admitBatch(
        batch.select(col(idCol), col(textCol)), store,
        idCol = idCol, textCol = textCol)
      admitted = Some(a)
      a
    }
    try {
      TableLog.commitTagged(spark, bandStorePath, act)(_ => adm.bands)
      // semi-join on the FULL batch (adm.accepted carries only the
      // (id, text) projection admitBatch saw)
      TableLog.commitTagged(spark, corpusPath, act)(_ => batch.join(
        adm.accepted.select(col(idCol)), Seq(idCol), "left_semi"))
        .fold(0L)(_._2)
    } finally
      // admitBatch persists the batch band table for its three
      // consumers; a long-running ingest would otherwise leak one
      // cached frame per micro-batch
      admitted.foreach(_.bands.unpersist(blocking = false))
  }

  /** Continuous admission of a parquet document stream into the corpus
    * table. AvailableNow + `maxFilesPerTrigger` gives the bounded
    * replayable run the driver verifies; remove the trigger for a
    * long-running ingest. */
  def admitDocuments(spark: SparkSession, sourceDir: String,
      corpusPath: String, bandStorePath: String, checkpointDir: String,
      glob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None): Unit =
    Streams.runBatches(spark, checkpointDir)(
      Streams.parquetStream(_, sourceDir, glob, maxFilesPerTrigger)) {
      (batch, batchId) => admitOnce(batch.sparkSession, batch, corpusPath,
        bandStorePath, batchId)
    }
}
