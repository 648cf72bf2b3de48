package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.TableLog
import graft.operators.Scd

/** Streaming SCD2 upkeep: fold each micro-batch of the profile-change
  * feed into a TableLog-versioned type-2 dimension via
  * [[Scd.scd2Merge]] — the continuous form of the dimension build,
  * with the same replay-safety discipline as every foreachBatch sink
  * in this package ([[DriftMonitor]], [[VectorIngest]]): each batch's
  * commit carries a batch-derived action tag, and a replayed batch
  * (checkpoint recovery re-delivers the last uncommitted batch)
  * no-ops when its tag is already in the table history.
  *
  * Per batch the work is [[Scd.scd2Merge]]'s shape: one window
  * shuffle over the BATCH-TOUCHED keys only; untouched dimension
  * rows stream through the commit untouched. Because the merge is
  * equivalent to a full rebuild on the concatenated feed (pinned in
  * ScdSpec), an in-order replay of the whole feed converges to
  * exactly the batch build — which is what lets the streaming query
  * share the batch oracle (q183 vs q180). */
object ScdStream {

  private def act(batchId: Long) = s"scd2-$batchId"

  /** Merge one batch into the dimension at `dimPath`, replay-safe.
    * The merge reads the commit attempt's pinned snapshot, so a batch
    * that loses the commit race re-merges onto the winner's dimension.
    * Returns the committed version, or -1 for a replayed no-op. */
  def applyBatchOnce(spark: SparkSession, batch: DataFrame,
      batchId: Long, dimPath: String, keyCol: String,
      attrCol: Column): Int =
    TableLog.commitTagged(spark, dimPath, act(batchId), replace = true) {
      case None => Scd.scd2Build(batch, keyCol, attrCol)
      case Some(dim) => Scd.scd2Merge(TableLog.readCommit(spark, dimPath, dim),
        batch, keyCol, attrCol)
    }.fold(-1)(_._1.version)

  /** Watch a parquet stream of profile events; each micro-batch's
    * signup/view rows update the user-tier dimension at `dimPath`. */
  def monitor(spark: SparkSession, sourceDir: String, glob: String,
      dimPath: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): Unit =
    Streams.runBatches(spark, checkpointDir)(ss =>
      graft.io.Sources.repairEventTs(
        Streams.parquetStream(ss, sourceDir, glob, maxFilesPerTrigger))) {
      (batch, batchId) => applyBatchOnce(batch.sparkSession,
        batch.where(col("event_type").isin("signup", "view")),
        batchId, dimPath, "user_id", floor(col("value") / 100).cast("int"))
    }

  /** The registered query: replay the bounded events table as three
    * in-order day tranches (one micro-batch each), stream them into
    * a fresh dimension, and return it. In-order replay + the
    * merge≡rebuild invariant ⇒ the result equals the batch build
    * ([[Scd.userTierDimension]]) and shares its DuckDB oracle. */
  def streamedTierDimension(spark: SparkSession, dir: String): DataFrame = {
    val events = graft.io.Sources.table(spark, dir, "events")
    val staged = graft.util.TempDirs.create("graft_scd_stream_src").toString
    val d = dayofmonth(col("ts"))
    Seq(events.where(d <= 10), events.where(d > 10 && d <= 20),
        events.where(d > 20)).zipWithIndex.foreach { case (t, i) =>
      t.coalesce(1).write
        .mode(if (i == 0) "overwrite" else "append").parquet(staged)
      Thread.sleep(5) // keep file mtimes strictly ordered
    }
    val dimPath = graft.util.TempDirs.create("graft_scd_stream_dim").toString
    val ckpt = graft.util.TempDirs.create("graft_scd_stream_ckpt").toString
    monitor(spark, staged, "*.parquet", dimPath, ckpt,
      maxFilesPerTrigger = Some(1))
    // the log stores the generic `attr` column ([[Scd.scd2Merge]]'s
    // contract); the published view names it `tier` like the batch path
    TableLog.read(spark, dimPath)
      .withColumnRenamed("attr", "tier")
      .select("user_id", "tier", "valid_from", "valid_to", "is_current")
      .orderBy("user_id", "valid_from")
  }
}
