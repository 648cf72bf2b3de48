package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.TableLog
import graft.operators.Decontaminate

/** Streaming decontamination gate — the continuous form of
  * [[graft.operators.Decontaminate.overlap]] (q72): every document
  * entering the corpus is checked against the held-out benchmark
  * n-gram set BEFORE admission, so eval contamination is blocked at
  * the door instead of scrubbed after the fact (the arrangement
  * GPT-3/PaLM-style pipelines retrofitted painfully post-hoc).
  *
  * Scale shape: the benchmark gram set is computed ONCE and broadcast
  * (benchmark suites are fixed-size — thousands of documents against
  * a 100 TB stream); each micro-batch then pays one gram pass over
  * ITSELF plus a broadcast join. No state grows with the stream: the
  * gate is stateless per batch (a document's verdict depends only on
  * its own text), which also makes decisions invariant to how the
  * stream happens to be chopped into batches.
  *
  * Crash-replay safety follows [[CorpusIngest]]'s recipe: each
  * batch's decision rows commit with action `gate-<batchId>`, so a
  * replayed batch detects its own prior commit and skips — the
  * decisions table never double-counts a document.
  */
object StreamingDecontaminate {

  /** One batch's gate, replay-safe. Returns decision-row count
    * actually committed (0 on replay). The benchmark gram set arrives
    * as a PATH, not a frame: a frame built on the driving session
    * must not leak into the stream's session, and the re-read per
    * batch is a tiny-file scan that feeds a broadcast. */
  private[graft] def gateOnce(spark: SparkSession, batch: DataFrame,
      benchGramPath: String, decisionsPath: String, batchId: Long,
      n: Int, rejectMin: Long): Long =
    TableLog.commitTagged(spark, decisionsPath, s"gate-$batchId") { _ =>
      Decontaminate.gateDecisions(batch, spark.read.parquet(benchGramPath),
        n = n, rejectMin = rejectMin)
    }.fold(0L)(_._2)

  /** Bounded gated run over the documents table: benchmark = docs
    * with `doc_id % benchMod == 0` (the q72 split), stream = the
    * rest. Returns the full decision table `(doc_id, n_shared_grams,
    * admitted)` ordered by doc_id — batch-split invariant, so the
    * plain batch SQL oracles it. */
  def gateDocuments(spark: SparkSession, dir: String,
      n: Int = 4, rejectMin: Long = 2L, benchMod: Int = 41,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val root = graft.util.TempDirs.create("graft_sdecon")
    val decisionsPath = root.resolve("decisions").toString
    val checkpoint = root.resolve("ckpt").toString
    val benchPath = root.resolve("bench_grams").toString

    val allDocs = graft.io.Sources.table(spark, dir, "documents")
    Decontaminate.benchGrams(
        allDocs.filter(col("doc_id") % benchMod === 0), n = n)
      .coalesce(1).write.parquet(benchPath)

    Streams.runBatches(spark, checkpoint)(ss =>
      Streams.parquetStream(ss, dir, "documents.parquet", maxFilesPerTrigger)
        .filter(col("doc_id") % benchMod =!= 0)) { (batch, batchId) =>
      gateOnce(batch.sparkSession, batch, benchPath, decisionsPath,
        batchId, n, rejectMin)
    }
    TableLog.read(spark, decisionsPath).orderBy("doc_id")
  }
}
