package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files
import graft.lake.TableLog
import graft.operators.IncrementalDedup
import graft.streaming.CorpusIngest

class CorpusIngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val textA = "the quick brown fox jumps over the lazy dog today fine"
  private val textB = "completely different content about spark structured streaming state stores"
  private val textC = "yet another unique document talking about vector indexes and parquet files"

  private def corpusIds(path: String): Set[Long] =
    TableLog.read(spark, path).select("doc_id").as[Long].collect().toSet

  test("streamed admission equals sequential batch admission; dups rejected") {
    val root = Files.createTempDirectory("graft_ci")
    val src = root.resolve("src").toString
    val corpus = root.resolve("corpus").toString
    val bands = root.resolve("bands").toString
    // two part files in one flat dir → two AvailableNow micro-batches
    Seq((1L, textA), (2L, textB)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(src)
    Seq((3L, textA), (4L, textC)).toDF("doc_id", "text") // 3 = exact dup of 1
      .coalesce(1).write.mode("append").parquet(src)
    CorpusIngest.admitDocuments(spark, src, corpus, bands,
      root.resolve("ckpt").toString, glob = "*.parquet",
      maxFilesPerTrigger = Some(1))
    // doc 3 collides with doc 1's stored bands; 4 is clean
    assert(corpusIds(corpus) == Set(1L, 2L, 4L))
    // batch-mode differential: same two batches through admitBatch
    val adm1 = IncrementalDedup.admitBatch(
      Seq((1L, textA), (2L, textB)).toDF("doc_id", "text"), None)
    val adm2 = IncrementalDedup.admitBatch(
      Seq((3L, textA), (4L, textC)).toDF("doc_id", "text"), Some(adm1.bands))
    val batchIds = (adm1.accepted.select("doc_id").as[Long].collect() ++
      adm2.accepted.select("doc_id").as[Long].collect()).toSet
    assert(corpusIds(corpus) == batchIds)
  }

  test("replaying a fully-committed batch is a no-op") {
    val root = Files.createTempDirectory("graft_ci")
    val corpus = root.resolve("corpus").toString
    val bands = root.resolve("bands").toString
    val b = Seq((1L, textA), (2L, textB)).toDF("doc_id", "text")
    val n1 = CorpusIngest.admitOnce(spark, b, corpus, bands, batchId = 0L)
    assert(n1 == 2L)
    val (cv, bv) = (TableLog.latestVersion(spark, corpus),
      TableLog.latestVersion(spark, bands))
    val n2 = CorpusIngest.admitOnce(spark, b, corpus, bands, batchId = 0L)
    assert(n2 == 0L)
    assert(TableLog.latestVersion(spark, corpus) == cv)
    assert(TableLog.latestVersion(spark, bands) == bv)
  }

  test("crash window: bands committed but corpus not — replay still admits survivors") {
    val root = Files.createTempDirectory("graft_ci")
    val corpus = root.resolve("corpus").toString
    val bands = root.resolve("bands").toString
    CorpusIngest.admitOnce(spark,
      Seq((1L, textA), (2L, textB)).toDF("doc_id", "text"),
      corpus, bands, batchId = 0L)
    // simulate the crash: batch 1's bands land (tagged), corpus append
    // never happens
    val b2 = Seq((3L, textA), (4L, textC)).toDF("doc_id", "text")
    val adm = IncrementalDedup.admitBatch(b2, Some(TableLog.read(spark, bands)))
    TableLog.commitTagged(spark, bands, "admit-1")(_ => adm.bands)
    // replay of batch 1: its own stored bands must NOT reject it —
    // admission re-runs against the store as of BEFORE the band commit
    val n = CorpusIngest.admitOnce(spark, b2, corpus, bands, batchId = 1L)
    assert(n == 1L, s"expected doc 4 admitted on replay, got $n")
    assert(corpusIds(corpus) == Set(1L, 2L, 4L))
    // and the band store was not double-appended
    assert(TableLog.history(spark, bands).count(_.action == "admit-1") == 1)
  }
}
