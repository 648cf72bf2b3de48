package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.lake.TableLog
import graft.operators.AllPairsJoin
import graft.streaming.SimilarityIngest

class SimilarityIngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val seed = Seq(
    (0L, "alpha beta gamma delta epsilon zeta"),
    (1L, "one two three four five six"))
  private val batch = Seq(
    (10L, "alpha beta gamma delta epsilon eta"),   // near-dup of 0
    (11L, "unrelated words entirely different here now"),
    (12L, "unrelated words entirely different here too"))

  private def freshIndex(): String = {
    val root = Files.createTempDirectory("graft_simingest").toString
    AllPairsJoin.buildIndex(spark, seed.toDF("doc_id", "text"),
      s"$root/idx", 0.4)
    root
  }

  test("admission finds cross and within pairs; replay commits nothing") {
    val root = freshIndex()
    val n1 = SimilarityIngest.admitOnce(spark,
      batch.toDF("doc_id", "text"), s"$root/idx", s"$root/pairs",
      0.4, batchId = 7L)
    assert(n1 == 2L)
    val got = TableLog.read(spark, s"$root/pairs")
      .select("id_a", "id_b", "batch_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((0L, 10L, 7L), (11L, 12L, 7L)))
    // full replay: no new commit, no new rows
    val v1 = TableLog.latestVersion(spark, s"$root/pairs")
    assert(SimilarityIngest.admitOnce(spark,
      batch.toDF("doc_id", "text"), s"$root/idx", s"$root/pairs",
      0.4, batchId = 7L) == 0L)
    assert(TableLog.latestVersion(spark, s"$root/pairs") == v1)
  }

  test("crash window: index appended but pairs commit lost → identical pairs, no double-append") {
    val root = freshIndex()
    // simulate the crash by running admit directly (indexes the batch,
    // returns pairs that were never committed)
    val direct = AllPairsJoin.admit(spark, s"$root/idx",
      batch.toDF("doc_id", "text"), 0.4, action = Some("simadmit-3"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val gramsV = TableLog.latestVersion(spark, s"$root/idx/grams")
    // the replayed streaming call must recompute the SAME pairs from
    // the stored copy and must not append the batch to the index again
    val n = SimilarityIngest.admitOnce(spark,
      batch.toDF("doc_id", "text"), s"$root/idx", s"$root/pairs",
      0.4, batchId = 3L)
    assert(n == direct.size.toLong)
    assert(TableLog.latestVersion(spark, s"$root/idx/grams") == gramsV)
    val got = TableLog.read(spark, s"$root/pairs")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == direct)
    // and no self-pairs leaked from the stored copy
    assert(got.forall { case (a, b) => a != b })
  }

  test("sequential batches accumulate; cross-batch pairs surface") {
    val root = freshIndex()
    assert(SimilarityIngest.admitOnce(spark,
      Seq((20L, "red orange yellow green blue indigo"))
        .toDF("doc_id", "text"),
      s"$root/idx", s"$root/pairs", 0.4, batchId = 0L) == 0L)
    val n2 = SimilarityIngest.admitOnce(spark,
      Seq((21L, "red orange yellow green blue violet"))
        .toDF("doc_id", "text"),
      s"$root/idx", s"$root/pairs", 0.4, batchId = 1L)
    assert(n2 == 1L)
    val got = TableLog.read(spark, s"$root/pairs")
      .select("id_a", "id_b", "batch_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((20L, 21L, 1L)))
  }
}
