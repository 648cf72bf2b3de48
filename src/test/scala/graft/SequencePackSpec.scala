package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.SequencePack
import graft.util.PrefixSum

class SequencePackSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def doc(id: Long, nTok: Int, src: String = "web") =
    (id, Seq.fill(nTok)("w").mkString(" "), src)

  test("hand case: offsets, sequence spans, crossing flags at seqLen=10") {
    // tokens: 4, 5, 3, 8 → offsets 0, 4, 9, 12
    val docs = Seq(doc(0, 4), doc(1, 5), doc(2, 3), doc(3, 8))
      .toDF("doc_id", "text", "source")
    val got = SequencePack.packCoords(docs, seqLen = 10)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "off", "first_seq", "last_seq", "crosses")
      .as[(Long, Long, Long, Long, Long, Boolean)].collect()
    assert(got(0) == ((0L, 4L, 0L, 0L, 0L, false)))   // [0,4) in seq 0
    assert(got(1) == ((1L, 5L, 4L, 0L, 0L, false)))   // [4,9) in seq 0
    assert(got(2) == ((2L, 3L, 9L, 0L, 1L, true)))    // [9,12) crosses
    assert(got(3) == ((3L, 8L, 12L, 1L, 1L, false)))  // [12,20) in seq 1
  }

  test("offsets stay the global running sum when the doc table is split into buckets") {
    val docs = (0L until 200L).map(i => doc(i, (i % 17).toInt + 1))
      .toDF("doc_id", "text", "source")
    val single = SequencePack.packCoords(docs, 32).orderBy("doc_id").collect()
    // a 1-byte advisory partition size: one doc-id bucket per shuffle
    // partition
    val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    spark.conf.set(advisory, "1")
    val bucketed = try SequencePack.packCoords(docs, 32).orderBy("doc_id")
      finally spark.conf.unset(advisory)
    assert(bucketed.queryExecution.optimizedPlan.toString.contains("__pfx_bkt"))
    assert(bucketed.collect().sameElements(single))
    single.map(r => (r.getLong(1), r.getLong(2))).foldLeft(0L) {
      case (expect, (n, off)) => assert(off == expect); expect + n
    }
  }

  test("two-phase prefix sum is bit-identical across bucket sizes") {
    // the doc-id running sum packCoords takes its offsets from, under
    // forced bucket widths
    val docs = (0L until 200L).map(i => (i, (i % 17) + 1)).toDF("doc_id", "n_tokens")
    def offsets(width: Int) =
      PrefixSum.running(docs, "doc_id", Seq("n_tokens"),
        (width until 200 by width).map(_.toDouble))
        .orderBy("doc_id").select("doc_id", "n_tokens", "n_tokens_cum")
        .as[(Long, Long, Long)].collect().toSeq
    val a = offsets(3)
    assert(a == offsets(100000))
    // and the offsets really are the global running sum
    offsets(7).foldLeft(0L) { case (before, (_, n, cum)) =>
      assert(cum == before + n); cum
    }
  }

  test("zero-token docs occupy no span and never cross") {
    val docs = Seq((0L, Seq.fill(10)("w").mkString(" "), "web"),
      (1L, "", "web"), (2L, "x", "web"))
      .toDF("doc_id", "text", "source")
    val got = SequencePack.packCoords(docs, 10).orderBy("doc_id")
      .select("n_tokens", "off", "crosses")
      .as[(Long, Long, Boolean)].collect()
    assert(got(1) == ((0L, 10L, false)))   // empty doc at boundary
    assert(got(2) == ((1L, 10L, false)))
  }

  test("ffd: bin capacity respected, oversize docs truncated into own bin") {
    val docs = Seq(doc(0, 30), doc(1, 7), doc(2, 6), doc(3, 4), doc(4, 3))
      .toDF("doc_id", "text", "source")
    val asg = SequencePack.ffdAssignments(docs, seqLen = 10)
      .select("doc_id", "n_tokens", "kept_tokens", "bucket", "bin",
        "truncated")
      .as[(Long, Long, Long, Long, Long, Boolean)].collect()
    // every bin's kept tokens fit
    asg.groupBy(r => (r._4, r._5)).values.foreach { bin =>
      assert(bin.map(_._3).sum <= 10L)
    }
    val over = asg.find(_._1 == 0L).get
    assert(over._3 == 10L && over._6)
    assert(asg.count(r => (r._4, r._5) == ((over._4, over._5))) == 1)
    assert(asg.filterNot(_._6).forall(r => r._2 == r._3))
  }

  test("ffd: decreasing order packs the classic case tightly") {
    // sizes 7,6,4,3 at cap 10 → FFD bins {7,3},{6,4}: fill 1.0
    val docs = Seq(doc(0, 7), doc(1, 6), doc(2, 4), doc(3, 3))
      .toDF("doc_id", "text", "source")
    val got = SequencePack.ffdSummary(docs, seqLen = 10)
      .select("n_bins", "fill_frac", "efficiency")
      .as[(Long, Double, Double)].collect().head
    assert(got == ((2L, 1.0, 1.0)))
  }

  test("ffd is deterministic and bins never span buckets") {
    val docs = (0L until 300L).map(i => doc(i, (i % 23).toInt + 1))
      .toDF("doc_id", "text", "source")
    val a = SequencePack.ffdAssignments(docs, 64, bucketSize = 50)
      .orderBy("doc_id").collect()
    val b = SequencePack.ffdAssignments(docs, 64, bucketSize = 50)
      .orderBy("doc_id").collect()
    assert(a.sameElements(b))
    a.foreach { r =>
      assert(r.getLong(3) == r.getLong(0) / 50) // bucket = doc_id div 50
    }
  }

  test("crossingReport aggregates per source with carried labels") {
    val docs = Seq(doc(0, 6, "a"), doc(1, 6, "a"), doc(2, 6, "b"),
      doc(3, 2, "b")).toDF("doc_id", "text", "source")
    // seqLen 8: spans [0,6) no, [6,12) crosses 8, [12,18) crosses 16,
    // [18,20) no
    val got = SequencePack.crossingReport(docs, seqLen = 8)
      .select("source", "n_docs", "n_tokens", "n_crossing")
      .as[(String, Long, Long, Long)].collect().toList
    assert(got == List(("a", 2L, 12L, 1L), ("b", 2L, 8L, 1L)))
  }
}
