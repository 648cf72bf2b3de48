package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.lake.{TableLog, ZOrder}

class ZOrderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("interleaveBits column expression matches the reference impl") {
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (5L, 9L), (65535L, 1L),
      (12345L, 54321L))
    val got = rows.toDF("a", "b")
      .select(ZOrder.interleaveBits(col("a"), col("b")).as("z"))
      .as[Long].collect().toSeq
    assert(got == rows.map { case (a, b) => ZOrder.interleaveRef(a, b) })
  }

  test("interleave round-trips: de-interleaving recovers the inputs") {
    val rnd = new scala.util.Random(42)
    (0 until 500).foreach { _ =>
      val a = rnd.nextInt(65536).toLong
      val b = rnd.nextInt(65536).toLong
      val z = ZOrder.interleaveRef(a, b)
      var ra = 0L; var rb = 0L
      (0 until 16).foreach { i =>
        ra |= ((z >> (2 * i)) & 1L) << i
        rb |= ((z >> (2 * i + 1)) & 1L) << i
      }
      assert(ra == a && rb == b, s"round-trip failed for ($a, $b)")
    }
  }

  test("N-way interleave: expression matches reference, 2-way case agrees with interleaveBits") {
    val rows = Seq(
      Seq(0L, 0L, 0L), Seq(1L, 2L, 3L), Seq(255L, 0L, 255L), Seq(7L, 7L, 7L))
    val got = rows.map(_.toArray).toDF("v")
      .select(ZOrder.interleaveBitsN(
        Seq(element_at(col("v"), 1), element_at(col("v"), 2),
          element_at(col("v"), 3)), bits = 8).as("z"))
      .as[Long].collect().toSeq
    assert(got == rows.map(v => ZOrder.interleaveRefN(v, 8)))
    // N=2 reduces to the pairwise form
    val a = 12345L; val b = 54321L
    assert(ZOrder.interleaveRefN(Seq(a, b), 16) == ZOrder.interleaveRef(a, b))
  }

  test("clusterN over 3 columns keeps rows and produces the file count") {
    val df = (0 until 3000).map(i =>
      (i.toLong, (i * 13 % 100).toLong, (i * 7 % 50).toLong, s"p$i"))
      .toDF("a", "b", "c", "payload")
    val out = ZOrder.clusterN(df, Seq("a", "b", "c"), numFiles = 4)
    assert(out.count() == 3000)
    assert(out.rdd.getNumPartitions == 4)
    // de-interleave round trip at the reduced per-dimension width
    val effBits = 63 / 3
    val z = ZOrder.interleaveRefN(Seq(5L, 9L, 3L), effBits)
    var r = Seq(0L, 0L, 0L)
    (0 until effBits).foreach { i =>
      r = r.zipWithIndex.map { case (acc, j) =>
        acc | (((z >> (i * 3 + j)) & 1L) << i)
      }
    }
    assert(r == Seq(5L, 9L, 3L))
  }

  test("cluster keeps all rows and produces the requested file count") {
    val df = (0 until 1000).map(i => (i.toLong, (i * 7 % 100).toLong))
      .toDF("x", "y")
    val clustered = ZOrder.cluster(df, "x", "y", numFiles = 4, bits = 8)
    assert(clustered.count() == 1000)
    assert(clustered.rdd.getNumPartitions == 4)
  }

  test("commitOptimize bins each column maximum into the top bin, not with the minimum") {
    val path = java.nio.file.Files.createTempDirectory("graft_zorder")
      .resolve("t").toString
    val rnd = new scala.util.Random(42)
    val df = (0 until 20000).map(i => (rnd.nextInt(730).toLong, i.toLong))
      .toDF("day", "o_orderkey")
    TableLog.commitAppend(spark, path, df)
    TableLog.commitOptimize(spark, path, ("day", "o_orderkey"), 8)
    val dayBounds = TableLog.history(spark, path).last.stats.map { f =>
      val day = f.cols("day")
      (day.min.get.toLong, day.max.get.toLong)
    }
    assert(dayBounds.size == 8)
    // a max-value row binned with the minimum stretches its file's day
    // bounds over the whole column range, so no day probe skips it (4
    // of these 8 files without the clamp). Only the file at the
    // z-order's top-level split may span every day: the range
    // partitioner's sampled boundary lands near that split, not on it.
    assert(dayBounds.count(_ == ((0L, 729L))) <= 1,
      s"files spanning every day: $dayBounds")
  }
}
