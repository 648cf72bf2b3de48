package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import java.nio.file.Files
import graft.lake.{BloomIndex, TableLog, TextIndex}

/** A prune report counts the scan set its pruned read opens: for each of
  * the four data-skipping probes, on a hit and on a miss, the report's
  * kept count equals the files the read's plan scans. */
class PruneReportSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pruneReport* kept counts equal the files each readWhere* opens") {
    val path = Files.createTempDirectory("graft_prune")
      .resolve("t").toString
    // 3 commits × 2 files; commit c holds the even ids c*1000 .. c*1000+398
    // and text unique to it ("c<c>_word_<i>")
    (0 until 3).foreach { c =>
      TableLog.commitAppend(spark, path,
        (0 until 200).map(i => (c * 1000L + 2 * i, s"c${c}_word_$i"))
          .toDF("id", "text").repartition(2))
    }
    BloomIndex.ensure(spark, path, Seq("id"))
    TextIndex.ensure(spark, path, Seq("text"))

    def opened(df: DataFrame): Int = df.inputFiles.length
    val cases: Seq[(String, (Int, Int), DataFrame)] = Seq(
      ("range hit", TableLog.pruneReport(spark, path, "id", 1100L, 1200L),
        TableLog.readWhere(spark, path, "id", 1100L, 1200L)),
      ("range miss", TableLog.pruneReport(spark, path, "id", 5000L, 6000L),
        TableLog.readWhere(spark, path, "id", 5000L, 6000L)),
      ("in hit", TableLog.pruneReportIn(spark, path, "id", Seq(4L, 2006L)),
        TableLog.readWhereIn(spark, path, "id", Seq(4L, 2006L))),
      ("in miss", TableLog.pruneReportIn(spark, path, "id", Seq(9999L)),
        TableLog.readWhereIn(spark, path, "id", Seq(9999L))),
      ("eq hit", { val (_, k, t) = TableLog.pruneReportEq(spark, path, "id", 1200L); (k, t) },
        TableLog.readWhereEq(spark, path, "id", 1200L)),
      // odd id inside commit 1's bounds: min/max admits it, the bloom decides
      ("eq miss", { val (_, k, t) = TableLog.pruneReportEq(spark, path, "id", 1201L); (k, t) },
        TableLog.readWhereEq(spark, path, "id", 1201L)),
      ("contains hit", TableLog.pruneReportContains(spark, path, "text", "c1_word_17"),
        TableLog.readWhereContains(spark, path, "text", "c1_word_17")),
      ("contains miss", TableLog.pruneReportContains(spark, path, "text", "zebra"),
        TableLog.readWhereContains(spark, path, "text", "zebra")))
    cases.foreach { case (name, (kept, total), read) =>
      assert(total == 6, s"$name: total $total")
      assert(kept == opened(read), s"$name: report keeps $kept files, read opens ${opened(read)}")
      if (name.endsWith("hit")) assert(kept > 0 && read.count() > 0, name)
      else assert(read.count() == 0L, name)
    }
    // the bounds prune where they can: a range inside commit 1 keeps only its files
    assert(TableLog.pruneReport(spark, path, "id", 1100L, 1200L)._1 == 2)
    assert(TableLog.pruneReport(spark, path, "id", 5000L, 6000L)._1 == 0)
  }
}
