package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import graft.lake.{StatsAgg, TableLog}

class StatsAggSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshPath() =
    Files.createTempDirectory("graft_statsagg").resolve("t").toString

  private def df() =
    spark.range(0, 400).toDF("id")
      .withColumn("name", concat(lit("n"), lpad(col("id").cast("string"), 4, "0")))
      .withColumn("score", col("id").cast("double") / 10.0)
      .withColumn("maybe", when(col("id") % 5 === 0, col("id")))
      .repartitionByRange(4, col("id"))
      .sortWithinPartitions("id")

  test("profile matches full-scan aggregates on every column kind") {
    val path = freshPath()
    TableLog.commitAppend(spark, path, df())
    TableLog.commitAppend(spark, path,
      spark.range(400, 500).toDF("id")
        .withColumn("name", concat(lit("n"), lpad(col("id").cast("string"), 4, "0")))
        .withColumn("score", col("id").cast("double") / 10.0)
        .withColumn("maybe", when(col("id") % 5 === 0, col("id")))
        .repartition(2))
    val got = StatsAgg.profile(spark, path,
      Seq("id", "name", "score", "maybe")).head()
    val want = TableLog.read(spark, path).agg(
      count(lit(1)), count($"id"), min($"id"), max($"id"),
      count($"name"), min($"name"), max($"name"),
      count($"score"), min($"score"), max($"score"),
      count($"maybe"), min($"maybe"), max($"maybe")).head()
    assert(got.toSeq == want.toSeq)
  }

  test("long/string profile and count resolve with the data files GONE (metadata-only proof)") {
    val path = freshPath()
    TableLog.commitAppend(spark, path, df())
    val before = StatsAgg.profile(spark, path, Seq("id", "name")).head()
    val nRows = StatsAgg.countRows(spark, path)
    // range fully inside one interior file's bounds + fully covering
    // commits: every file classifies CONTAINED or EXCLUDED, no scan
    val cntAll = StatsAgg.countWhere(spark, path, "id", 0L, 399L)
    // erase every data file, keep the log — a scan now cannot succeed,
    // so matching answers prove the metadata path never opened data
    val dataDir = Paths.get(path, "data")
    Files.walk(dataDir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
    assert(StatsAgg.countRows(spark, path) == nRows)
    assert(StatsAgg.countWhere(spark, path, "id", 0L, 399L) == cntAll)
    assert(StatsAgg.profile(spark, path, Seq("id", "name")).head() == before)
  }

  test("countWhere == read().filter().count() across boundary/interior/empty/full intervals") {
    val path = freshPath()
    (0 until 3).foreach { c =>
      TableLog.commitAppend(spark, path,
        df().filter(col("id") % 3 === c).repartitionByRange(3, col("id")))
    }
    val full = TableLog.read(spark, path)
    for ((lo, hi) <- Seq((0L, 399L), (50L, 149L), (100L, 100L),
        (500L, 900L), (-10L, -1L), (399L, 450L))) {
      val want = full.where(col("id").between(lo, hi)).count()
      assert(StatsAgg.countWhere(spark, path, "id", lo, hi) == want,
        s"interval [$lo,$hi]")
    }
  }

  test("double bounds come from the scan path, never stats (NaN-safe contract)") {
    val path = freshPath()
    val withNan = spark.range(0, 100).toDF("id")
      .withColumn("score",
        when(col("id") === 50, lit(Double.NaN))
          .otherwise(col("id").cast("double")))
    TableLog.commitAppend(spark, path, withNan.repartitionByRange(2, col("id")))
    val got = StatsAgg.profileColumn(spark, path, "score")
    val want = TableLog.read(spark, path)
      .agg(count($"score"), min($"score"), max($"score")).head()
    assert(got.cnt == want.getLong(0))
    assert(got.min.contains(want.getDouble(1)))
    // Spark's max treats NaN as greater than any double — the scan
    // path must agree (stats bounds would have said 99.0)
    assert(got.max.exists(_.asInstanceOf[Double].isNaN))
    assert(want.getDouble(2).isNaN)
  }

  test("schema evolution: profiling a late column scans old files as null, exactly") {
    val path = freshPath()
    TableLog.commitAppend(spark, path,
      spark.range(0, 100).toDF("id"))
    TableLog.commitAppend(spark, path,
      spark.range(100, 150).toDF("id").withColumn("extra", col("id") * 2))
    val got = StatsAgg.profile(spark, path, Seq("extra")).head()
    val want = TableLog.read(spark, path).agg(
      count(lit(1)), count($"extra"), min($"extra"), max($"extra")).head()
    assert(got.toSeq == want.toSeq)
    assert(got.getLong(1) == 50L)
  }

  test("all-null column profiles as (0, None, None) via the scan fallback") {
    val path = freshPath()
    TableLog.commitAppend(spark, path,
      spark.range(0, 60).toDF("id")
        .withColumn("gone", lit(null).cast("string")))
    val got = StatsAgg.profileColumn(spark, path, "gone")
    assert(got == StatsAgg.ColProfile(0L, None, None))
  }

  test("stats-partial snapshot: pruned reads and counts stay exact, countRows declines") {
    val path = freshPath()
    val c1 = TableLog.commitAppend(spark, path,
      spark.range(0, 100).toDF("id").repartition(1))
    // simulate a pre-stats manifest: strip the '#'-metadata lines from
    // v1, so the v2 append carries dir-without-stats forward
    val m1 = Paths.get(path, "_graft_log", f"v${c1.version}%08d.manifest")
    val kept = scala.jdk.CollectionConverters.ListHasAsScala(
      Files.readAllLines(m1)).asScala.filterNot(_.startsWith("#"))
    Files.write(m1, kept.mkString("\n").getBytes("UTF-8"))
    TableLog.commitAppend(spark, path,
      spark.range(100, 160).toDF("id").repartition(1))
    // the untracked dir must survive pruning (rows 0..99 live there)
    assert(TableLog.readWhere(spark, path, "id", 10L, 120L).count() == 111L)
    assert(TableLog.readWhereIn(spark, path, "id", Seq(5L, 150L)).count() == 2L)
    assert(StatsAgg.countWhere(spark, path, "id", 10L, 120L) == 111L)
    // the reports count the untracked dir as kept, as the reads open it:
    // v2's one file is pruned by its bounds, v1's dir cannot be
    assert(TableLog.pruneReport(spark, path, "id", 10L, 50L) == ((1, 2)))
    assert(TableLog.pruneReportIn(spark, path, "id", Seq(5L)) == ((1, 2)))
    assert(TableLog.readWhere(spark, path, "id", 10L, 50L).count() == 41L)
    // count(*) must refuse the metadata shortcut (it would undercount)
    assert(TableLog.countRows(spark, path).isEmpty)
    assert(StatsAgg.countRows(spark, path) == 160L)
  }
}
