package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files
import graft.lake.{MaterializedAgg, TableLog}
import graft.lake.MaterializedAgg.AggSpec

class MaterializedAggSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fresh(name: String) =
    Files.createTempDirectory("graft_mv").resolve(name).toString

  private val spec = AggSpec(Seq("k"), sumCols = Seq("v"),
    minCols = Seq("v"), maxCols = Seq("v"))

  private def direct(src: String) =
    TableLog.read(spark, src).groupBy("k")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"),
        min("v").as("min_v"), max("v").as("max_v"))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("k", "cnt", "sum_v", "min_v", "max_v")
      .as[(String, Long, Long, Long, Long)].collect().toSet

  test("append-only refresh aggregates ONLY the new dirs; finalize equals direct") {
    val src = fresh("src"); val mv = fresh("mv")
    TableLog.commitAppend(spark, src,
      Seq(("a", 1L), ("a", 2L), ("b", 10L)).toDF("k", "v"))
    val r1 = MaterializedAgg.refresh(spark, src, mv, spec)
    assert(r1.processedDirs.size == 1 && r1.reusedDirs.isEmpty)
    assert(rows(MaterializedAgg.read(spark, mv, spec)) == rows(direct(src)))

    TableLog.commitAppend(spark, src,
      Seq(("a", 5L), ("c", 7L)).toDF("k", "v"))
    val r2 = MaterializedAgg.refresh(spark, src, mv, spec)
    // the increment is exactly the appended dir; batch-1 partials reused
    assert(r2.processedDirs.size == 1)
    assert(r2.processedDirs.intersect(r1.processedDirs).isEmpty)
    assert(r2.reusedDirs == r1.processedDirs.sorted)
    assert(r2.droppedDirs.isEmpty)
    assert(rows(MaterializedAgg.read(spark, mv, spec)) == rows(direct(src)))
    assert(rows(MaterializedAgg.read(spark, mv, spec)) ==
      Set(("a", 3L, 8L, 1L, 5L), ("b", 1L, 10L, 10L, 10L), ("c", 1L, 7L, 7L, 7L)))
  }

  test("a column added by schema evolution aggregates as NULL over the dirs written before it") {
    val src = fresh("src"); val mv = fresh("mv")
    TableLog.commitAppend(spark, src, Seq(("a", 1L), ("b", 2L)).toDF("k", "v"))
    // the append carries the pre-evolution dir forward under a snapshot
    // schema that now has `w`
    TableLog.commitAppend(spark, src,
      Seq(("a", 3L, 10L), ("c", 4L, 20L)).toDF("k", "v", "w"))
    val wSpec = AggSpec(Seq("k"), sumCols = Seq("w"))
    assert(MaterializedAgg.refresh(spark, src, mv, wSpec).processedDirs.size == 2)
    val got = MaterializedAgg.read(spark, mv, wSpec).select("k", "cnt", "sum_w")
      .as[(String, Long, Option[Long])].collect().toSet
    assert(got == Set(("a", 2L, Some(10L)), ("b", 1L, None), ("c", 1L, Some(20L))))
  }

  test("HLL approx-distinct partials union across incremental refreshes") {
    val src = fresh("src"); val mv = fresh("mv")
    val hllSpec = AggSpec(Seq("k"), approxDistinctCols = Seq("u"))
    // users 0..99 under key a, 0..19 under b — SPLIT across two commits
    // with overlap (users 40..59 of a appear in both dirs), so a correct
    // result requires sketch UNION, not partial-count addition
    TableLog.commitAppend(spark, src,
      (0L until 60L).map(u => ("a", u)).toDF("k", "u"))
    val r1 = MaterializedAgg.refresh(spark, src, mv, hllSpec)
    assert(r1.processedDirs.size == 1)
    TableLog.commitAppend(spark, src,
      ((40L until 100L).map(u => ("a", u)) ++
        (0L until 20L).map(u => ("b", u))).toDF("k", "u"))
    val r2 = MaterializedAgg.refresh(spark, src, mv, hllSpec)
    assert(r2.processedDirs.size == 1 && r2.reusedDirs == r1.processedDirs)
    val got = MaterializedAgg.read(spark, mv, hllSpec)
      .select("k", "approx_distinct_u").as[(String, Long)].collect().toMap
    // DataSketches HLL is exact at these cardinalities (sparse mode)
    assert(math.abs(got("a") - 100L) <= 5, s"a: ${got("a")}")
    assert(math.abs(got("b") - 20L) <= 1, s"b: ${got("b")}")
    // naive partial-count addition would have said 120 for a
    assert(got("a") < 110L, "overlap across dirs must not double-count")
  }

  test("histogram partials merge across dirs; percentile lands in the right bin") {
    val src = fresh("src"); val mv = fresh("mv")
    val hSpec = AggSpec(Seq("k"),
      histCols = Seq(MaterializedAgg.Hist("v", 0.0, 100.0, 10)))
    // values 1..100 under one key, SPLIT BY VALUE across commits: each
    // dir's histogram covers a different half of the bins, so a correct
    // p50 requires the element-wise array merge
    TableLog.commitAppend(spark, src,
      (1 to 50).map(v => ("a", v.toDouble)).toDF("k", "v"))
    MaterializedAgg.refresh(spark, src, mv, hSpec)
    TableLog.commitAppend(spark, src,
      (51 to 100).map(v => ("a", v.toDouble)).toDF("k", "v"))
    val r = MaterializedAgg.refresh(spark, src, mv, hSpec)
    assert(r.processedDirs.size == 1)
    val hist = MaterializedAgg.read(spark, mv, hSpec)
      .select("hist_v").as[Seq[Long]].collect().head
    // decades, with edge conventions: bin 0 holds 1..9 (9 values) and
    // the hi edge (100.0) clamps into bin 9 (11 values)
    assert(hist.sum == 100L)
    assert(hist.head == 9L && hist.last == 11L && hist.slice(1, 9).forall(_ == 10L))
    // 50th value (=50.0) sits in bin 5 → midpoint 55; true p50 = 50.5
    val p = MaterializedAgg.readPercentiles(spark, mv, hSpec, "v", Seq(0.5))
      .select("p50_v").as[Double].collect().head
    assert(p == 55.0, s"p50 estimate $p")
    assert(math.abs(p - 50.5) <= hSpec.histCols.head.width)
  }

  test("explicit srcName joins MV lineage into the catalog namespace") {
    val base = Files.createTempDirectory("graft_mvname").toString
    // source registered in the catalog as "sales_src"; its DIRECTORY
    // basename ("t1") differs — the default basename edge would be an
    // external leaf in this namespace and the walk would stop there
    TableLog.commitAppend(spark, s"$base/t1",
      Seq(("a", 1L)).toDF("k", "v"), "append",
      Seq(TableLog.InputRef("ext/feed", None)))
    MaterializedAgg.refresh(spark, s"$base/t1", s"$base/mv_dir", spec,
      srcName = Some("sales_src"))
    val tables = Map("sales_src" -> s"$base/t1", "sales_mv" -> s"$base/mv_dir")
    assert(graft.lake.Catalog.upstream(spark, tables, "sales_mv") == Seq(
      TableLog.InputRef("ext/feed", None),
      TableLog.InputRef("sales_src", Some(1))),
      "upstream() resolves THROUGH the MV to the source's own feeds")
    // contrast: an MV refreshed without the explicit name records the
    // basename, which this catalog cannot resolve further
    MaterializedAgg.refresh(spark, s"$base/t1", s"$base/mv2", spec)
    val t2 = tables + ("mv2" -> s"$base/mv2")
    assert(graft.lake.Catalog.upstream(spark, t2, "mv2") == Seq(
      TableLog.InputRef("t1", Some(1))),
      "basename edge is an external leaf: walk terminates, feed unreachable")
  }

  test("a refresh against an unchanged source is a no-op") {
    val src = fresh("src"); val mv = fresh("mv")
    TableLog.commitAppend(spark, src, Seq(("a", 1L)).toDF("k", "v"))
    MaterializedAgg.refresh(spark, src, mv, spec)
    val v = TableLog.latestVersion(spark, mv).get
    val r = MaterializedAgg.refresh(spark, src, mv, spec)
    assert(r.processedDirs.isEmpty && r.droppedDirs.isEmpty)
    assert(TableLog.latestVersion(spark, mv).contains(v), "no new MV version")
  }

  test("overwrite retires stale partials; optimize (pure layout) reuses nothing stale") {
    val src = fresh("src"); val mv = fresh("mv")
    TableLog.commitAppend(spark, src, Seq(("a", 1L), ("b", 2L)).toDF("k", "v"))
    TableLog.commitAppend(spark, src, Seq(("b", 3L)).toDF("k", "v"))
    MaterializedAgg.refresh(spark, src, mv, spec)

    TableLog.commitOverwrite(spark, src, Seq(("z", 9L), ("z", 1L)).toDF("k", "v"))
    val r = MaterializedAgg.refresh(spark, src, mv, spec)
    assert(r.processedDirs.size == 1 && r.droppedDirs.size == 2)
    assert(rows(MaterializedAgg.read(spark, mv, spec)) ==
      Set(("z", 2L, 10L, 1L, 9L)))
    // time travel the MV: the pre-overwrite state is still readable
    val prev = TableLog.read(spark, mv,
      Some(TableLog.latestVersion(spark, mv).get - 1))
    assert(prev.select("__src_dir").distinct().count() == 2)
  }
}
