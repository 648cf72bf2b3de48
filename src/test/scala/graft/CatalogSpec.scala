package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.lake.{Catalog, TableLog}
import java.nio.file.Files

class CatalogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("catalog rows resolve version/action/columns/rows from manifests; schema pinned") {
    val base = Files.createTempDirectory("graft_cat").toString
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "name")
    TableLog.commitOverwrite(spark, s"$base/a", a)
    TableLog.commitAppend(spark, s"$base/a", Seq((3L, "z")).toDF("id", "name"))
    TableLog.commitOverwrite(spark, s"$base/b",
      Seq((1L, 2.5, true)).toDF("k", "v", "flag"))
    val got = Catalog.build(spark,
      Map("a" -> s"$base/a", "b" -> s"$base/b", "ghost" -> s"$base/nope"))
    val rows = got.orderBy("table_name").collect()
    // uncommitted paths are skipped, not fabricated
    assert(rows.map(_.getString(0)).toSeq == Seq("a", "b"))
    assert(rows(0).getInt(1) == 2 && rows(0).getString(2) == "append")
    assert(rows(0).getInt(3) == 2 && rows(0).getLong(4) == 3L)
    assert(rows(1).getInt(1) == 1 && rows(1).getString(2) == "overwrite")
    assert(rows(1).getInt(3) == 3 && rows(1).getLong(4) == 1L)
    // schema_json carries the manifest-recorded snapshot schema
    val schemaA = org.apache.spark.sql.types.DataType
      .fromJson(rows(0).getString(5))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(schemaA.fieldNames.toSeq == Seq("id", "name"))
  }

  test("publish materializes the catalog as a TableLog table; republish overwrites") {
    val base = Files.createTempDirectory("graft_catpub").toString
    TableLog.commitOverwrite(spark, s"$base/t1",
      Seq((1L, "a")).toDF("id", "v"))
    val c1 = Catalog.publish(spark,
      Map("t1" -> s"$base/t1"), s"$base/_catalog")
    assert(c1.version == 1)
    assert(TableLog.read(spark, s"$base/_catalog").count() == 1)
    // second publish sees the new table AND the catalog's own new state
    TableLog.commitOverwrite(spark, s"$base/t2",
      Seq((1L, 2L)).toDF("x", "y"))
    val c2 = Catalog.publish(spark,
      Map("t1" -> s"$base/t1", "t2" -> s"$base/t2"), s"$base/_catalog")
    assert(c2.version == 2)
    val latest = TableLog.read(spark, s"$base/_catalog")
    assert(latest.count() == 2)
    assert(latest.filter(col("table_name") === "t2").count() == 1)
    // prior catalog version remains readable (snapshot semantics)
    assert(TableLog.read(spark, s"$base/_catalog", Some(1)).count() == 1)
  }

  test("lineage edges publish from commit inputs; upstream walks a mart's transitive inputs") {
    val base = Files.createTempDirectory("graft_lin").toString
    val df = Seq((1L, "a")).toDF("id", "v")
    // raw v1 (no inputs), raw v2 ingested from an unversioned feed
    TableLog.commitOverwrite(spark, s"$base/raw", df)
    TableLog.commitAppend(spark, s"$base/raw", Seq((2L, "b")).toDF("id", "v"),
      Seq(TableLog.InputRef("ext/feed", None)))
    // stg ← raw@2, mart ← stg@1: a staging→mart chain
    TableLog.commitOverwrite(spark, s"$base/stg", df,
      Seq(TableLog.inputRef(spark, s"$base/raw", "raw")))
    TableLog.commitMerge(spark, s"$base/mart", df, Seq("id"),
      Seq(TableLog.inputRef(spark, s"$base/stg", "stg")))
    val tables = Map("raw" -> s"$base/raw", "stg" -> s"$base/stg",
      "mart" -> s"$base/mart")
    val edges = Catalog.lineage(spark, tables)
      .as[(String, Int, String, Option[Int], String)].collect().toSet
    assert(edges == Set(
      ("raw", 2, "ext/feed", None, "append"),
      ("stg", 1, "raw", Some(2), "overwrite"),
      ("mart", 1, "stg", Some(1), "merge")))
    // the mart's transitive closure reaches the external feed through
    // stg and raw — "which feed poisoned this mart" in one walk
    assert(Catalog.upstream(spark, tables, "mart") == Seq(
      TableLog.InputRef("ext/feed", None),
      TableLog.InputRef("raw", Some(2)),
      TableLog.InputRef("stg", Some(1))))
    // publish materializes the edges AND records the published tables
    // as the lineage/catalog commits' own inputs (self-describing)
    Catalog.publish(spark, tables, s"$base/_catalog",
      lineagePath = Some(s"$base/_lineage"))
    assert(TableLog.read(spark, s"$base/_lineage").count() == 3)
    val catInputs = TableLog.history(spark, s"$base/_catalog").last.inputs
    assert(catInputs.toSet == Set(
      TableLog.InputRef("mart", Some(1)), TableLog.InputRef("raw", Some(2)),
      TableLog.InputRef("stg", Some(1))))
  }

  test("upstream pins recorded versions: later commits never leak into the closure") {
    val base = Files.createTempDirectory("graft_linver").toString
    val df = Seq((1L, "a")).toDF("id", "v")
    // ord v1 fed by feed_old; mart consumed ord@1
    TableLog.commitOverwrite(spark, s"$base/ord", df,
      Seq(TableLog.InputRef("feed_old", None)))
    TableLog.commitMerge(spark, s"$base/mart", df, Seq("id"),
      Seq(TableLog.inputRef(spark, s"$base/ord", "ord")))
    // ord advances PAST the recorded version, fed by a different feed
    TableLog.commitAppend(spark, s"$base/ord",
      Seq((2L, "b")).toDF("id", "v"),
      Seq(TableLog.InputRef("feed_new", None)))
    val tables = Map("ord" -> s"$base/ord", "mart" -> s"$base/mart")
    // the closure walks ord AT v1: feed_old appears, feed_new must not
    // — a latest-commit walk would report feed_new (v2's input)
    assert(Catalog.upstream(spark, tables, "mart") == Seq(
      TableLog.InputRef("feed_old", None),
      TableLog.InputRef("ord", Some(1))))
    // a recorded-but-missing version terminates the walk at that edge
    // rather than substituting another version's provenance: drop v1's
    // manifest (what vacuum of an old version would leave)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$base/ord", "_graft_log", "v00000001.manifest"))
    assert(Catalog.upstream(spark, tables, "mart") == Seq(
      TableLog.InputRef("ord", Some(1))),
      "missing recorded version yields the edge itself, no substituted inputs")
  }

  test("downstream taints versioned edges exactly, unversioned edges widely") {
    val base = Files.createTempDirectory("graft_impact").toString
    val df = Seq((1L, "a")).toDF("id", "v")
    // ord v1 clean; ord v2 fed by the bad feed
    TableLog.commitOverwrite(spark, s"$base/ord", df)
    TableLog.commitAppend(spark, s"$base/ord",
      Seq((2L, "b")).toDF("id", "v"),
      Seq(TableLog.InputRef("bad_feed", None)))
    // mart v1 pinned to clean ord@1; mart v2 pinned to ord@2;
    // audit consumed ord WITHOUT a version — must taint conservatively
    TableLog.commitMerge(spark, s"$base/mart", df, Seq("id"),
      Seq(TableLog.InputRef("ord", Some(1))))
    TableLog.commitMerge(spark, s"$base/mart", df, Seq("id"),
      Seq(TableLog.InputRef("ord", Some(2))))
    TableLog.commitOverwrite(spark, s"$base/audit", df,
      Seq(TableLog.InputRef("ord", None)))
    val tables = Map("ord" -> s"$base/ord", "mart" -> s"$base/mart",
      "audit" -> s"$base/audit")
    assert(Catalog.downstream(spark, tables, "bad_feed") == Seq(
      ("audit", 1), ("mart", 2), ("ord", 2)),
      "version-pinned mart@1 stays clean; unversioned audit edge widens")
    // a source nothing consumed taints nothing
    assert(Catalog.downstream(spark, tables, "unknown_feed").isEmpty)
    // taint carries FORWARD through snapshot-deriving commits: ord v3
    // appends clean rows, but v2's poisoned rows persist in the v3
    // snapshot — a consumer pinned to ord@3 must still be flagged
    TableLog.commitAppend(spark, s"$base/ord",
      Seq((3L, "c")).toDF("id", "v"),
      Seq(TableLog.InputRef("clean_feed", None)))
    TableLog.commitMerge(spark, s"$base/mart", df, Seq("id"),
      Seq(TableLog.InputRef("ord", Some(3))))
    assert(Catalog.downstream(spark, tables, "bad_feed").toSet == Set(
      ("audit", 1), ("mart", 2), ("mart", 3), ("ord", 2), ("ord", 3)),
      "append carries taint to ord@3 and its pinned consumer mart@3")
    // an OVERWRITE rebuilds content purely from its declared inputs —
    // the carry chain breaks and later versions start clean
    TableLog.commitOverwrite(spark, s"$base/ord", df,
      Seq(TableLog.InputRef("clean_feed", None)))
    assert(!Catalog.downstream(spark, tables, "bad_feed")
      .contains(("ord", 4)),
      "overwrite from clean inputs is not tainted by prior versions")
    // ROLLBACK may restore ANY earlier snapshot and the manifest does
    // not record which — it must widen to every prior version, so a
    // rollback to the poisoned v2 behind the clean overwrite can't
    // escape the closure
    TableLog.rollback(spark, s"$base/ord", 2)
    assert(Catalog.downstream(spark, tables, "bad_feed")
      .contains(("ord", 5)),
      "rollback past a clean overwrite still reaches the taint")
  }

  test("catalog build is metadata-only: stats-less manifests publish NULL counts, zero jobs") {
    import scala.jdk.CollectionConverters._
    val base = Files.createTempDirectory("graft_catmeta").toString
    TableLog.commitOverwrite(spark, s"$base/old", Seq((1L, "x")).toDF("id", "v"))
    // strip stats AND schema lines, simulating a manifest written
    // before either existed — the catalog must not fall back to a
    // data scan for it (10k such tables would serialize 10k scans
    // through the driver loop)
    val log = java.nio.file.Paths.get(s"$base/old", "_graft_log")
    java.nio.file.Files.list(log).forEach { m =>
      if (m.getFileName.toString.endsWith(".manifest")) {
        val kept = java.nio.file.Files.readAllLines(m).asScala
          .filterNot(l => l.startsWith("#s\t") || l.startsWith("#f\t") ||
            l.startsWith("#c\t"))
        java.nio.file.Files.write(m, kept.mkString("\n").getBytes("UTF-8"))
      }
    }
    // job-group-scoped counting: the status store is fed by an ASYNC
    // listener bus, so a global before/after count races with late-
    // posting jobs from earlier tests (the r14 driver-run flake). A
    // job group is thread-local: any scan job the build launched from
    // this thread lands in the group, earlier tests' jobs never do.
    val tracker = spark.sparkContext.statusTracker
    val group = s"graft_catmeta_${System.nanoTime()}"
    spark.sparkContext.setJobGroup(group, "catalog metadata-only check")
    val got =
      try {
        val rows = Catalog.build(spark, Map("old" -> s"$base/old"))
          .collect()   // LocalTableScan: driver-side, no job
        // barrier job: posted in order, so once THIS job is visible in
        // the group, any earlier build job would be too
        spark.sparkContext.parallelize(1 to 2, 1).count()
        rows
      } finally spark.sparkContext.clearJobGroup()
    val deadline = System.currentTimeMillis() + 10000
    while (tracker.getJobIdsForGroup(group).length < 1 &&
      System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(tracker.getJobIdsForGroup(group).length == 1,
      "catalog build over a stats-less table must not launch a scan job")
    assert(got.length == 1)
    assert(got(0).isNullAt(3) && got(0).isNullAt(4))   // n_columns, row_count
  }

  test("freshness resolves from manifest max bounds; undeclared tables read NULL") {
    val base = Files.createTempDirectory("graft_catfresh").toString
    val maxMs = 1706745600000L   // 2024-02-01T00:00:00Z
    val ts = Seq(
      (1L, new java.sql.Timestamp(maxMs - 7200000L)),
      (2L, new java.sql.Timestamp(maxMs))).toDF("id", "loaded_at")
    TableLog.commitOverwrite(spark, s"$base/t", ts)
    TableLog.commitOverwrite(spark, s"$base/u", Seq((1L, "x")).toDF("id", "v"))
    val nowMs = maxMs + 36000000L   // 10 hours later
    val got = Catalog.build(spark, Map("t" -> s"$base/t", "u" -> s"$base/u"),
      Some(Catalog.FreshnessSpec(nowMs, Map("t" -> "loaded_at"))))
      .orderBy("table_name").collect()
    assert(got(0).getDouble(5) == 10.0)   // stats max, not file reads
    assert(got(1).isNullAt(5))            // no loaded-at declared
    // without a spec the column is absent entirely (back-compat shape)
    assert(!Catalog.build(spark, Map("t" -> s"$base/t"))
      .columns.contains("freshness_hours"))
  }
}
