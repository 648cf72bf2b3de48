package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import graft.lake.{SnapshotDiff, TableLog}
import graft.streaming.Streams

class TableLogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshPath() =
    Files.createTempDirectory("graft_tablelog").resolve("t").toString

  /** Every `data/c*` directory on disk, referenced by a manifest or not. */
  private def dataDirsOnDisk(path: String): Set[String] = {
    val d = java.nio.file.Paths.get(path, "data")
    if (!Files.exists(d)) Set.empty
    else Files.list(d).iterator().asScala.map(p => "data/" + p.getFileName)
      .filter(_.startsWith("data/c")).toSet
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.as[(Long, String)].collect().toSet

  test("append/overwrite commits version and time travel reads any snapshot") {
    val path = freshPath()
    TableLog.commitAppend(spark, path, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    TableLog.commitAppend(spark, path, Seq((3L, "c")).toDF("id", "v"))
    TableLog.commitOverwrite(spark, path, Seq((9L, "z")).toDF("id", "v"))

    assert(TableLog.latestVersion(spark, path).contains(3))
    assert(rows(TableLog.read(spark, path)) == Set((9L, "z")))
    assert(rows(TableLog.read(spark, path, Some(1))) == Set((1L, "a"), (2L, "b")))
    assert(rows(TableLog.read(spark, path, Some(2))) ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    val actions = TableLog.history(spark, path).map(_.action)
    assert(actions == Seq("append", "append", "overwrite"))
  }

  test("time travel by timestamp: commit times are recorded, readAsOf pins the snapshot") {
    val path = freshPath()
    val c1 = TableLog.commitAppend(spark, path, Seq((1L, "a")).toDF("id", "v"))
    Thread.sleep(5)
    val c2 = TableLog.commitOverwrite(spark, path, Seq((2L, "b")).toDF("id", "v"))
    Thread.sleep(5)
    val c3 = TableLog.commitAppend(spark, path, Seq((3L, "c")).toDF("id", "v"))
    // every commit carries its time; the manifest round-trips it
    val hist = TableLog.history(spark, path)
    assert(hist.flatMap(_.timestampMs).size == 3)
    assert(hist.map(_.timestampMs.get) == Seq(c1, c2, c3).map(_.timestampMs.get))
    // asOf each commit's own time → that version; between commits →
    // the earlier one; before the first → the table didn't exist
    assert(TableLog.versionAsOf(spark, path, c1.timestampMs.get) == Some(1))
    assert(TableLog.versionAsOf(spark, path, c2.timestampMs.get - 1) == Some(1))
    assert(TableLog.versionAsOf(spark, path, c3.timestampMs.get) == Some(3))
    assert(TableLog.versionAsOf(spark, path, c1.timestampMs.get - 1) == None)
    assert(rows(TableLog.readAsOf(spark, path, c2.timestampMs.get)) == Set((2L, "b")))
    assert(rows(TableLog.readAsOf(spark, path, Long.MaxValue)) ==
      Set((2L, "b"), (3L, "c")))
    intercept[IllegalArgumentException] {
      TableLog.readAsOf(spark, path, c1.timestampMs.get - 1)
    }
  }

  test("a pinned snapshot is immune to later commits (reader isolation)") {
    val path = freshPath()
    TableLog.commitAppend(spark, path, Seq((1L, "a")).toDF("id", "v"))
    val pinned = TableLog.read(spark, path, Some(1))
    TableLog.commitOverwrite(spark, path, Seq((2L, "b")).toDF("id", "v"))
    TableLog.commitAppend(spark, path, Seq((3L, "c")).toDF("id", "v"))
    // the lazy plan still resolves to version 1's directory list
    assert(rows(pinned) == Set((1L, "a")))
  }

  test("commitMerge upserts atomically at the manifest level") {
    val path = freshPath()
    TableLog.commitMerge(spark, path,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"))
    TableLog.commitMerge(spark, path,
      Seq((2L, "B2"), (4L, "d")).toDF("id", "v"), Seq("id"))
    assert(rows(TableLog.read(spark, path)) ==
      Set((1L, "a"), (2L, "B2"), (4L, "d")))
    // pre-merge snapshot still readable
    assert(rows(TableLog.read(spark, path, Some(1))) == Set((1L, "a"), (2L, "b")))
  }

  test("rollback appends a restoring version without erasing history") {
    val path = freshPath()
    TableLog.commitAppend(spark, path, Seq((1L, "a")).toDF("id", "v"))
    TableLog.commitOverwrite(spark, path, Seq((2L, "bad")).toDF("id", "v"))
    val c = TableLog.rollback(spark, path, 1)
    assert(c.version == 3 && c.action == "rollback")
    assert(rows(TableLog.read(spark, path)) == Set((1L, "a")))
    assert(rows(TableLog.read(spark, path, Some(2))) == Set((2L, "bad")))
  }

  test("vacuum drops unreferenced data dirs but keeps retained snapshots intact") {
    val path = freshPath()
    TableLog.commitAppend(spark, path, Seq((1L, "a")).toDF("id", "v"))
    TableLog.commitOverwrite(spark, path, Seq((2L, "b")).toDF("id", "v"))
    TableLog.commitAppend(spark, path, Seq((3L, "c")).toDF("id", "v"))
    val deleted = TableLog.vacuum(spark, path, retain = 2)
    // v1's dir is referenced by no retained manifest; v2's dir is shared by v3
    assert(deleted.size == 1)
    assert(rows(TableLog.read(spark, path)) == Set((2L, "b"), (3L, "c")))
    assert(rows(TableLog.read(spark, path, Some(2))) == Set((2L, "b")))
    intercept[IllegalArgumentException] {
      TableLog.read(spark, path, Some(1))
    }
  }

  test("commitOptimize rewrites layout, preserves rows, records its action") {
    val path = freshPath()
    val df = (0 until 500).map(i => (i.toLong, (i * 37 % 100).toLong, s"r$i"))
      .toDF("a", "b", "v")
    TableLog.commitAppend(spark, path, df.repartition(12))
    val c = TableLog.commitOptimize(spark, path, ("a", "b"), numFiles = 2)
    assert(c.action == "optimize" && c.version == 2)
    assert(TableLog.history(spark, path).map(_.action) == Seq("append", "optimize"))
    val before = TableLog.read(spark, path, Some(1))
      .as[(Long, Long, String)].collect().toSet
    val after = TableLog.read(spark, path)
      .as[(Long, Long, String)].collect().toSet
    assert(after == before && after.size == 500)
  }

  test("concurrent merges with disjoint keys all survive (no lost updates)") {
    val path = freshPath()
    TableLog.commitMerge(spark, path, Seq((0L, "base")).toDF("id", "v"), Seq("id"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = 5
    Await.result(
      Future.sequence((1 to writers).map { i =>
        Future(TableLog.commitMerge(spark, path,
          Seq((i.toLong, s"m$i")).toDF("id", "v"), Seq("id")))
      }), 180.seconds)
    // a merge that loses the race must recompute on the winner's
    // snapshot — every writer's key must be present in the final state
    val finalRows = rows(TableLog.read(spark, path))
    assert(finalRows == (0 to writers).map(i =>
      (i.toLong, if (i == 0) "base" else s"m$i")).toSet,
      s"lost update: $finalRows")
    // race losers must leak no data directories: every dir under data/
    // is referenced by some manifest
    val dataDirs = new java.io.File(s"$path/data").listFiles().map(_.getName).toSet
    val referenced = TableLog.history(spark, path)
      .flatMap(_.dirs).map(_.stripPrefix("data/")).toSet
    assert(dataDirs == referenced,
      s"orphaned dirs: ${dataDirs.diff(referenced)}")
  }

  test("snapshot diff detects a value moving across columns through a null") {
    val before = Seq((1L, Some("a"), None: Option[String]))
      .toDF("id", "x", "y")
    val after = Seq((1L, None: Option[String], Some("a")))
      .toDF("id", "x", "y")
    val got = SnapshotDiff.diff(before, after, Seq("id"))
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "changed")),
      "null-skipping fingerprints would miss the column swap")
  }

  test("snapshot diff classifies added/removed/changed and omits unchanged") {
    val before = Seq(
      (1L, "same", 10.0), (2L, "will-change", 20.0),
      (3L, "will-remove", 30.0), (5L, null.asInstanceOf[String], 50.0))
      .toDF("id", "name", "amount")
    val after = Seq(
      (1L, "same", 10.0), (2L, "changed!", 20.0),
      (4L, "brand-new", 40.0), (5L, "was-null", 50.0))
      .toDF("id", "name", "amount")
    val got = SnapshotDiff.diff(before, after, Seq("id"))
      .as[(Long, String)].collect().toSeq
    assert(got == Seq(
      (2L, "changed"), (3L, "removed"), (4L, "added"), (5L, "changed")))
  }

  test("expectation-gated merge refuses a contract-breaking commit pre-publish") {
    import graft.quality.Expectations
    val path = freshPath()
    val suite = Expectations.Suite("orders_contract", None,
      Seq(Expectations.NotNull("v"), Expectations.MinBound("id", 0.0)))
    TableLog.commitMergeValidated(spark, path,
      Seq((1L, "a")).toDF("id", "v"), Seq("id"), suite)
    assert(TableLog.latestVersion(spark, path).contains(1))
    // a batch with a null payload breaks the contract: no new version,
    // no new data directories
    val dirsBefore = TableLog.history(spark, path).flatMap(_.dirs).toSet
    intercept[IllegalStateException] {
      TableLog.commitMergeValidated(spark, path,
        Seq((2L, null.asInstanceOf[String])).toDF("id", "v"), Seq("id"), suite)
    }
    // the suite-gated overwrite refuses the same way
    intercept[IllegalStateException] {
      TableLog.commitOverwrite(spark, path,
        Seq((-3L, "x")).toDF("id", "v"), suite = Some(suite))
    }
    assert(TableLog.latestVersion(spark, path).contains(1))
    assert(TableLog.history(spark, path).flatMap(_.dirs).toSet == dirsBefore)
    // the refused merge's data was written, checked, then removed: no
    // orphan directory stays on disk
    assert(dataDirsOnDisk(path) == dirsBefore)
    assert(rows(TableLog.read(spark, path)) == Set((1L, "a")))
  }

  test("suite and constraints gate a merge together: a constraint breach is refused pre-publish") {
    import graft.quality.Expectations
    val path = freshPath()
    val suite = Expectations.Suite("orders_contract", None,
      Seq(Expectations.NotNull("v")))
    TableLog.commitMergeValidated(spark, path,
      Seq((1L, "a")).toDF("id", "v"), Seq("id"), suite)
    TableLog.addConstraint(spark, path, "id_positive", "id > 0")
    val dirsBefore = dataDirsOnDisk(path)
    // passes the suite, breaks the constraint
    val e = intercept[TableLog.ConstraintViolationException] {
      TableLog.commitMergeValidated(spark, path,
        Seq((-1L, "b")).toDF("id", "v"), Seq("id"), suite)
    }
    assert(e.byConstraint == Seq("id_positive" -> 1L))
    // breaks both: the suite is reported first
    intercept[IllegalStateException] {
      TableLog.commitMergeValidated(spark, path,
        Seq((-2L, null.asInstanceOf[String])).toDF("id", "v"), Seq("id"), suite)
    }
    assert(TableLog.latestVersion(spark, path).contains(2))
    assert(dataDirsOnDisk(path) == dirsBefore)
    assert(rows(TableLog.read(spark, path)) == Set((1L, "a")))
  }

  test("concurrent appenders all land: rename-if-absent serializes versions") {
    val path = freshPath()
    val writers = 6
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val commits = Await.result(
      Future.sequence((1 to writers).map { i =>
        Future(TableLog.commitAppend(spark, path,
          Seq((i.toLong, s"w$i")).toDF("id", "v")))
      }), 120.seconds)
    assert(commits.map(_.version).sorted == (1 to writers))
    assert(rows(TableLog.read(spark, path)) ==
      (1 to writers).map(i => (i.toLong, s"w$i")).toSet)
    // every intermediate snapshot is a consistent prefix-by-version
    val hist = TableLog.history(spark, path)
    assert(hist.map(_.dirs.size) == (1 to writers))
  }

  test("streaming merge into a versioned table: one version per batch, replay-safe") {
    import java.sql.Timestamp
    val srcDir = Files.createTempDirectory("graft_vstream_src")
    val scratch = Files.createTempDirectory("graft_vstream_scratch")
    // three chronological files, overlapping event ids across files
    Seq(
      Seq((1L, "2024-01-01 01:00:00"), (2L, "2024-01-01 02:00:00")),
      Seq((2L, "2024-01-01 02:00:00"), (3L, "2024-01-02 01:00:00")),
      Seq((4L, "2024-01-03 01:00:00"))
    ).zipWithIndex.foreach { case (batch, i) =>
      val tmp = s"$scratch/b$i"
      batch.map { case (id, ts) => (id, Timestamp.valueOf(ts)) }
        .toDF("event_id", "ts")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS")).head
      java.nio.file.Files.copy(java.nio.file.Paths.get(part),
        srcDir.resolve(f"$i%02d.parquet"))
      Thread.sleep(5)
    }
    val table = Files.createTempDirectory("graft_vstream_table").resolve("t").toString
    def run(): Unit = Streams.mergeEventsToVersionedLake(
      spark, srcDir.toString, table,
      Files.createTempDirectory("graft_vstream_ckpt").toString,
      glob = "*.parquet", maxFilesPerTrigger = Some(1))

    run()
    assert(TableLog.latestVersion(spark, table).contains(3))
    assert(TableLog.read(spark, table).select("event_id").as[Long]
      .collect().toSet == Set(1L, 2L, 3L, 4L))
    // time travel into mid-ingestion state
    assert(TableLog.read(spark, table, Some(2)).select("event_id").as[Long]
      .collect().toSet == Set(1L, 2L, 3L))
    // full replay: more versions, identical final rows
    run()
    assert(TableLog.latestVersion(spark, table).contains(6))
    assert(TableLog.read(spark, table).select("event_id").as[Long]
      .collect().toSet == Set(1L, 2L, 3L, 4L))
  }

  test("diff across TableLog versions — the CDC read path") {
    val path = freshPath()
    TableLog.commitMerge(spark, path,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"))
    TableLog.commitMerge(spark, path,
      Seq((2L, "B2"), (3L, "c")).toDF("id", "v"), Seq("id"))
    val got = SnapshotDiff.diff(
      TableLog.read(spark, path, Some(1)),
      TableLog.read(spark, path, Some(2)), Seq("id"))
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((2L, "changed"), (3L, "added")))
  }

  test("manifest records the snapshot schema; evolution unions it at commit time") {
    val path = freshPath()
    TableLog.commitAppend(spark, path, Seq((1L, "a")).toDF("id", "v"))
    // O(1) resolution from the log — no footer inference
    assert(TableLog.snapshotSchema(spark, path).get.fieldNames.toSeq ==
      Seq("id", "v"))
    // evolved append: the recorded schema is the union, in
    // first-seen field order, and every field nullable (any of them
    // can be null-backfilled by a union-schema read)
    TableLog.commitAppend(spark, path,
      Seq((2L, "b", 9L)).toDF("id", "v", "extra"))
    val s = TableLog.snapshotSchema(spark, path).get
    assert(s.fieldNames.toSeq == Seq("id", "v", "extra"))
    assert(s.fields.forall(_.nullable))
    // the pre-evolution snapshot keeps its own narrower schema
    assert(TableLog.snapshotSchema(spark, path, Some(1)).get
      .fieldNames.toSeq == Seq("id", "v"))
    // the read null-backfills pre-evolution rows under that schema
    val got = TableLog.read(spark, path)
      .select("id", "extra").as[(Long, Option[Long])].collect().toSet
    assert(got == Set((1L, None), (2L, Some(9L))))
    // delete and rollback carry the schema forward verbatim
    TableLog.commitDelete(spark, path, "id", 1L, 1L)
    assert(TableLog.snapshotSchema(spark, path).get.fieldNames.toSeq ==
      Seq("id", "v", "extra"))
    TableLog.rollback(spark, path, 1)
    assert(TableLog.snapshotSchema(spark, path).get.fieldNames.toSeq ==
      Seq("id", "v"))
  }

  test("pre-schema-tracking manifests fall back to footer-merge inference") {
    val path = freshPath()
    TableLog.commitAppend(spark, path, Seq((1L, "a")).toDF("id", "v"))
    TableLog.commitAppend(spark, path,
      Seq((2L, "b", 9L)).toDF("id", "v", "extra"))
    // strip the schema lines, simulating manifests written before
    // schema tracking existed
    val log = java.nio.file.Paths.get(path, "_graft_log")
    java.nio.file.Files.list(log).forEach { m =>
      if (m.getFileName.toString.endsWith(".manifest")) {
        val kept = java.nio.file.Files.readAllLines(m).asScala
          .filterNot(_.startsWith("#s\t"))
        java.nio.file.Files.write(m, kept.mkString("\n").getBytes("UTF-8"))
      }
    }
    assert(TableLog.snapshotSchema(spark, path).isEmpty)
    // union-schema read contract still holds via mergeSchema
    val got = TableLog.read(spark, path)
      .select("id", "extra").as[(Long, Option[Long])].collect().toSet
    assert(got == Set((1L, None), (2L, Some(9L))))
    // pruned read still aligns to the full snapshot schema even when
    // the kept files predate the evolution
    val pruned = TableLog.readWhere(spark, path, "id", 1L, 1L)
    assert(pruned.columns.toSeq == Seq("id", "v", "extra"))
    assert(pruned.select("id", "extra").as[(Long, Option[Long])]
      .collect().toSet == Set((1L, None)))
  }

  test("commit timestamps clamp monotonic under writer clock skew") {
    val path = freshPath()
    TableLog.commitAppend(spark, path, Seq((1L, "a")).toDF("id", "v"))
    // simulate a skewed-FAST previous writer: rewrite v1's manifest
    // #t line a full hour into the future (manifests are plain text;
    // this is what an external writer with a bad clock would leave)
    val future = System.currentTimeMillis() + 3600000L
    val m1 = java.nio.file.Paths.get(path, "_graft_log", "v00000001.manifest")
    val edited = Files.readAllLines(m1).asScala.map { l =>
      if (l.startsWith("#t\t")) "#t\t" + future else l
    }
    Files.write(m1, edited.asJava)
    // this writer's wall clock is now BEHIND the recorded history;
    // the clamp must still advance time with the version
    val c2 = TableLog.commitAppend(spark, path, Seq((2L, "b")).toDF("id", "v"))
    assert(c2.timestampMs.contains(future + 1L),
      "skewed commit clamps to prev ts + 1, not the rewound wall clock")
    // versionAsOf resolves by version order: a time between the two
    // recorded stamps picks v1, never skips it for v2
    assert(TableLog.versionAsOf(spark, path, future).contains(1))
    assert(TableLog.versionAsOf(spark, path, future + 1L).contains(2))
    assert(TableLog.versionAsOf(spark, path, future - 1L).isEmpty,
      "before v1's recorded stamp no snapshot is eligible")
    // and a third commit keeps strictly increasing
    val c3 = TableLog.commitAppend(spark, path, Seq((3L, "c")).toDF("id", "v"))
    assert(c3.timestampMs.get > c2.timestampMs.get)
  }

  test("optimize-write: a small commit lands as one file, not shuffle.partitions files") {
    // AQE already right-sizes SHUFFLE-derived frames; the small-file
    // source is map-only frames — a selective filter over a wide scan
    // keeps the scan's partitioning (here 16 near-empty partitions)
    // all the way to the sink, and no AQE stage ever intervenes
    val small = spark.range(0, 1000, 1, 16).filter(col("id") % 100 === 0)
      .select(col("id"), col("id").as("v"))
    def dataFiles(path: String, c: TableLog.Commit): Seq[java.io.File] =
      c.dirs.flatMap { d =>
        new java.io.File(path, d).listFiles().toSeq
          .filter(f => f.getName.endsWith(".parquet"))
      }
    val p1 = freshPath()
    val c1 = TableLog.commitAppend(spark, p1, small)
    assert(dataFiles(p1, c1).size == 1,
      "10-row map-only commit should write 1 file")
    assert(TableLog.read(spark, p1).count() == 10)
    // disabled via conf: the map-side partitioning writes through
    val p2 = freshPath()
    spark.conf.set("graft.write.smallBytes", "0")
    try {
      val c2 = TableLog.commitAppend(spark, p2, small)
      assert(dataFiles(p2, c2).size > 1,
        "with optimize-write disabled the map partitioning persists")
    } finally spark.conf.unset("graft.write.smallBytes")
    // a frame the estimator can't call small keeps its parallelism:
    // raw range partitions carry the full long-range size estimate
    // large-estimate branch exercised cheaply: lower the threshold so
    // a small 8-partition frame counts as "large" and writes through
    val p3 = freshPath()
    spark.conf.set("graft.write.smallBytes", "64")
    val c3 =
      try TableLog.commitAppend(spark, p3,
        spark.range(0, 1000, 1, 8).select(col("id"), col("id").as("v")))
      finally spark.conf.unset("graft.write.smallBytes")
    assert(dataFiles(p3, c3).size == 8,
      "a large-estimate frame is written with its own partitioning")
    // an explicit repartition is the caller's layout choice (z-order
    // files, pruning structure) — never collapsed, however small
    val p4 = freshPath()
    val c4 = TableLog.commitAppend(spark, p4,
      small.repartitionByRange(4, col("id")))
    assert(dataFiles(p4, c4).size > 1,
      "explicitly partitioned frames keep their file layout")
  }

  test("withRunId stamps commits; malformed external #i lines are skipped") {
    val path = freshPath()
    val c1 = TableLog.withRunId("run-42") {
      TableLog.commitAppend(spark, path, Seq((1L, "a")).toDF("id", "v"))
    }
    assert(c1.runId.contains("run-42"))
    val c2 = TableLog.commitAppend(spark, path, Seq((2L, "b")).toDF("id", "v"))
    assert(c2.runId.isEmpty, "commits outside a run scope record no id")
    val h = TableLog.history(spark, path)
    assert(h.map(_.runId) == Seq(Some("run-42"), None))
    // an external writer appends lineage lines by hand: one truncated,
    // one with a junk version, one explicitly unversioned, one valid —
    // history() must keep parsing
    val m2 = java.nio.file.Paths.get(path, "_graft_log", "v00000002.manifest")
    val lines = Files.readAllLines(m2).asScala.toSeq ++
      Seq("#i\tonly_table", "#i\tfeed\tnot_a_number", "#i\text\t-",
        "#i\tgood\t7")
    Files.write(m2, lines.asJava)
    val reread = TableLog.history(spark, path).last
    assert(reread.inputs.contains(TableLog.InputRef("good", Some(7))))
    assert(reread.inputs.contains(TableLog.InputRef("ext", None)),
      "explicit '-' is an intentionally unversioned edge")
    assert(!reread.inputs.exists(_.table == "feed"),
      "a garbled version skips the edge — degrading to unversioned " +
        "would widen upstream provenance to the current state")
    assert(!reread.inputs.exists(_.table == "only_table"),
      "truncated line is skipped")
    // the snapshot itself still reads
    assert(rows(TableLog.read(spark, path)) == Set((1L, "a"), (2L, "b")))
  }
}
