package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

import org.apache.spark.sql.functions.col

import graft.lake.TableLog

/** Concurrent-writer STRESS net for the table log, beyond
  * TableLogSpec's two happy-path races: overlapping-key merge storms,
  * a mixed append/merge/delete storm replayed commit-for-commit
  * against every historical snapshot, and readers racing the storm
  * that must never observe a torn batch. The commit protocol under
  * test is the manifest hard-link publish (create-if-absent) with
  * losers recomputing on the winner's snapshot. */
class TableLogStressSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshPath() =
    Files.createTempDirectory("graft_tlstress").resolve("t").toString

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.as[(Long, String)].collect().toSet

  /** The local directory behind a table path, plain or mock-S3. */
  private def localDir(path: String): String =
    new org.apache.hadoop.fs.Path(path).toUri.getPath

  private def orphanCheck(path: String): Unit = {
    val dataDirs = new java.io.File(s"${localDir(path)}/data")
      .listFiles().map(_.getName).toSet
    val referenced = TableLog.history(spark, path)
      .flatMap(_.dirs).map(_.stripPrefix("data/")).toSet
    assert(dataDirs == referenced,
      s"orphaned dirs: ${dataDirs.diff(referenced)}")
  }

  test("overlapping-key merge storm: dense versions, the final state is " +
    "the max-version writer's value, no orphans") {
    val path = freshPath()
    TableLog.commitMerge(spark, path,
      Seq((1L, "base")).toDF("id", "v"), Seq("id"))
    val writers = 8
    // every writer upserts the SAME key — maximum contention; each
    // loser must recompute on the winner's snapshot, so the final
    // value must be exactly the value of the highest-version commit
    val got = Await.result(
      Future.sequence((1 to writers).map { i =>
        Future {
          val c = TableLog.commitMerge(spark, path,
            Seq((1L, s"w$i")).toDF("id", "v"), Seq("id"))
          (c.version, s"w$i")
        }
      }), 300.seconds)
    assert(got.map(_._1).sorted == (2 to writers + 1),
      s"versions not dense: ${got.map(_._1).sorted}")
    val lastWriter = got.maxBy(_._1)._2
    assert(rows(TableLog.read(spark, path)) == Set((1L, lastWriter)),
      s"final state is not the max-version writer's value ($lastWriter)")
    orphanCheck(path)
  }

  test("mixed append/merge/delete storm: every historical snapshot equals " +
    "a commit-for-commit replay in version order") {
    val path = freshPath()
    val seed = (1000L to 1009L).map(i => (i, "seed"))
    TableLog.commitAppend(spark, path, seed.toDF("id", "v"))

    sealed trait Op
    case class Add(rows: Set[(Long, String)]) extends Op
    case class Upsert(rows: Set[(Long, String)]) extends Op
    case class Del(lo: Long, hi: Long) extends Op

    // 4 appends + 4 merges on disjoint fresh keys, 2 deletes on seed
    // sub-ranges — all racing
    val work: Seq[(Int, () => (Int, Op))] =
      (1 to 4).map { i => (i, () => {
        val rs = (i * 100L to i * 100L + 2).map(k => (k, s"a$i")).toSet
        val c = TableLog.commitAppend(spark, path, rs.toSeq.toDF("id", "v"))
        (c.version, Add(rs): Op)
      })} ++
      (1 to 4).map { i => (10 + i, () => {
        val rs = (i * 1000L + 10000L to i * 1000L + 10002L)
          .map(k => (k, s"m$i")).toSet
        val c = TableLog.commitMerge(spark, path,
          rs.toSeq.toDF("id", "v"), Seq("id"))
        (c.version, Upsert(rs): Op)
      })} ++
      Seq((20, () => {
        val c = TableLog.commitDelete(spark, path, "id", 1000L, 1001L)
        (c.version, Del(1000L, 1001L): Op)
      }), (21, () => {
        val c = TableLog.commitDelete(spark, path, "id", 1004L, 1005L)
        (c.version, Del(1004L, 1005L): Op)
      }))

    val committed = Await.result(
      Future.sequence(work.map { case (_, f) => Future(f()) }),
      300.seconds)
    val byVersion = committed.toMap
    assert(byVersion.keySet == (2 to work.size + 1).toSet,
      s"versions not dense: ${byVersion.keySet.toSeq.sorted}")

    // replay every commit in version order; each historical snapshot
    // must equal the replayed state EXACTLY — a commit that partially
    // applied, double-applied, or was built on a stale snapshot
    // diverges somewhere in this walk
    var state: Set[(Long, String)] = seed.toSet
    (2 to work.size + 1).foreach { v =>
      state = byVersion(v) match {
        case Add(rs) => state ++ rs
        case Upsert(rs) =>
          val keys = rs.map(_._1)
          state.filterNot(r => keys.contains(r._1)) ++ rs
        case Del(lo, hi) => state.filterNot(r => r._1 >= lo && r._1 <= hi)
      }
      assert(rows(TableLog.read(spark, path, Some(v))) == state,
        s"snapshot v$v diverges from the serial replay")
    }
    orphanCheck(path)
  }

  test("readers racing the storm never observe a torn batch") {
    val path = freshPath()
    TableLog.commitAppend(spark, path, Seq((0L, "b0")).toDF("id", "v"))
    val batches = 6
    val rowsPerBatch = 5
    val writers = Future.sequence((1 to batches).map { i =>
      Future(TableLog.commitAppend(spark, path,
        (1 to rowsPerBatch).map(j => (i * 100L + j, s"b$i"))
          .toDF("id", "v")))
    })
    // hammer reads while the writers land: every observed snapshot
    // must contain each batch either COMPLETELY or not at all —
    // a torn read means the manifest pointed at half-written data
    var reads = 0
    while (!writers.isCompleted) {
      val snap = rows(TableLog.read(spark, path))
      val byBatch = snap.groupBy(_._2).view.mapValues(_.size).toMap
      (1 to batches).foreach { i =>
        val n = byBatch.getOrElse(s"b$i", 0)
        assert(n == 0 || n == rowsPerBatch,
          s"torn batch b$i: saw $n of $rowsPerBatch rows")
      }
      reads += 1
    }
    Await.result(writers, 300.seconds)
    assert(reads > 0, "reader never ran while writers were active")
    val finalSnap = rows(TableLog.read(spark, path))
    assert(finalSnap.size == 1 + batches * rowsPerBatch)
    orphanCheck(path)
  }

  test("crash mid-commit: a writer killed after data + tmp-manifest " +
    "write but before the atomic publish is invisible forever") {
    val path = freshPath()
    TableLog.commitAppend(spark, path, Seq((1L, "v1")).toDF("id", "v"))
    TableLog.commitAppend(spark, path, Seq((2L, "v2")).toDF("id", "v"))
    val before = rows(TableLog.read(spark, path))
    assert(before == Set((1L, "v1"), (2L, "v2")))

    // manufacture EXACTLY what a crashed writer leaves behind when it
    // dies between writing the manifest to its temp name and the
    // atomic hard-link publish: (a) a fully-written data dir, (b) a
    // complete manifest under a `.tmp-` name that references it —
    // same byte layout writeManifest produces (action line, data-dir
    // lines, #t timestamp)
    val crashDir = "data/c00000003-deadbeef"
    Seq((3L, "crashed")).toDF("id", "v")
      .write.parquet(s"$path/$crashDir")
    val logDir = java.nio.file.Paths.get(path, "_graft_log")
    val tmpManifest = logDir.resolve(".tmp-cafef00d")
    java.nio.file.Files.write(tmpManifest,
      (Seq("append", crashDir, "data/c00000002-00000000",
        "data/c00000001-00000000") ++
        Seq("#t\t" + System.currentTimeMillis()))
        .mkString("\n").getBytes("UTF-8"))

    // the reader must see the OLD snapshot: version list, rows, and
    // history all unchanged — the unpublished manifest does not exist
    // as far as the log protocol is concerned
    assert(TableLog.latestVersion(spark, path).contains(2))
    assert(rows(TableLog.read(spark, path)) == before)
    assert(TableLog.history(spark, path).map(_.version) == Seq(1, 2))
    assert(!rows(TableLog.read(spark, path)).exists(_._2 == "crashed"))

    // recovery: the next LIVE writer takes version 3 normally (the
    // orphan tmp neither blocks nor collides), and the crashed
    // writer's rows stay invisible in the new snapshot and all
    // historical ones
    val c3 = TableLog.commitAppend(spark, path,
      Seq((4L, "v3")).toDF("id", "v"))
    assert(c3.version == 3)
    assert(rows(TableLog.read(spark, path)) ==
      Set((1L, "v1"), (2L, "v2"), (4L, "v3")))
    (1 to 3).foreach { v =>
      assert(!rows(TableLog.read(spark, path, Some(v)))
        .exists(_._2 == "crashed"), s"crashed rows leaked into v$v")
    }
    // the leftovers are still on disk (vacuum's job, not read's) —
    // pin that so this test is honestly exercising the dirty state
    assert(java.nio.file.Files.exists(tmpManifest))
    assert(new java.io.File(s"$path/$crashDir").exists())
  }

  test("crash mid-commit, hard-link variant: a PUBLISHED manifest whose " +
    "writer died before returning is a complete, readable commit") {
    // the other side of the crash window: the hard link landed (the
    // commit IS durable) but the writer process died before acking —
    // a reader must see the new version as a normal commit, because
    // the publish is the linearization point
    val path = freshPath()
    TableLog.commitAppend(spark, path, Seq((1L, "v1")).toDF("id", "v"))
    val crashDir = "data/c00000002-feedface"
    Seq((2L, "acked-late")).toDF("id", "v")
      .write.parquet(s"$path/$crashDir")
    val prevDir = TableLog.history(spark, path).last.dirs.head
    val logDir = java.nio.file.Paths.get(path, "_graft_log")
    val tmp = logDir.resolve(".tmp-0badc0de")
    java.nio.file.Files.write(tmp,
      (Seq("append", crashDir, prevDir) ++
        Seq("#t\t" + System.currentTimeMillis()))
        .mkString("\n").getBytes("UTF-8"))
    // the atomic publish, exactly as writeManifest does it on file:
    java.nio.file.Files.createLink(
      logDir.resolve("v00000002.manifest"), tmp)

    assert(TableLog.latestVersion(spark, path).contains(2))
    assert(rows(TableLog.read(spark, path)) ==
      Set((1L, "v1"), (2L, "acked-late")))
    // and the NEXT writer sees it and builds on top, not over it
    val c3 = TableLog.commitAppend(spark, path,
      Seq((3L, "v3")).toDF("id", "v"))
    assert(c3.version == 3)
    assert(rows(TableLog.read(spark, path)) ==
      Set((1L, "v1"), (2L, "acked-late"), (3L, "v3")))
  }

  test("s3 semantics contract: on a store whose rename is an overwriting " +
    "copy, the conditional-put publish picks one winner and the loser " +
    "retries cleanly on the next version") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3a.impl", "graft.MockS3FileSystem")
    val localBase =
      Files.createTempDirectory("graft_mocks3").resolve("t").toString
    val path = s"s3a://mockbucket$localBase"

    // pin the hazard being modeled: rename on this store really is a
    // non-atomic overwriting copy, so an exists-then-rename publish
    // would silently destroy a concurrent winner
    val f = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(conf)
    assert(f.isInstanceOf[MockS3FileSystem])
    val hazardA = new org.apache.hadoop.fs.Path(path, "hazard_a")
    val hazardB = new org.apache.hadoop.fs.Path(path, "hazard_b")
    for ((p, s) <- Seq((hazardA, "a"), (hazardB, "b"))) {
      val o = f.create(p, true); o.write(s.getBytes); o.close()
    }
    assert(f.rename(hazardA, hazardB), "overwriting-copy rename")
    val got = new String(org.apache.hadoop.io.IOUtils
      .readFullyToByteArray(f.open(hazardB)))
    assert(got == "a", "rename silently overwrote the destination")

    TableLog.commitAppend(spark, path,
      Seq((1L, "v1")).toDF("id", "v"))

    // inject a concurrent committer INSIDE writer A's conditional-put
    // window (between its create of v2's manifest and its close): B
    // commits v2 first, so A's If-None-Match check must fail at close
    @volatile var fired = false
    MockS3FileSystem.conditionalPutHook = _ =>
      if (!fired) {
        fired = true
        TableLog.commitAppend(spark, path,
          Seq((2L, "winner")).toDF("id", "v"))
      }
    val cA =
      try TableLog.commitAppend(spark, path,
        Seq((3L, "loser-retried")).toDF("id", "v"))
      finally MockS3FileSystem.conditionalPutHook = _ => ()
    assert(fired, "hook must have injected the concurrent committer")
    // A lost version 2 to the injected winner and retried on v3
    assert(cA.version == 3)

    // the winner's snapshot is intact and the loser's abort leaked
    // nothing into it
    assert(rows(TableLog.read(spark, path, Some(2))) ==
      Set((1L, "v1"), (2L, "winner")))
    // the retried commit landed on top of the winner's snapshot
    assert(rows(TableLog.read(spark, path)) ==
      Set((1L, "v1"), (2L, "winner"), (3L, "loser-retried")))
    assert(TableLog.history(spark, path).map(_.version) == Seq(1, 2, 3))

    // loser left no tmp manifests and no orphaned data dirs
    val logFiles = new java.io.File(s"$localBase/_graft_log")
      .listFiles().map(_.getName).toSet
    assert(logFiles == Set("v00000001.manifest", "v00000002.manifest",
      "v00000003.manifest"), s"stray log files: $logFiles")
    val dataDirs = new java.io.File(s"$localBase/data")
      .listFiles().map(_.getName).toSet
    val referenced = TableLog.history(spark, path)
      .flatMap(_.dirs).map(_.stripPrefix("data/")).toSet
    assert(dataDirs == referenced,
      s"orphaned dirs: ${dataDirs.diff(referenced)}")
  }

  /** A fresh table path on the mock-S3 store, whose manifest publish is
    * the conditional put [[MockS3FileSystem.conditionalPutHook]] can
    * race. */
  private def mockS3Table(): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.s3a.impl", "graft.MockS3FileSystem")
    "s3a://mockbucket" +
      Files.createTempDirectory("graft_mocks3").resolve("t").toString
  }

  /** Runs `loser` with `winner` committed inside its first manifest
    * put, so the loser's first publish loses the race. */
  private def losingTo[T](winner: => Unit)(loser: => T): T = {
    @volatile var fired = false
    MockS3FileSystem.conditionalPutHook = _ =>
      if (!fired) { fired = true; winner }
    val result =
      try loser finally MockS3FileSystem.conditionalPutHook = _ => ()
    assert(fired, "hook must have injected the concurrent committer")
    result
  }

  /** After a lost race: exactly one manifest per version, nothing else
    * in the log, and no data dir that no manifest references. */
  private def cleanAfterRace(path: String): Unit = {
    val logFiles = new java.io.File(s"${localDir(path)}/_graft_log")
      .listFiles().map(_.getName).toSet
    assert(logFiles == TableLog.history(spark, path)
      .map(c => f"v${c.version}%08d.manifest").toSet,
      s"stray log files: $logFiles")
    orphanCheck(path)
  }

  test("lost race: a delete that loses to an append of an in-range row " +
    "deletes that row too, at winner+1") {
    val path = mockS3Table()
    TableLog.commitAppend(spark, path,
      (1L to 5L).map(i => (i, s"r$i")).toDF("id", "v"))
    val c = losingTo(TableLog.commitAppend(spark, path,
        Seq((2L, "late")).toDF("id", "v"))) {
      TableLog.commitDelete(spark, path, "id", 2L, 3L)
    }
    assert(c.version == 3 && c.action == "delete")
    assert(rows(TableLog.read(spark, path, Some(2))).contains((2L, "late")))
    assert(rows(TableLog.read(spark, path)) ==
      Set((1L, "r1"), (4L, "r4"), (5L, "r5")))
    cleanAfterRace(path)
  }

  test("lost race: addConstraint that loses to an append of a violating " +
    "row refuses and leaves the table at the winner's version") {
    val path = mockS3Table()
    TableLog.commitAppend(spark, path,
      (1L to 3L).map(i => (i, s"r$i")).toDF("id", "v"))
    intercept[TableLog.ConstraintViolationException] {
      losingTo(TableLog.commitAppend(spark, path,
          Seq((500L, "big")).toDF("id", "v"))) {
        TableLog.addConstraint(spark, path, "id_small", "id < 100")
      }
    }
    assert(TableLog.latestVersion(spark, path).contains(2))
    assert(TableLog.constraints(spark, path).isEmpty)
    assert(rows(TableLog.read(spark, path)).contains((500L, "big")))
    cleanAfterRace(path)
  }

  test("lost race: dropConstraint that loses to addConstraint of a second " +
    "constraint keeps the second one, at winner+1") {
    val path = mockS3Table()
    TableLog.commitAppend(spark, path, Seq((1L, "a")).toDF("id", "v"))
    TableLog.addConstraint(spark, path, "id_positive", "id > 0")
    val c = losingTo(TableLog.addNotNull(spark, path, "v")) {
      TableLog.dropConstraint(spark, path, "id_positive")
    }
    assert(c.version == 4)
    assert(TableLog.constraints(spark, path, Some(3)).map(_.name) ==
      Seq("id_positive", "v_not_null"))
    assert(TableLog.constraints(spark, path) ==
      Seq(TableLog.Constraint("v_not_null", "v IS NOT NULL")))
    assert(TableLog.history(spark, path).last.dirs ==
      TableLog.history(spark, path)(2).dirs)
    cleanAfterRace(path)
  }

  test("lost race: a rollback that loses to an append publishes the " +
    "target's dirs, schema and constraints at winner+1") {
    val path = mockS3Table()
    TableLog.commitAppend(spark, path, Seq((1L, "a")).toDF("id", "v"))
    TableLog.addConstraint(spark, path, "id_positive", "id > 0")
    TableLog.commitAppend(spark, path,
      Seq((2L, "b", 2.0)).toDF("id", "v", "w"))
    TableLog.dropConstraint(spark, path, "id_positive")
    val target = TableLog.history(spark, path)(1)
    val c = losingTo(TableLog.commitAppend(spark, path,
        Seq((3L, "c")).toDF("id", "v"))) {
      TableLog.rollback(spark, path, 2)
    }
    assert(c.version == 6 && c.action == "rollback")
    val last = TableLog.history(spark, path).last
    assert(last.version == 6)
    assert(last.dirs == target.dirs)
    assert(last.schemaJson == target.schemaJson)
    assert(last.constraints == target.constraints &&
      target.constraints.map(_.name) == Seq("id_positive"))
    assert(TableLog.read(spark, path).columns.toSeq == Seq("id", "v"))
    assert(rows(TableLog.read(spark, path)) == Set((1L, "a")))
    cleanAfterRace(path)
  }

  test("lost race: an optimize that loses to an append re-clusters the " +
    "winner's snapshot, at winner+1") {
    val path = mockS3Table()
    val base = (0 until 200).map(i => (i.toLong, (i * 7 % 50).toLong))
    TableLog.commitAppend(spark, path, base.toDF("a", "b").repartition(4))
    val c = losingTo(TableLog.commitAppend(spark, path,
        Seq((1000L, 1000L)).toDF("a", "b"))) {
      TableLog.commitOptimize(spark, path, ("a", "b"), numFiles = 2)
    }
    assert(c.version == 3 && c.action == "optimize")
    assert(TableLog.read(spark, path).as[(Long, Long)].collect().toSet ==
      (base :+ ((1000L, 1000L))).toSet)
    cleanAfterRace(path)
  }

  test("lost race: a tagged commit that loses to a winner carrying the " +
    "same tag returns None and the tag's rows land once") {
    val path = mockS3Table()
    TableLog.commitAppend(spark, path, Seq((1L, "base")).toDF("id", "v"))
    val got = losingTo(TableLog.commitTagged(spark, path, "batch-7")(_ =>
        Seq((7L, "winner")).toDF("id", "v"))) {
      TableLog.commitTagged(spark, path, "batch-7")(_ =>
        Seq((7L, "zombie")).toDF("id", "v"))
    }
    assert(got.isEmpty, "the loser must not publish a second batch-7")
    assert(TableLog.history(spark, path).count(_.action == "batch-7") == 1)
    assert(rows(TableLog.read(spark, path)) ==
      Set((1L, "base"), (7L, "winner")))
    cleanAfterRace(path)
  }

  test("lost race: a tagged append that loses to an untagged append is " +
    "rebuilt on the winner and counts only its own rows") {
    val path = mockS3Table()
    TableLog.commitAppend(spark, path, Seq((1L, "base")).toDF("id", "v"))
    val seen = scala.collection.mutable.Buffer.empty[Option[Int]]
    val got = losingTo(TableLog.commitAppend(spark, path,
        (10L to 14L).map(i => (i, "winner")).toDF("id", "v"))) {
      TableLog.commitTagged(spark, path, "batch-3") { prev =>
        seen += prev.map(_.version)
        Seq((3L, "own"), (4L, "own")).toDF("id", "v")
      }
    }
    assert(seen == Seq(Some(1), Some(2)),
      s"the retry must build on the winner's snapshot: $seen")
    val (c, n) = got.get
    assert(c.version == 3 && c.action == "batch-3")
    assert(n == 2L, s"expected this commit's 2 rows, got $n")
    assert(rows(TableLog.read(spark, path)).size == 8)
    cleanAfterRace(path)

    // the same through a sink: its count excludes the winner's rows
    val matrix = mockS3Table()
    val events = Seq((1L, "view"), (1L, "click"), (2L, "view"))
      .toDF("user_id", "event_type")
    val appended = losingTo(TableLog.commitAppend(spark, matrix,
        Seq((9L, "view", 5L)).toDF("u", "i", "c"))) {
      graft.streaming.EngagementMatrix.ingestOnce(spark, events, matrix, 0L)
    }
    assert(appended == 3L, s"expected the batch's 3 cells, got $appended")
    cleanAfterRace(matrix)
  }

  test("lost race: an SCD2 batch whose first attempt loses keeps the " +
    "winner's rows, merging onto its dimension") {
    import graft.operators.Scd
    import graft.streaming.ScdStream
    val path = mockS3Table()
    def feed(rs: (Long, String, Long, Int)*) =
      rs.toDF("user_id", "ts_s", "event_id", "attr_in")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val b0 = feed((1L, "2024-01-01 00:00:00", 0L, 10),
      (2L, "2024-01-02 00:00:00", 1L, 5))
    val b1 = feed((1L, "2024-01-03 00:00:00", 2L, 20),
      (3L, "2024-01-03 00:00:00", 3L, 7))
    val b2 = feed((1L, "2024-01-05 00:00:00", 4L, 30),
      (2L, "2024-01-05 00:00:00", 5L, 6))
    ScdStream.applyBatchOnce(spark, b0, 0L, path, "user_id", col("attr_in"))
    val v = losingTo(ScdStream.applyBatchOnce(spark, b1, 1L, path,
        "user_id", col("attr_in"))) {
      ScdStream.applyBatchOnce(spark, b2, 2L, path, "user_id", col("attr_in"))
    }
    assert(v == 3)
    def dim(df: org.apache.spark.sql.DataFrame) = df
      .select("user_id", "attr", "valid_from", "valid_to", "is_current")
      .orderBy("user_id", "valid_from").collect().toSeq
    assert(dim(TableLog.read(spark, path)) == dim(Scd.scd2Build(
      b0.unionByName(b1).unionByName(b2), "user_id", col("attr_in"))),
      "the retried merge must keep batch 1's rows (user 3, user 1's " +
        "2024-01-03 version)")
    cleanAfterRace(path)
  }
}
