package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.lake.TableLog
import graft.quality.Expectations.{MinBound, NotNull, Suite}

/** A validated commit computes its plan ONCE: the data is written, the
  * suite and the table's constraints are checked together on the
  * written files, then the manifest is published. Checking the plan
  * and then writing it would scan the updates' source twice. */
class ValidatedCommitSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Root paths of every file relation `qe`'s plan scans. */
  private def scannedRoots(qe: QueryExecution): Seq[String] =
    qe.analyzed.collect { case l: LogicalRelation => l.relation }
      .collect { case h: HadoopFsRelation => h.location.rootPaths.map(_.toString) }
      .flatten

  /** The scanned roots of every SQL execution `body` runs. */
  private def executionScans(body: => Unit): Seq[Seq[String]] = {
    val seen = new ConcurrentLinkedQueue[Seq[String]]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = seen.add(scannedRoots(qe))
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = seen.add(scannedRoots(qe))
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener events are posted async; wait for the count to settle
      var last = -1
      var spins = 0
      while (seen.size != last && spins < 40) {
        last = seen.size; Thread.sleep(50); spins += 1
      }
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  test("commitMergeValidated scans the updates' source once and checks the written dir once") {
    val root = Files.createTempDirectory("graft_validated").toString
    val path = s"$root/t"
    val src = s"$root/updates"
    val suite = Suite("contract", None, Seq(NotNull("v"), MinBound("id", 0.0)))
    TableLog.commitMerge(spark, path,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"), suite = Some(suite))
    TableLog.addConstraint(spark, path, "id_below_100", "id < 100")
    Seq((2L, "B"), (3L, "c")).toDF("id", "v").write.parquet(src)
    val updates = spark.read.parquet(src)

    var commit: TableLog.Commit = null
    val scans = executionScans {
      commit = TableLog.commitMerge(spark, path, updates, Seq("id"),
        suite = Some(suite))
    }
    val newDir = s"$path/${commit.dirs.head}"
    val sourceScans = scans.count(_.exists(_.endsWith("/updates")))
    assert(sourceScans == 1,
      s"the merged plan must run once, but $sourceScans executions scanned its source")
    // suite AND constraint in one pass over the written files
    val checks = scans.count(_.exists(_.endsWith(commit.dirs.head)))
    assert(checks == 1, s"expected one check of $newDir, got $checks")
    assert(TableLog.read(spark, path).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "B"), (3L, "c")))
  }
}
