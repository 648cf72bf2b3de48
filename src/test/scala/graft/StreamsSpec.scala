package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import graft.streaming.Streams

/** Production-shape streaming contract: in `append` mode the watermark
  * finalizes windows/evicts dedup ids, so state store size stays bounded
  * by the lateness horizon instead of growing with stream length. Driven
  * as a genuine multi-micro-batch file stream (one file per trigger) so
  * the incremental state machine — not a single-batch shortcut — is what
  * gets asserted. */
class StreamsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Days = 30
  private val Types = Seq("view", "click", "buy", "share")
  private val PerDayPerType = 20
  private val Day0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  /** (event_id, ts, event_type, value); hour spread 0-19 within a day. */
  private def events(withDups: Boolean): Seq[(Long, Timestamp, String, Double)] =
    for {
      d <- 0 until Days
      (tp, ti) <- Types.zipWithIndex
      i <- 0 until PerDayPerType
      rep <- 0 until (if (withDups && i % 4 == 0) 2 else 1)
    } yield {
      val id = (d.toLong * 1000) + ti * 100 + i
      val ts = new Timestamp(Day0 + d * 86400000L + i * 3600000L + ti * 60000L)
      (id, ts, tp, (i + 1).toDouble)
    }

  /** Write chronological 3-day chunk files (one flat parquet file each,
    * ascending mod-times) so FileStreamSource replays them in order. */
  private def writeBacklog(rows: Seq[(Long, Timestamp, String, Double)]): Path = {
    val streamDir = Files.createTempDirectory("graft_streams_spec")
    val scratch = Files.createTempDirectory("graft_streams_scratch")
    rows.groupBy(r => (r._2.getTime - Day0) / (3 * 86400000L)).toSeq
      .sortBy(_._1).foreach { case (chunk, chunkRows) =>
        val tmp = s"$scratch/c$chunk"
        chunkRows.toDF("event_id", "ts", "event_type", "value")
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
          .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS")).head
        Files.copy(Paths.get(part), streamDir.resolve(f"$chunk%02d.parquet"))
        Thread.sleep(5) // distinct mod-times => deterministic replay order
      }
    streamDir
  }

  /** One file per micro-batch. */
  private def fileStream(dir: Path): DataFrame =
    spark.readStream
      .schema(spark.read.parquet(dir.toString).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)

  private val sinkCounter = new java.util.concurrent.atomic.AtomicLong(0)

  /** Run to completion in append mode; returns (sink rows, max state
    * rows observed across micro-batches). */
  private def runAppend(plan: DataFrame): (DataFrame, Long) = {
    val name = s"streams_spec_${sinkCounter.incrementAndGet()}"
    val q = plan.writeStream.outputMode("append").format("memory")
      .queryName(name).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val maxState = q.recentProgress
      .flatMap(_.stateOperators.map(_.numRowsTotal))
      .foldLeft(0L)(math.max)
    (spark.table(name), maxState)
  }

  test("append-mode daily agg emits exactly the finalized windows, bounded state") {
    val rows = events(withDups = false)
    val dir = writeBacklog(rows)
    val (got, maxState) = runAppend(
      Streams.dailyEventAgg(fileStream(dir), watermark = "1 day"))

    val batch = rows.toDF("event_id", "ts", "event_type", "value")
      .groupBy(to_date(col("ts")).as("dt"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
    val gotRows = got.collect().map(r =>
      (r.getDate(0).toString, r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batchRows = batch.collect().map(r =>
      (r.getDate(0).toString, r.getString(1), r.getLong(2), r.getDouble(3))).toSet

    // every emitted (finalized) window matches the batch aggregate exactly
    assert(gotRows.subsetOf(batchRows))
    // the still-open final day must NOT leak into append output
    val lastDay = f"2024-01-$Days%02d"
    assert(!gotRows.exists(_._1 == lastDay))
    // nearly everything older than the horizon IS emitted
    assert(gotRows.size >= (Days - 3) * Types.size)
    // THE state bound: never anywhere near the 30*4 windows complete mode
    // would retain — only the non-finalized tail (3-day chunk + 1-day
    // lateness) stays resident
    assert(maxState > 0 && maxState <= 8 * Types.size,
      s"state rows $maxState should stay within the lateness horizon")
  }

  test("append-mode dedup emits each event once, evicts ids behind the watermark") {
    val rows = events(withDups = true)
    val distinctIds = rows.map(_._1).distinct.size
    val dir = writeBacklog(rows)
    val (got, maxState) = runAppend(
      Streams.dedupedEvents(fileStream(dir), watermark = "1 day"))

    assert(got.count() == distinctIds)
    assert(got.select("event_id").distinct().count() == distinctIds)
    // state holds only ids within the horizon, not the whole history
    assert(maxState > 0 && maxState < distinctIds / 2,
      s"dedup state $maxState vs $distinctIds total ids — watermark not evicting?")
  }

  test("stream-static enrichment join matches the batch join, dim broadcast") {
    val rows = events(withDups = false)
    val dir = writeBacklog(rows)
    val dim = (0 until 100).map(i => (i.toLong, s"seg_${i % 3}"))
      .toDF("user_id", "segment")
    // the fixture has no user_id column; derive one from event_id
    val streamWithUser = fileStream(dir)
      .withColumn("user_id", col("event_id") % 100)
    val (got, _) = runAppend(
      Streams.enrichedDailyAgg(streamWithUser, dim, watermark = "1 day"))
    val batch = rows.toDF("event_id", "ts", "event_type", "value")
      .withColumn("user_id", col("event_id") % 100)
      .join(dim, "user_id")
      .groupBy(to_date(col("ts")).as("dt"), col("segment"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
    val gotRows = got.collect().map(r =>
      (r.getDate(0).toString, r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batchRows = batch.collect().map(r =>
      (r.getDate(0).toString, r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(gotRows.nonEmpty && gotRows.subsetOf(batchRows))
  }

  test("stream-stream interval join matches batch, state bounded by horizon") {
    val rows = events(withDups = false)
    val dir = writeBacklog(rows)
    val stream = fileStream(dir)
      .withColumn("user_id", col("event_id") % 40)
    val (got, maxState) = runAppend(
      Streams.clickAttribution(stream, horizon = "2 hours",
        clickType = "view", purchaseType = "buy"))
    val batch = rows.toDF("event_id", "ts", "event_type", "value")
      .withColumn("user_id", col("event_id") % 40)
    val c = batch.filter(col("event_type") === "view")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("cts"))
    val p = batch.filter(col("event_type") === "buy")
      .select(col("event_id").as("purchase_id"), col("user_id").as("pu"), col("ts").as("pts"))
    val expected = c.join(p,
      col("user_id") === col("pu") && col("pts") >= col("cts") &&
        col("pts") <= col("cts") + expr("INTERVAL 2 HOURS"))
      .select("click_id", "purchase_id", "user_id")
      .as[(Long, Long, Long)].collect().toSet
    val gotSet = got.as[(Long, Long, Long)].collect().toSet
    assert(expected.nonEmpty && gotSet == expected)
    // join state holds only rows within the horizon of the watermark,
    // not the whole 30-day backlog
    val totalSides = rows.count(r => r._3 == "view" || r._3 == "buy")
    assert(maxState > 0 && maxState < totalSides / 2,
      s"join state $maxState vs $totalSides side rows — watermark not evicting?")
  }

  test("foreachBatch merge sink is effectively-once across batches and replays") {
    val rows = events(withDups = true)   // dup ids WITHIN the stream
    val dir = writeBacklog(rows)
    val target = Files.createTempDirectory("graft_merge_sink").resolve("t").toString
    def run(): Unit = Streams.mergeEventsToLake(
      spark, dir.toString, target,
      Files.createTempDirectory("graft_merge_ckpt").toString,
      glob = "*.parquet", maxFilesPerTrigger = Some(1))

    run()
    val afterFirst = spark.read.parquet(target)
    val distinctIds = rows.map(_._1).distinct.size
    assert(afterFirst.count() == distinctIds,
      "re-delivered ids must collapse via the merge keys")
    // full replay with a FRESH checkpoint into the same target: the
    // at-least-once worst case. The merge keys make it a no-op.
    run()
    val afterReplay = spark.read.parquet(target)
    assert(afterReplay.count() == distinctIds)
    assert(afterReplay.select("event_id").distinct().count() == distinctIds)
  }

  test("a non-numeric graft.stream.statePartitions fails naming the key") {
    spark.conf.set("graft.stream.statePartitions", "four")
    try {
      val e = intercept[IllegalArgumentException] {
        Streams.runToTable(spark, "append")(_ => fail("stream session built"))
      }
      assert(e.getMessage.contains("graft.stream.statePartitions") &&
        e.getMessage.contains("'four'"), e.getMessage)
    } finally spark.conf.unset("graft.stream.statePartitions")
  }
}
