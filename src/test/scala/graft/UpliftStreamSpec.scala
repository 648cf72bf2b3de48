package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{CorpusFilters, Uplift}
import graft.streaming.{CorpusHealth, StreamJoin}
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Qini semantics on planted persuadables, stream ≡ batch for the
  * encoding-health monitor, and exact pair semantics for the
  * stream-stream interval join. */
class UpliftStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("qini: a score that finds persuadables beats its own tail") {
    // units 0-19: high score; treated half converts, control never
    // (pure persuadables). units 20-59: low score; nobody converts.
    val rows = (0 until 60).map { i =>
      val hi = i < 20
      val treated = i % 2 == 1
      (i.toLong, if (hi) 5.0 else 1.0, treated,
        if (hi && treated) 1L else 0L)
    }
    val df = rows.toDF("id", "score", "treated", "converted")
    val r = Uplift.qiniCurve(df, col("score"), col("treated"),
      col("converted")).collect()
    assert(r.length == 2)
    val top = r(0)   // score_ge = 5.0
    assert(top.getLong(1) == 10L && top.getLong(2) == 10L)
    assert(top.getDouble(5) == 1.0, "uplift 1.0 among the targeted")
    assert(top.getDouble(6) == 10.0, "10 incremental conversions")
    val all = r(1)   // whole population
    assert(all.getDouble(6) == 10.0,
      "tail adds no incremental conversions")
    assert(all.getDouble(5) < top.getDouble(5),
      "rate dilutes as the tail is included")
  }

  private def writeOne(root: java.nio.file.Path, name: String,
      df: org.apache.spark.sql.DataFrame): Unit = {
    val tmp = root.resolve(name + ".tmp")
    df.coalesce(1).write.parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, root.resolve("src").resolve(name))
  }

  test("corpus health: multi-batch dashboard equals the batch audit") {
    val root = Files.createTempDirectory("graft_enchealth")
    Files.createDirectories(root.resolve("src"))
    // source "s" is SPLIT across files; both carry mojibake
    val f1 = Seq((1L, "clean text.", "en", "s", 11L),
      (2L, "bad � here", "en", "s", 10L),
      (3L, "héllo", "fr", "t", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val f2 = Seq((4L, "ctrlbyte", "en", "s", 9L),
      (5L, "wörld", "fr", "t", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    writeOne(root, "f1.parquet", f1)
    writeOne(root, "f2.parquet", f2)
    val health = root.resolve("health").toString
    CorpusHealth.monitor(spark, root.resolve("src").toString,
      "*.parquet", health, root.resolve("ckpt").toString,
      maxFilesPerTrigger = Some(1))
    val streamed = CorpusHealth.dashboard(spark, health)
      .collect().map(_.toSeq).toSeq
    val batch = CorpusFilters.encodingAudit(f1.union(f2))
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch,
      "batch boundaries must not move the audit")
    assert(streamed.exists(r => r.head == "s" &&
      r(2) == 1L && r(3) == 1L), "planted mojibake counted")
  }

  test("stream-stream join: only in-window same-user pairs emit") {
    val root = Files.createTempDirectory("graft_ssj")
    Files.createDirectories(root.resolve("src"))
    def ts(m: Int) =
      java.sql.Timestamp.valueOf(f"2024-06-01 10:$m%02d:00")
    val ev = Seq(
      (1L, ts(0), 7L, "view", 0.0, "{}"),       // matched by 2 buys
      (2L, ts(10), 7L, "purchase", 5.0, "{}"),  // in window
      (3L, ts(29), 7L, "purchase", 6.0, "{}"),  // in window (29 min)
      (4L, ts(40), 7L, "purchase", 7.0, "{}"),  // OUT (40 min)
      (5L, ts(5), 8L, "purchase", 9.0, "{}"),   // other user, no view
      (6L, ts(20), 9L, "view", 0.0, "{}"))      // view, no purchase
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    writeOne(root, "f1.parquet", ev)
    val pairs = StreamJoin.viewPurchasePairs(spark,
      root.resolve("src").toString, "*.parquet",
      windowMinutes = 30)
      .collect()
    assert(pairs.map(r => (r.getLong(1), r.getLong(2))).toSet ==
      Set((1L, 2L), (1L, 3L)), "exactly the in-window pairs")
    val lag = pairs.map(r => r.getLong(2) -> r.getLong(5)).toMap
    assert(lag(2L) == 600L && lag(3L) == 1740L)
  }
}
