package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators._

/** Every operator whose running counts go through
  * [[graft.util.PrefixSum]] returns the same rows on the bucketed plan
  * as on the single ordered window. A 1 KB advisory partition size and
  * 8 shuffle partitions make spec-sized frequency tables split into
  * several buckets — except the tables bounded by design (hours,
  * rounded scores, grids, lifetimes in days, doc buckets), which must
  * stay on the one window whatever the size estimate says. */
class PrefixSumSitesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(43)
  // (event_id, user_id, ts, value): 600 events of 120 users over 40
  // days, values on a 0.25 grid so the frequency tables carry ties
  private lazy val events = (0L until 600L).map { i =>
    (i, rnd.nextInt(120).toLong,
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000 +
        rnd.nextInt(40 * 86400).toLong,
      math.rint(rnd.nextGaussian() * 40) / 4.0)
  }.toDF("event_id", "user_id", "__s", "value")
    .withColumn("ts", timestamp_seconds(col("__s"))).drop("__s")
  private lazy val scored = events.select(
    (round(col("value") / 10.0, 1) + (col("user_id") % 3) / 10.0).as("score"),
    (col("user_id") % 2 === 0).as("label"))
  private lazy val docs = (0L until 120L).map { i =>
    (i, Seq.fill(4 + rnd.nextInt(10))(s"w${rnd.nextInt(60)}").mkString(" "))
  }.toDF("doc_id", "text")
  private val inB = col("user_id") % 2 === 1

  private val sites: Seq[(String, () => DataFrame)] = Seq(
    "ksReport" -> (() => Drift.ksReport(events.where(!inB),
      events.where(inB), "value")),
    "ksReport on a grid" -> (() => Drift.ksReport(events.where(!inB),
      events.where(inB), "value", Some(2.0))),
    "wassersteinReport" -> (() => Drift.wassersteinReport(events.where(!inB),
      events.where(inB), "value", 2.0)),
    "kuiperUniformity" -> (() => Drift.kuiperUniformity(events)),
    "watsonU2" -> (() => Drift.watsonU2(events)),
    "lilliefors" -> (() => Normality.lilliefors(events, col("value"))),
    "adNormality" -> (() => Normality.adNormality(events, col("value"))),
    "aucSummary" -> (() => ClassifierEval.aucSummary(scored, "score", "label")),
    "rocCurve" -> (() => ClassifierEval.rocCurve(scored, "score", "label")),
    "averagePrecision" -> (() =>
      ClassifierEval.averagePrecision(scored, "score", "label")),
    "outlierGate" -> (() => Conformal.outlierGate(scored.where(col("label")),
      scored.where(!col("label")), "score", 0.1)),
    "qiniCurve" -> (() => Uplift.qiniCurve(events, col("value"), inB,
      (col("event_id") % 3 === 0).cast("long"))),
    "growthCurve" -> (() => Vocab.growthCurve(docs, bucketDocs = 4L)),
    "noveltyCurve" -> (() => Vocab.noveltyCurve(docs, k = 2, bucketDocs = 4L)),
    "logRank" -> (() => Survival.logRank(events, inB)),
    "gehanWilcoxon" -> (() => Survival.gehanWilcoxon(events, inB)))

  private val bounded = Set("ksReport on a grid", "wassersteinReport",
    "kuiperUniformity", "watsonU2", "aucSummary", "rocCurve",
    "averagePrecision", "outlierGate", "qiniCurve", "logRank",
    "gehanWilcoxon", "growthCurve", "noveltyCurve")

  private def bucketed(df: DataFrame): Boolean =
    df.queryExecution.analyzed.toString.contains("__pfx_bkt")

  private val forcedConf = Seq(
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k",
    "spark.sql.shuffle.partitions" -> "8")

  sites.foreach { case (name, site) =>
    val shape = if (bounded(name)) "a bounded table keeps its one window"
      else "the bucketed plan returns the single-window rows"
    test(s"$name: $shape") {
      val single = site()
      assert(!bucketed(single))
      val expected = single.collect().toSeq
      assert(expected.nonEmpty)
      val before = forcedConf.map { case (k, _) => k -> spark.conf.getOption(k) }
      forcedConf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val split = site()
        assert(bucketed(split) == !bounded(name))
        assert(split.collect().toSeq == expected)
      } finally before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }
}
