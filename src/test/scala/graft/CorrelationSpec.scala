package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.quality.Correlation
import graft.operators.Anova

/** Hand-computed correlation-matrix and ANOVA class-separation
  * cases. */
class CorrelationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("correlation: monotone-but-curved link splits pearson from spearman") {
    // y = x³ over x = 1..6: strictly monotone → spearman exactly 1,
    // pearson < 1 (convexity)
    val df = (1 to 6).map(i => (i.toDouble, math.pow(i, 3)))
      .toDF("x", "y")
    val r = Correlation.correlationMatrix(df, Seq("x", "y"))
      .select("pearson", "spearman").as[(Double, Double)].collect().head
    assert(r._2 == 1.0, s"monotone series must rank-correlate 1: $r")
    assert(r._1 < 1.0 && r._1 > 0.9, s"convex link keeps pearson < 1: $r")
    // anti-monotone → spearman exactly −1
    val neg = (1 to 6).map(i => (i.toDouble, -math.pow(i, 3)))
      .toDF("x", "y")
    val rn = Correlation.correlationMatrix(neg, Seq("x", "y"))
      .select("spearman").as[Double].collect().head
    assert(rn == -1.0)
  }

  test("correlation: ties take average ranks (the Spearman convention)") {
    // x = (1,2,2,3), y = (1,3,2,4): avg-rank x = (1, 2.5, 2.5, 4).
    // With min-rank (rank()) instead, ρ would differ — this pins the
    // tie convention against hand math
    val df = Seq((1.0, 1.0), (2.0, 3.0), (2.0, 2.0), (3.0, 4.0))
      .toDF("x", "y")
    val r = Correlation.correlationMatrix(df, Seq("x", "y"))
      .select("spearman").as[Double].collect().head
    // ranks x: 1, 2.5, 2.5, 4; ranks y: 1, 3, 2, 4 →
    // ρ = 4.5/√(4.5·5) = 0.948683
    assert(r == 0.948683, s"avg-rank spearman expected 0.948683, got $r")
  }

  test("correlation: bucketed ranks are identical at 1 and 4 shuffle partitions and cache nothing") {
    // tied values + a null + anti-monotone pair: every rank edge case.
    // A 1-byte advisory partition size asks PrefixSum for one bucket
    // per shuffle partition, so 4 partitions rank through 4 quantile
    // buckets and 1 partition through the single window; the ranks are
    // exact integers + n/2, so equality is bitwise.
    val df = Seq[(java.lang.Double, java.lang.Double)](
      (1.0, 8.0), (2.0, 7.0), (2.0, 7.0), (3.0, 5.0), (3.0, null),
      (4.0, 2.0), (5.0, 2.0), (5.0, 1.0), (6.0, 0.5))
      .toDF("x", "y")
    val single = Correlation.correlationMatrix(df, Seq("x", "y")).collect()
    val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    spark.conf.set(advisory, "1")
    try Seq(1, 4).foreach { parts =>
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      spark.catalog.clearCache()
      val got = Correlation.correlationMatrix(df, Seq("x", "y")).collect()
      assert(got.toSeq == single.toSeq, s"$parts partitions: $single vs $got")
      assert(spark.sharedState.cacheManager.isEmpty)
    } finally {
      spark.conf.unset(advisory)
      spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
  }

  test("anova: separated classes score huge F; shuffled labels score ~0") {
    // dim 1 separates the classes cleanly; dim 2 is label-blind
    val emb = Seq(
      (1L, Array(10.0f, 5.0f), 0), (2L, Array(10.2f, 7.0f), 0),
      (3L, Array(9.8f, 6.0f), 0),
      (4L, Array(-10.0f, 5.1f), 1), (5L, Array(-10.2f, 6.9f), 1),
      (6L, Array(-9.8f, 6.1f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Anova.classSeparation(emb)
      .select("dim", "n", "k", "f_stat", "eta_sq").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    assert(got(1L)._1 == 6L && got(1L)._2 == 2L)
    assert(got(1L)._3 > 1000.0, s"clean split → huge F: ${got(1L)}")
    assert(got(1L)._4 > 0.99, "eta² ≈ 1 when the label explains the dim")
    assert(got(2L)._3 < 1.0, s"label-blind dim → F below 1: ${got(2L)}")
  }

  test("anova: hand-computed F and eta² on a 2x2 case") {
    // groups {0: (0, 2)}, {1: (4, 6)}: μ0 = 1, μ1 = 5, μ = 3
    // SSW = 2 + 2 = 4, SSB = 2·4 + 2·4 = 16, SST = 20
    // F = (16/1)/(4/2) = 8, eta² = 0.8
    val emb = Seq(
      (1L, Array(0.0f), 0), (2L, Array(2.0f), 0),
      (3L, Array(4.0f), 1), (4L, Array(6.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val r = Anova.classSeparation(emb)
      .select("f_stat", "eta_sq").as[(Double, Double)].collect().head
    assert(r == ((8.0, 0.8)))
  }

  test("anova: zero within-class variance pins F to null, not infinity") {
    val emb = Seq(
      (1L, Array(1.0f), 0), (2L, Array(1.0f), 0),
      (3L, Array(2.0f), 1), (4L, Array(2.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val r = Anova.classSeparation(emb).select("f_stat", "eta_sq")
      .collect().head
    assert(r.isNullAt(0), "degenerate SSW must yield NULL F")
    assert(r.getDouble(1) == 1.0, "the label explains ALL the variance")
  }
}
