package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Test.{check, Parameters}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.PrefixSum

/** [[PrefixSum]] is exact whatever its bucket boundaries: every case
  * compares it with the naive single-task
  * `sum(c) OVER (ORDER BY key ROWS UNBOUNDED PRECEDING)`. */
class PrefixSumSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val params = Parameters.default.withMinSuccessfulTests(12)

  private def assertProp(p: Prop): Unit = {
    val r = check(params, p)
    assert(r.passed, r.status.toString)
  }

  /** Value-frequency table of `vals`: one row per distinct key `k`
    * (nulls included, as a caller's groupBy would have them) with the
    * count `c` and the count of non-negative values `p`. */
  private def freq(vals: Seq[Option[Double]]): DataFrame =
    vals.map(_.map(java.lang.Double.valueOf).orNull).toDF("k")
      .groupBy("k")
      .agg(count(lit(1)).as("c"), sum(when(col("k") >= 0.0, 1L).otherwise(0L)).as("p"))

  /** `(key, c_cum, p_cum)` ordered by key; keys as strings so NaN
    * compares equal to itself. */
  private def rows(df: DataFrame): Seq[(String, Long, Long)] =
    df.orderBy("k").select("k", "c_cum", "p_cum").collect().toSeq
      .map(r => (r.getDouble(0).toString, r.getLong(1), r.getLong(2)))

  private def naive(f: DataFrame): Seq[(String, Long, Long)] = {
    val w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows(f.where(col("k").isNotNull)
      .withColumn("c_cum", sum("c").over(w)).withColumn("p_cum", sum("p").over(w)))
  }

  /** `n − 1` boundaries spread over the sorted distinct keys, so every
    * boundary equals a key (the case where ties could straddle). */
  private def keyBounds(keys: Seq[Double], n: Int): Seq[Double] =
    if (keys.isEmpty) (1 until n).map(_.toDouble)
    else (1 until n).map(i => keys((i * keys.size / n).min(keys.size - 1)))

  private def forced(f: DataFrame, bounds: Seq[Double]) =
    rows(PrefixSum.running(f, "k", Seq("c", "p"), bounds))

  test("equals the naive ordered window at every forced bucket count") {
    // ties, nulls, negatives, -0.0 beside 0.0 and NaN in one small pool
    val pool = Seq(Some(-3.5), Some(-1.0), Some(-0.0), Some(0.0), Some(0.5),
      Some(2.0), Some(7.0), Some(Double.NaN), None)
    val gen = Gen.chooseNum(0, 14).flatMap(Gen.listOfN(_, Gen.oneOf(pool)))
    assertProp(Prop.forAll(gen) { vals =>
      val f = freq(vals)
      val expect = naive(f)
      val keys = vals.flatten.distinct.sorted(Ordering.Double.TotalOrdering)
      (1 to keys.size + 2).forall { n =>
        val got = forced(f, keyBounds(keys, n))
        // midpoints between keys: boundaries that equal no key
        val mids = keys.zip(keys.drop(1)).map { case (a, b) => (a + b) / 2 }
        got == expect && forced(f, mids.take(n)) == expect
      }
    })
  }

  test("empty input, one row and an all-null key") {
    val empty = freq(Nil)
    Seq(Nil, Seq(0.0), Seq(-1.0, 1.0, 5.0)).foreach(b => assert(forced(empty, b).isEmpty))
    val one = freq(Seq(Some(4.0), Some(4.0)))
    Seq(Nil, Seq(4.0), Seq(1.0, 4.0, 9.0), Seq(9.0)).foreach(b =>
      assert(forced(one, b) == Seq(("4.0", 2L, 2L))))
    assert(forced(freq(Seq(None, None)), Seq(1.0)).isEmpty)
  }

  test("size-derived buckets: tiny advisory size splits a known-size frame, unknown size stays one window") {
    val vals = (0 until 300).map(i => Some(((i * 37) % 101 - 50) / 4.0)) ++
      Seq(Some(Double.NaN), Some(-0.0), None)
    val f = freq(vals)
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    spark.conf.set(key, "1")
    try {
      val local = f.cache()   // a known (in-memory) size estimate
      local.count()
      assert(PrefixSum.boundaries(local, Seq("k")).head.nonEmpty)
      assert(rows(PrefixSum.running(local, "k", Seq("c", "p"))) == naive(f))
      local.unpersist()
      // an RDD-backed frame has no size estimate: unknown is not big
      val rddBacked = spark.createDataFrame(f.rdd, f.schema)
      assert(PrefixSum.boundaries(rddBacked, Seq("k")) == Seq(Nil))
    } finally spark.conf.unset(key)
    assert(PrefixSum.boundaries(f, Seq("k")) == Seq(Nil))
  }

  test("each bucket gets its own shuffle partition") {
    // Spark hashes bucket ids 0, 1 and 3 into the same one of 4
    // partitions; the labels must keep the 4 buckets apart
    val f = freq((0 until 40).map(i => Some(i.toDouble)))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val sizes = PrefixSum.running(f, "k", Seq("c"), Seq(10.0, 20.0, 30.0))
        .rdd.mapPartitions(it => Iterator(it.size)).collect()
      assert(sizes.sorted.toSeq == Seq(10, 10, 10, 10), sizes.toSeq)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("correlation fixture: forced-boundary midranks equal the single window") {
    // tied values + a null + an anti-monotone pair: the CorrelationSpec
    // fixture, ranked per column the way Correlation ranks it
    val df = Seq[(java.lang.Double, java.lang.Double)](
      (1.0, 8.0), (2.0, 7.0), (2.0, 7.0), (3.0, 5.0), (3.0, null),
      (4.0, 2.0), (5.0, 2.0), (5.0, 1.0), (6.0, 0.5))
      .toDF("x", "y")
    Seq("x", "y").foreach { c =>
      val f = df.groupBy(col(c).as("v")).agg(count(lit(1)).as("n"))
      def midranks(b: Seq[Double]) = PrefixSum.running(f, "v", Seq("n"), b)
        .select(col("v"), col("n_cum") - (col("n") - 1.0) / 2.0)
        .orderBy("v").as[(Double, Double)].collect().toSeq
      val single = midranks(Nil)
      assert(single.map(_._1).distinct.size == single.size)
      Seq(Seq(2.0), Seq(2.0, 5.0, 7.0), Seq(0.0, 1.0, 3.0, 4.0, 6.0, 8.0))
        .foreach(b => assert(midranks(b) == single, s"$c under $b"))
    }
  }
}
