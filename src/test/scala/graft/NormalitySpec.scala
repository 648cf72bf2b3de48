package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Experiment, Homogeneity, Normality, Reliability}

/** Planted-case semantics for the r12 monitor-adjacent wave: Mood's
  * median, Cohen's h, Jarque-Bera, and the streaming Cronbach fold's
  * stream ≡ batch equivalence. */
class NormalitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("mood median: a shifted group is flagged, equal locations are not") {
    def grp(g: String, center: Double) =
      (0 until 90).map(i => (g, center + (i % 21 - 10) / 2.0))
    val shifted = (grp("a", 10.0) ++ grp("b", 18.0)).toDF("g", "x")
    val equal = (grp("a", 10.0) ++ grp("b", 10.0)).toDF("g", "x")
    val rS = Homogeneity.moodMedian(shifted, col("g"), col("x"))
      .collect()(0)
    val rE = Homogeneity.moodMedian(equal, col("g"), col("x"))
      .collect()(0)
    assert(rS.getBoolean(5), s"shifted chi2=${rS.getDouble(3)}")
    assert(!rE.getBoolean(5), s"equal chi2=${rE.getDouble(3)}")
    assert(rS.getLong(1) == 2L && rS.getLong(0) == 180L)
  }

  test("cohens h: 1% vs 2% reads bigger than 50% vs 51%") {
    def units(pa: Int, pb: Int) = (0 until 2000).map { i =>
      val b = i % 2 == 1
      (b, if (b) (i / 2) % 100 < pb else (i / 2) % 100 < pa)
    }
    val rare = Experiment.cohensH(units(1, 2).toDF("b", "s"),
      col("b"), col("s")).collect()(0)
    val mid = Experiment.cohensH(units(50, 51).toDF("b", "s"),
      col("b"), col("s")).collect()(0)
    assert(math.abs(rare.getDouble(6)) >
      math.abs(mid.getDouble(6)) * 3,
      s"rare=${rare.getDouble(6)} mid=${mid.getDouble(6)}")
  }

  test("jarque-bera: a symmetric flat sample is flagged vs a near-normal one") {
    // triangular-ish (sum of two uniforms) ~ near-normal tails at
    // this n; pure uniform is platykurtic (K ~ 1.8) and JB flags it
    def u(i: Int, s: Int) = {
      var v = i.toLong * 2654435761L + s * -7046029254386353131L
      v ^= v >>> 13; v *= 1274126177L; v ^= v >>> 16
      (((v % 1000L) + 1000L) % 1000L) / 1000.0
    }
    val uniform = (0 until 3000).map(i => u(i, 1)).toDF("x")
    val sum12 = (0 until 3000)
      .map(i => (0 until 12).map(s => u(i, s)).sum - 6.0).toDF("x")
    val rU = Normality.jarqueBera(uniform, col("x")).collect()(0)
    val rN = Normality.jarqueBera(sum12, col("x")).collect()(0)
    assert(rU.getBoolean(5), s"uniform jb=${rU.getDouble(4)}")
    assert(rU.getDouble(3) < 2.2, s"uniform K=${rU.getDouble(3)}")
    assert(rN.getDouble(4) < rU.getDouble(4),
      s"sum12 jb=${rN.getDouble(4)} uniform jb=${rU.getDouble(4)}")
  }

  test("lilliefors: uniform data is far from normal, sum-of-12 is close") {
    def u(i: Int, s: Int) = {
      var v = i.toLong * 2654435761L + s * -7046029254386353131L
      v ^= v >>> 13; v *= 1274126177L; v ^= v >>> 16
      (((v % 1000L) + 1000L) % 1000L) / 1000.0
    }
    val uniform = (0 until 2000).map(i => u(i, 1)).toDF("x")
    val sum12 = (0 until 2000)
      .map(i => (0 until 12).map(s => u(i, s)).sum - 6.0).toDF("x")
    val rU = Normality.lilliefors(uniform, col("x")).collect()(0)
    val rN = Normality.lilliefors(sum12, col("x")).collect()(0)
    assert(rU.getBoolean(5), s"uniform D=${rU.getDouble(3)}")
    assert(rN.getDouble(3) < rU.getDouble(3) / 2,
      s"sum12 D=${rN.getDouble(3)} uniform D=${rU.getDouble(3)}")
  }

  test("cohens d: a one-pooled-sd shift reads d ~ 1") {
    def units(shift: Double) = (0 until 800).map { i =>
      val noise = (i % 41 - 20) / 20.0 * 1.732   // sd ~ 1
      (i % 2 == 1, 10.0 + noise + (if (i % 2 == 1) shift else 0.0))
    }
    val d1 = Experiment.cohensD(units(1.0).toDF("b", "m"),
      col("b"), col("m")).collect()(0)
    val d0 = Experiment.cohensD(units(0.0).toDF("b", "m"),
      col("b"), col("m")).collect()(0)
    assert(math.abs(d1.getDouble(5) - 1.0) < 0.1,
      s"d=${d1.getDouble(5)}")
    assert(d1.getString(7) == "large")
    assert(d0.getString(7) == "negligible")
    // Hedges g only shrinks
    assert(math.abs(d1.getDouble(6)) <=
      math.abs(d1.getDouble(5)) + 1e-12)
  }

  test("stream cronbach: two-batch fold equals the batch statistic") {
    val rows = (0 until 120).flatMap { u =>
      Seq("a", "b", "c").flatMap(it =>
        (0 to (u * (it.length + 1)) % 5).map(j =>
          (u.toLong, it, j.toLong)))
    }
    val ev = rows.toDF("user_id", "event_type", "j")
    val batch = Reliability.cronbachAlpha(ev, col("user_id"),
      col("event_type")).collect()(0)
    val root = graft.util.TempDirs.create("graft_cronbach_spec")
    val path = root.resolve("m").toString
    val (b1, b2) = (ev.filter(col("j") % 2 === 0),
      ev.filter(col("j") % 2 === 1))
    graft.streaming.EngagementMatrix.ingestOnce(spark, b1, path, 0L)
    graft.streaming.EngagementMatrix.ingestOnce(spark, b2, path, 1L)
    // replayed batch folds nothing twice
    assert(graft.streaming.EngagementMatrix
      .ingestOnce(spark, b2, path, 1L) == 0L)
    val stream = graft.streaming.EngagementMatrix
      .dashboard(spark, path).collect()(0)
    assert(stream.getLong(0) == batch.getLong(0))
    assert(stream.getDouble(4) == batch.getDouble(4),
      s"stream=${stream.getDouble(4)} batch=${batch.getDouble(4)}")
  }

  test("dagostino k2 equals the published-transform recomputation") {
    // an asymmetric sample large enough for the transforms (n = 60)
    val xs = (0 until 60).map(i => math.pow(1.0 + i % 12, 1.7))
    val got = Normality.dagostinoK2(xs.toDF("x"), col("x"))
      .collect().head
    // independent Scala replay of D'Agostino 1970 / Anscombe–Glynn
    val n = xs.size.toDouble
    val mu = xs.sum / n
    val m2 = xs.map(x => math.pow(x - mu, 2)).sum / n
    val m3 = xs.map(x => math.pow(x - mu, 3)).sum / n
    val m4 = xs.map(x => math.pow(x - mu, 4)).sum / n
    val g1 = m3 / math.pow(m2, 1.5); val b2 = m4 / (m2 * m2)
    val y = g1 * math.sqrt((n + 1) * (n + 3) / (6 * (n - 2)))
    val beta2 = 3.0 * (n * n + 27 * n - 70) * (n + 1) * (n + 3) /
      ((n - 2) * (n + 5) * (n + 7) * (n + 9))
    val w2 = math.sqrt(2 * (beta2 - 1)) - 1
    val dlt = 1.0 / math.sqrt(math.log(math.sqrt(w2)))
    val alp = math.sqrt(2.0 / (w2 - 1))
    val z1 = dlt * math.log(y / alp + math.sqrt(y / alp * (y / alp) + 1))
    val eb2 = 3 * (n - 1) / (n + 1)
    val vb2 = 24 * n * (n - 2) * (n - 3) /
      ((n + 1) * (n + 1) * (n + 3) * (n + 5))
    val xx = (b2 - eb2) / math.sqrt(vb2)
    val sb1 = 6 * (n * n - 5 * n + 2) / ((n + 7) * (n + 9)) *
      math.sqrt(6 * (n + 3) * (n + 5) / (n * (n - 2) * (n - 3)))
    val aa = 6 + 8 / sb1 * (2 / sb1 + math.sqrt(1 + 4 / (sb1 * sb1)))
    val z2 = ((1 - 2 / (9 * aa)) -
      math.cbrt((1 - 2 / aa) / (1 + xx * math.sqrt(2 / (aa - 4))))) /
      math.sqrt(2 / (9 * aa))
    assert(got.getLong(0) == 60L)
    assert(math.abs(got.getDouble(3) - z1) < 1e-5, s"z1 ${got.getDouble(3)} vs $z1")
    assert(math.abs(got.getDouble(4) - z2) < 1e-5, s"z2 ${got.getDouble(4)} vs $z2")
    assert(math.abs(got.getDouble(5) - (z1 * z1 + z2 * z2)) < 1e-4)
    // heavily skewed data rejects normality
    assert(got.getBoolean(6))
    // degenerate guard: constant sample yields the NULL family
    val flat = Normality.dagostinoK2(
      Seq.fill(40)(5.0).toDF("x"), col("x")).collect().head
    assert(flat.isNullAt(5) && !flat.getBoolean(6))
  }

  test("dagostino k2 compiles under whole-stage codegen with no interpreted fallback") {
    val xs = (0 until 60).map(i => math.pow(1.0 + i % 12, 1.7))
    val reference = Normality.dagostinoK2(xs.toDF("x"), col("x")).collect().head
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val got = Normality.dagostinoK2(xs.toDF("x"), col("x")).collect().head
      assert(got == reference)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("page trend: monotone blocks give the exact maximal L") {
    // 3 blocks, 5 levels, strictly increasing metric in level order:
    // every within-block rank equals the level index → L = b·Σj²
    val rows = for (b <- 1 to 3; j <- 1 to 5)
      yield (s"b$b", j.toLong, j * 10.0 + b)
    val r = Homogeneity.pageTrend(rows.toDF("b", "j", "x"),
      col("b"), col("j"), col("x")).collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 5L)
    assert(r.getDouble(2) == 3.0 * (1 + 4 + 9 + 16 + 25))
    assert(r.getDouble(3) == 3.0 * 5 * 36 / 4.0)
    assert(r.getBoolean(5), s"z=${r.getDouble(4)}")
    // all-tied blocks: average ranks make L = E exactly → z = 0
    val flat = (for (b <- 1 to 3; j <- 1 to 5)
      yield (s"b$b", j.toLong, 7.0)).toDF("b", "j", "x")
    val r0 = Homogeneity.pageTrend(flat, col("b"), col("j"), col("x"))
      .collect().head
    assert(r0.getDouble(4) == 0.0 && !r0.getBoolean(5))
    // an incomplete block is dropped, not mis-ranked
    val partial = rows.filterNot(t => t._1 == "b3" && t._2 > 3)
    val rp = Homogeneity.pageTrend(partial.toDF("b", "j", "x"),
      col("b"), col("j"), col("x")).collect().head
    assert(rp.getLong(0) == 2L)
  }

  test("kendall w: perfect concordance is 1, all-tied blocks are 0") {
    // 3 blocks × 4 levels, every block ranks levels identically
    val rows = for (b <- 1 to 3; j <- 1 to 4)
      yield (s"b$b", j.toLong, j * 10.0 + b)
    val r = Homogeneity.kendallW(rows.toDF("b", "j", "x"),
      col("b"), col("j"), col("x")).collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 4L)
    assert(r.getDouble(2) == 1.0)
    // chi2 = b(k−1)W = 9 > chi2_crit(3) = 7.814728
    assert(r.getDouble(3) == 9.0 && r.getBoolean(5))
    // consistent orderings WITH consistent mid-ties: the tie-corrected
    // denominator keeps W exactly 1 (uncorrected would read < 1)
    val tied = (for (b <- 1 to 3; j <- 1 to 4)
      yield (s"b$b", j.toLong,
        Seq(1.0, 2.0, 2.0, 4.0)(j - 1) + b * 100.0)).toDF("b", "j", "x")
    val rt = Homogeneity.kendallW(tied, col("b"), col("j"), col("x"))
      .collect().head
    assert(rt.getDouble(2) == 1.0 && rt.getBoolean(5))
    // ALL values tied in every block: the tie term removes the whole
    // variance budget — W is undefined (0/0), reported NULL
    val flat = (for (b <- 1 to 3; j <- 1 to 4)
      yield (s"b$b", j.toLong, 7.0)).toDF("b", "j", "x")
    val r0 = Homogeneity.kendallW(flat, col("b"), col("j"), col("x"))
      .collect().head
    assert(r0.isNullAt(2) && !r0.getBoolean(5))
  }

  test("ad normality: near-normal accepts, uniform rejects, ties " +
    "match the untied order-statistic sum") {
    import graft.operators.Normality
    // a deterministic normal-ish sample via the probit of a uniform
    // grid (inverse-CDF sampling without randomness): accept
    val grid = (1 to 400).map(i => (i - 0.5) / 400.0)
    def probit(p: Double): Double = {   // Acklam, plenty for a fixture
      val a = Seq(-3.969683028665376e+01, 2.209460984245205e+02,
        -2.759285104469687e+02, 1.383577518672690e+02,
        -3.066479806614716e+01, 2.506628277459239e+00)
      val b = Seq(-5.447609879822406e+01, 1.615858368580409e+02,
        -1.556989798598866e+02, 6.680131188771972e+01,
        -1.328068155288572e+01)
      val c = Seq(-7.784894002430293e-03, -3.223964580411365e-01,
        -2.400758277161838e+00, -2.549732539343734e+00,
        4.374664141464968e+00, 2.938163982698783e+00)
      val d = Seq(7.784695709041462e-03, 3.224671290700398e-01,
        2.445134137142996e+00, 3.754408661907416e+00)
      if (p < 0.02425) {
        val q = math.sqrt(-2 * math.log(p))
        (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q +
          c(5)) / ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
      } else if (p > 0.97575) -probit(1 - p)
      else {
        val q = p - 0.5; val r = q * q
        (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r +
          a(5)) * q /
          (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
      }
    }
    val normal = grid.map(probit).toDF("x")
    val rN = Normality.adNormality(normal, col("x")).collect().head
    assert(rN.getLong(0) == 400L)
    assert(!rN.getBoolean(5), s"a2*=${rN.getDouble(4)}")
    // uniform data: tails far too light — strong reject
    val rU = Normality.adNormality((1 to 400).map(_.toDouble).toDF("x"),
      col("x")).collect().head
    assert(rU.getBoolean(5), s"a2*=${rU.getDouble(4)}")
    // tie correctness: duplicating every point is the same ORDER
    // STATISTIC pattern computed through the stair sums — A² must
    // equal the direct i-indexed formula on the expanded sample
    val base = Seq(1.0, 2.0, 2.0, 3.0, 5.0, 5.0, 5.0, 8.0)
    val rT = Normality.adNormality(base.toDF("x"), col("x"))
      .collect().head
    val n = base.size
    val mu = base.sum / n
    val sd = math.sqrt(base.map(v => (v - mu) * (v - mu)).sum / (n - 1))
    def cdf(z0: Double): Double = {
      val az = math.abs(z0)
      val t = 1.0 / (1.0 + az * 0.2316419)
      val poly = t * (0.319381530 + t * (-0.356563782 +
        t * (1.781477937 + t * (-1.821255978 + t * 1.330274429))))
      val up = math.exp(az * az * -0.5) * 0.3989422804014327 * poly
      val p = if (z0 >= 0) 1.0 - up else up
      math.max(1e-15, math.min(1.0 - 1e-15, p))
    }
    val zs = base.sorted.map(v => cdf((v - mu) / sd))
    val direct = -n - (1.0 / n) * (1 to n).map(i =>
      (2 * i - 1) * (math.log(zs(i - 1)) +
        math.log(1.0 - zs(n - i)))).sum
    assert(math.abs(rT.getDouble(3) - direct) < 1e-6,
      s"a2=${rT.getDouble(3)} direct=$direct")
  }
}
