package perfbench

import java.io.File
import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The output checks accept the right answer and reject wrong ones, and
  * a rejected check fails the run. Runs without Spark jobs. */
class ChecksSpec extends AnyFunSuite {

  private def tmp(): File = Files.createTempDirectory("perfbench-spec").toFile

  test("lakehouse: last-drop-wins snapshot passes, any wrong fact fails") {
    val dir = tmp()
    val drops = (0 to 2).map(i => Gen.Lake.drop(7, i, new File(dir, s"d$i")))
    val expected = drops.map(_.fact).reduce(_ ++ _)
    // consecutive drops share days, so later drops overwrite keys
    assert(drops(1).fact.keySet.intersect(drops(2).fact.keySet).nonEmpty)
    val right = expected.toSeq
    assert(LakehouseIncremental.factProblems(right, expected).isEmpty)

    val (k, f) = right.head
    val wrongValue = right.tail :+ (k -> f.copy(revenueCents = f.revenueCents + 1))
    assert(LakehouseIncremental.factProblems(wrongValue, expected).nonEmpty)
    assert(LakehouseIncremental.factProblems(right.tail, expected).nonEmpty)
    assert(LakehouseIncremental.factProblems(right :+ right.head, expected).nonEmpty)
    // applying drops in the wrong order is not last-drop-wins
    val firstWins = (drops(2).fact ++ drops(1).fact ++ drops(0).fact).toSeq
    assert(LakehouseIncremental.factProblems(firstWins, expected).nonEmpty)
  }

  private val orderSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))

  private def row(o: Gen.Serving.Order, cents: Long): Row =
    new GenericRowWithSchema(Array(o.key, o.cust, o.status, cents / 100.0,
      Timestamp.valueOf(Gen.Serving.Base.plusDays(o.day.toLong).atStartOfDay()), o.priority),
      orderSchema)

  test("serving: points, ranges and the mart reject wrong rows") {
    val d = Gen.Serving.generate(3)
    val o = d.orders(17)
    assert(LakeServing.pointOk(Seq(row(o, o.cents)), Some(o)))
    assert(!LakeServing.pointOk(Seq(row(o, o.cents + 1)), Some(o)))
    assert(!LakeServing.pointOk(Nil, Some(o)))
    assert(!LakeServing.pointOk(Seq(row(o, o.cents), row(o, o.cents)), Some(o)))
    assert(LakeServing.pointOk(Nil, None))
    assert(!LakeServing.pointOk(Seq(row(o, o.cents)), None))

    assert(LakeServing.sameKeys(Seq(3L, 1L), Seq(1L, 3L)))
    assert(!LakeServing.sameKeys(Seq(1L, 1L, 3L), Seq(1L, 3L)))
    assert(!LakeServing.sameKeys(Seq(1L), Seq(1L, 3L)))

    val martSchema = StructType(Seq(StructField("segment", StringType),
      StructField("ym", IntegerType), StructField("n_orders", LongType),
      StructField("revenue", DoubleType)))
    def mart(bump: Long) = d.martExpected.toSeq.zipWithIndex.map { case (((seg, ym), (n, cents)), i) =>
      new GenericRowWithSchema(Array(seg, ym, if (i == 0) n + bump else n, cents / 100.0),
        martSchema): Row
    }
    assert(LakeServing.sameMart(mart(0), d.martExpected))
    assert(!LakeServing.sameMart(mart(1), d.martExpected))
    assert(!LakeServing.sameMart(mart(0).tail, d.martExpected))
  }

  test("serving: vector results need exact, ordered similarities") {
    val d = Gen.Serving.generate(3)
    val q = d.queries(0)
    def cos(v: Array[Float]) = {
      val (x, y) = (q.map(_.toDouble), v.map(_.toDouble))
      x.zip(y).map(p => p._1 * p._2).sum / math.sqrt(x.map(a => a * a).sum * y.map(a => a * a).sum)
    }
    val schema = StructType(Seq(StructField("query_id", LongType),
      StructField("neighbor_id", LongType), StructField("cos_sim", DoubleType),
      StructField("rank", IntegerType)))
    val top = d.vectors.indices.sortBy(i => -cos(d.vectors(i))).take(LakeServing.K)
    def rows(sims: Seq[Double]) = top.zip(sims).zipWithIndex.map { case ((i, s), r) =>
      new GenericRowWithSchema(Array(-1L, i.toLong, s, r + 1), schema): Row }
    val exact = top.map(i => math.rint(cos(d.vectors(i)) * 1e6) / 1e6)
    assert(LakeServing.vectorOk(rows(exact), q, d.vectors))
    assert(!LakeServing.vectorOk(rows(exact.updated(3, exact(3) + 0.01)), q, d.vectors))
    assert(!LakeServing.vectorOk(rows(exact).tail, q, d.vectors))
    assert(!LakeServing.vectorOk(rows(exact).reverse.zipWithIndex.map { case (r, i) =>
      new GenericRowWithSchema(Array(r.get(0), r.get(1), r.get(2), i + 1), schema): Row }, q, d.vectors))
  }

  test("a failed check or a throwing op fails the run") {
    val h = new Harness(null, 1, None, tmp())
    assert(h.op("passes")(h.check(Nil)))
    val out = Outcome(Seq(("op_s.p50", 1.0, "s")), Nil, Nil)
    assert(Main.resultJson(h, out, Map.empty, traced = false).startsWith("""{"correct": true"""))
    assert(!h.op("wrong result")(h.check(Seq("fact snapshot: 1 key differs"))))
    assert(!h.op("throws")(throw new IllegalStateException("boom")))
    assert(h.attempted == 3 && h.failed == 2)
    val json = Main.resultJson(h, out, Map.empty, traced = false)
    assert(json.startsWith("""{"correct": false, "attempted": 3, "failed": 2"""))
    assert(json.contains("fact snapshot: 1 key differs"))
  }

  test("job accounting fails the run when a job went unrecorded") {
    val t = new Trace
    t.maxJobId = 1 // the context ran jobs 0 and 1
    t.jobs(0) = new JobRec(0, -1L, true, -1L, 0L, "", "")
    val lost = new Harness(null, 1, None, tmp())
    Main.perLayer(lost, t, Outcome(Nil, Nil, Nil))
    assert(lost.failed == 1 && lost.notes.exists(_.contains("JOB ACCOUNTING MISMATCH")))
    t.untraced += new JobRec(1, -1L, false, -1L, 0L, "", "")
    val whole = new Harness(null, 1, None, tmp())
    Main.perLayer(whole, t, Outcome(Nil, Nil, Nil))
    assert(whole.attempted == 1 && whole.failed == 0)
  }

  test("inputs depend on the seed only") {
    val a = Gen.Serving.generate(9)
    val b = Gen.Serving.generate(9)
    assert(a.orders == b.orders && a.customers == b.customers)
    assert(a.vectors.map(_.toSeq) == b.vectors.map(_.toSeq))
    assert(a.orders != Gen.Serving.generate(10).orders)
    assert(Gen.Serving.request(4, 2) == Gen.Serving.request(4, 2))
    val (d1, d2) = (tmp(), tmp())
    assert(Gen.Lake.drop(4, 3, d1).fact == Gen.Lake.drop(4, 3, d2).fact)
    for (f <- Seq("erp_orders.csv", "crm_leads.csv", "products.csv", "web_events.json"))
      assert(Files.readAllBytes(new File(d1, f).toPath).sameElements(
        Files.readAllBytes(new File(d2, f).toPath)), f)
  }

  test("the innermost graft frame names the layer") {
    val stack =
      """org.apache.spark.sql.Dataset.collect(Dataset.scala:3000)
        |graft.quality.Expectations$.validateOrThrow(Expectations.scala:148)
        |graft.pipeline.Lakehouse$.$anonfun$run$1(Lakehouse.scala:250)
        |perfbench.LakehouseIncremental$.run(LakehouseIncremental.scala:64)""".stripMargin
    assert(Trace.innermostGraftFrame(stack).map(_._1).contains("quality"))
    assert(Trace.innermostGraftFrame("perfbench.Main$.main(Main.scala:1)").isEmpty)
    assert(Trace.covered(Seq((0L, 1000L), (500L, 1500L), (3000L, 3500L))) == 2.0)
  }
}
