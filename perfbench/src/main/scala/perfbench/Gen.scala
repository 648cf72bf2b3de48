package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.LocalDate

import scala.collection.mutable
import scala.util.Random

/** Seeded input generators for the workloads, written without
  * Spark: drops are plain CSV/JSON files, and the parquet inputs are
  * the generated rows serialized by the workload. Every generator also
  * yields the answer the program's output is checked against, computed
  * here from the generated values alone. The same seed always gives the
  * same inputs. */
object Gen {

  /** One generator stream per (seed, workload, part): parts never
    * share random state, so e.g. drop 7 is the same file whether or
    * not drops 1-6 were generated in this process. */
  def rng(seed: Long, salt: String, part: Int = 0): Random =
    new Random(seed * 1000003L + salt.hashCode.toLong * 7919L + part)

  private def writeLines(f: File, lines: Iterator[String]): Long = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    f.length()
  }

  private def money(cents: Long): String = f"${cents / 100}%d.${cents % 100}%02d"

  // ------------------------------------------------------------------
  // lakehouse_incremental: raw drops for graft.pipeline.Lakehouse.run
  // ------------------------------------------------------------------

  object Lake {
    val Stores = 40
    val Base: LocalDate = LocalDate.of(2024, 1, 1)
    /** The bootstrap drop covers days [0, HistoryDays). */
    val HistoryDays = 120
    /** Each incremental drop covers WindowDays days and starts StepDays
      * after the previous one, so consecutive drops share
      * WindowDays - StepDays days (and the first shares them with the
      * bootstrap history). The reference runs every 6 hours over a 7-day
      * recompute window, so consecutive runs share at least 6 of their 7
      * days; a 1-day step is that least overlap, and it keeps a new day,
      * hence inserted keys, in every merge. */
    val WindowDays = 7
    val StepDays = 1
    def overlapShare: Double = (WindowDays - StepDays).toDouble / WindowDays
    /** Per (store, day) row counts: bootstrap history is thin, drops
      * are dense (the 7-day recompute window of the reference's mart). */
    val HistoryOrders = (1, 5)
    val DropOrders = (20, 60)
    val HistoryLeads = (0, 1)
    val HistoryEvents = (0, 3)
    val DropLeads = (0, 6)
    val DropEvents = (0, 30)
    val ProductsPerDrop = 200

    def store(s: Int): String = f"st$s%03d"
    def day(d: Int): String = Base.plusDays(d.toLong).toString

    /** Fact value of one (store_id, dt) key, as the mart defines it. */
    final case class Fact(revenueCents: Long, orders: Long,
        converted: Long, sessions: Long)

    final case class Drop(index: Int, dir: File, bytes: Long,
        inputRows: Long, fact: Map[(String, String), Fact])

    def days(index: Int): Range =
      if (index == 0) 0 until HistoryDays
      else {
        val start = HistoryDays - (WindowDays - StepDays) + (index - 1) * StepDays
        start until start + WindowDays
      }

    /** Write drop `index` (0 = bootstrap) under `dir`. */
    def drop(seed: Long, index: Int, dir: File): Drop = {
      val r = rng(seed, "lakehouse", index)
      def between(b: (Int, Int)) = b._1 + r.nextInt(b._2 - b._1 + 1)
      val rev = mutable.HashMap.empty[(String, String), Long].withDefaultValue(0L)
      val ord = mutable.HashMap.empty[(String, String), Long].withDefaultValue(0L)
      val conv = mutable.HashMap.empty[(String, String), Long].withDefaultValue(0L)
      val sess = mutable.HashMap.empty[(String, String), Long].withDefaultValue(0L)
      val orders = mutable.ArrayBuffer("order_id,customer_id,store_id,dt,order_value,status")
      val leads = mutable.ArrayBuffer("lead_id,name,email,source,status,store_id,dt")
      val events = mutable.ArrayBuffer.empty[String]
      val statuses = Array("placed", "shipped", "delivered", "returned")
      val leadStatus = Array("new", "contacted", "converted")
      val pages = Array("/home", "/product", "/cart", "/search", "/checkout")
      var orderId = index * 10000000
      var n = 0
      for (d <- days(index); s <- 1 to Stores) {
        val k = (store(s), day(d))
        val no = between(if (index == 0) HistoryOrders else DropOrders)
        for (_ <- 0 until no) {
          orderId += 1
          val cents = 100L + r.nextInt(50000)
          orders += s"$orderId,c${r.nextInt(5000)},${k._1},${k._2},${money(cents)}," +
            statuses(r.nextInt(statuses.length))
          rev(k) += cents; ord(k) += 1
        }
        for (_ <- 0 until between(if (index == 0) HistoryLeads else DropLeads)) {
          n += 1
          val st = leadStatus(r.nextInt(leadStatus.length))
          leads += s"L$index-$n,Lead $n,lead$n@mail${r.nextInt(50)}.example.com," +
            s"${if (r.nextBoolean()) "web" else "referral"},$st,${k._1},${k._2}"
          if (st == "converted") conv(k) += 1
        }
        for (_ <- 0 until between(if (index == 0) HistoryEvents else DropEvents)) {
          n += 1
          val meta = r.nextInt(3) match {
            case 0 => s"""{"utm_source":"ad${r.nextInt(9)}"}"""
            case 1 => s"""{"cta":"b${r.nextInt(4)}"}"""
            case _ => "{}"
          }
          events += s"""{"event_id":"E$index-$n","visitor_id":"v${r.nextInt(20000)}",""" +
            s""""store_id":"${k._1}","dt":"${k._2}","page":"${pages(r.nextInt(pages.length))}",""" +
            s""""event_type":"${if (r.nextInt(4) == 0) "click" else "view"}","metadata":$meta}"""
          sess(k) += 1
        }
      }
      val products = mutable.ArrayBuffer("product_id,name,category,price,active,store_id,dt")
      val last = days(index).last
      for (p <- 1 to ProductsPerDrop)
        products += s"P$p,Product $p,cat${p % 12},${money(100L + r.nextInt(20000))}," +
          s"${r.nextInt(10) > 0},${store(1 + r.nextInt(Stores))},${day(last)}"
      val bytes =
        writeLines(new File(dir, "erp_orders.csv"), orders.iterator) +
        writeLines(new File(dir, "crm_leads.csv"), leads.iterator) +
        writeLines(new File(dir, "products.csv"), products.iterator) +
        writeLines(new File(dir, "web_events.json"), events.iterator)
      val keys = rev.keySet ++ conv.keySet ++ sess.keySet
      val fact = keys.iterator.map(k => k -> Fact(rev(k), ord(k), conv(k), sess(k))).toMap
      Drop(index, dir, bytes,
        (orders.size - 1 + leads.size - 1 + products.size - 1 + events.size).toLong, fact)
    }
  }

  // ------------------------------------------------------------------
  // lake_serving: TPC-H-style tables plus the op stream
  // ------------------------------------------------------------------

  object Serving {
    val Customers = 2000
    val Orders = 30000
    val Days = 730
    val Vectors = 3000
    val Dim = 32
    val Clusters = 64
    val VectorQueries = 16
    val Noise = 0.1
    val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    /** Ops per request, in seeded order: a dashboard-style request. */
    val Mix: Seq[(String, Int)] = Seq("point" -> 4, "range" -> 2, "vector" -> 1, "sql" -> 1)
    val PointHitShare = 0.75
    /** Hit keys are drawn as floor(Orders * u^Skew): ~30% of hits land
      * on the lowest 1% of keys. */
    val Skew = 4.0
    val RangeDays = (7, 30)

    final case class Order(key: Long, cust: Long, status: String,
        cents: Long, day: Int, priority: String)
    final case class Data(customers: IndexedSeq[(Long, String, Int, Double, String)],
        orders: IndexedSeq[Order], vectors: IndexedSeq[Array[Float]],
        queries: IndexedSeq[Array[Float]]) {
      lazy val byKey: Map[Long, Order] = orders.iterator.map(o => o.key -> o).toMap
      /** segment, yyyymm -> (orders, revenue cents): the mart query's answer. */
      lazy val martExpected: Map[(String, Int), (Long, Long)] = {
        val seg = customers.iterator.map(c => c._1 -> c._5).toMap
        orders.groupBy(o => (seg(o.cust), yyyymm(o.day)))
          .map { case (k, os) => k -> (os.size.toLong, os.map(_.cents).sum) }
      }
    }

    val Base: LocalDate = LocalDate.of(2022, 1, 1)
    def yyyymm(day: Int): Int = { val d = Base.plusDays(day.toLong); d.getYear * 100 + d.getMonthValue }
    /** Order keys are odd, so every even key in range is a miss that
      * min/max statistics cannot prune. */
    def orderKey(i: Int): Long = 2L * i + 1

    def generate(seed: Long): Data = {
      val r = rng(seed, "serving")
      val customers = (1 to Customers).map { c =>
        (c.toLong, f"Customer#$c%06d", r.nextInt(25),
          (r.nextInt(1000000) - 100000) / 100.0, Segments(r.nextInt(Segments.size)))
      }
      val st = Array("O", "F", "P")
      val pr = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      val orders = (0 until Orders).map { i =>
        Order(orderKey(i), 1L + r.nextInt(Customers), st(r.nextInt(3)),
          100L + r.nextInt(5000000), r.nextInt(Days), pr(r.nextInt(5)))
      }
      val centers = IndexedSeq.fill(Clusters)(Array.fill(Dim)(r.nextGaussian().toFloat))
      def around(c: Array[Float], noise: Double) =
        c.map(x => (x + noise * r.nextGaussian()).toFloat)
      // tight clusters, more of them than the index's sqrt(n) cells: a
      // cluster mostly lands whole in one cell, so a query's true top-10
      // usually sits in the cells it probes
      val vectors = IndexedSeq.fill(Vectors)(around(centers(r.nextInt(Clusters)), Noise))
      val queries = IndexedSeq.fill(VectorQueries)(around(centers(r.nextInt(Clusters)), Noise))
      Data(customers, orders, vectors, queries)
    }

    sealed trait Op { def kind: String }
    final case class Point(key: Long, hit: Boolean) extends Op { val kind = "point" }
    final case class RangeOp(lo: Int, hi: Int) extends Op { val kind = "range" }
    final case class Vector(query: Int) extends Op { val kind = "vector" }
    case object Sql extends Op { val kind = "sql" }

    /** The ops of request `n`, in seeded order. */
    def request(seed: Long, n: Int): Seq[Op] = {
      val r = rng(seed, "serving-ops", n)
      val ops = Mix.flatMap { case (kind, count) =>
        Seq.fill(count)(kind match {
          case "point" =>
            if (r.nextDouble() < PointHitShare)
              Point(orderKey(math.min(Orders - 1,
                (Orders * math.pow(r.nextDouble(), Skew)).toInt)), hit = true)
            else Point(orderKey(r.nextInt(Orders)) + 1, hit = false)
          case "range" =>
            val len = RangeDays._1 + r.nextInt(RangeDays._2 - RangeDays._1 + 1)
            val lo = r.nextInt(Days - len)
            RangeOp(lo, lo + len - 1)
          case "vector" => Vector(r.nextInt(VectorQueries))
          case _ => Sql
        })
      }
      r.shuffle(ops)
    }
  }
}
