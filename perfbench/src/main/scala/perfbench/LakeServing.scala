package perfbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, datediff, lit, to_date}

import graft.io.Sources
import graft.lake.{BloomIndex, TableLog}
import graft.operators.{Similarity, VectorIndex}
import graft.pipeline.SqlGateway

/** Workload `lake_serving`: reads against published lake tables — bloom-
  * pruned point lookups, stats-pruned date ranges over a z-ordered
  * table, IVF vector search, and a SQL mart through the gateway. Set-up
  * publishes the three tables; the timed loop issues requests of the
  * op mix in `Gen.Serving.Mix`, one op at a time, and writes nothing. */
object LakeServing {
  /** Set-up repetitions; the first ones run colder code, and the median
    * of five is the third fastest. */
  val SetupReps = 5
  val KeyedFiles = 16
  val ClusteredFiles = 8
  val PostingFiles = 8
  val K = 10
  val WarmUpRequests = 2
  /** Timed requests that always run, whatever the speed. */
  val MinRequests = 4

  def run(h: Harness, seed: Long, seconds: Double): Outcome = {
    val spark = h.spark
    import spark.implicits._
    val data = Gen.Serving.generate(seed)
    val tables = new File(h.root, "inputs/tables")
    writeTables(h, data, tables)
    val tablesPath = tables.getPath
    val base = java.sql.Date.valueOf(Gen.Serving.Base)

    // set-up: publish the keyed table (+ bloom sidecars), the
    // date-clustered table (optimize = z-order rewrite) and the vector
    // index, into a fresh root per repetition
    def pubRoot(r: Int) = new File(h.root, s"pub$r")
    val setups = h.setUp(SetupReps, "lake") { r =>
      val orders = Sources.table(spark, tablesPath, "orders")
      val keyed = new File(pubRoot(r), "orders_by_key").getPath
      TableLog.commitOverwrite(spark, keyed, orders.repartition(KeyedFiles))
      BloomIndex.ensure(spark, keyed, Seq("o_orderkey"))
      val byDay = new File(pubRoot(r), "orders_by_day").getPath
      TableLog.commitOverwrite(spark, byDay,
        orders.withColumn("day", datediff(to_date(col("o_orderdate")), lit(base))))
      TableLog.commitOptimize(spark, byDay, ("day", "o_orderkey"), ClusteredFiles)
      val vec = new File(pubRoot(r), "vectors").getPath
      VectorIndex.build(spark, vec,
        Sources.table(spark, tablesPath, "embeddings").select("vec_id", "embedding"))
      VectorIndex.optimize(spark, vec, PostingFiles)
    }
    val pub = pubRoot(SetupReps)
    val keyed = new File(pub, "orders_by_key").getPath
    val byDay = new File(pub, "orders_by_day").getPath
    val vec = new File(pub, "vectors").getPath

    // check references, computed outside the timed set-up
    def queryDf(q: Int): DataFrame =
      Seq((-1L - q, data.queries(q).toSeq)).toDF("vec_id", "embedding")
    val allQueries =
      data.queries.indices.map(q => (-1L - q, data.queries(q).toSeq)).toDF("vec_id", "embedding")
    val exactTopK: Map[Int, Set[Long]] = {
      val cands = Sources.table(spark, tablesPath, "embeddings").select("vec_id", "embedding")
      Similarity.bruteForceTopK(cands, allQueries, K).select("query_id", "neighbor_id")
        .as[(Long, Long)].collect().groupBy(_._1)
        .map { case (q, ns) => (-1 - q).toInt -> ns.map(_._2).toSet }
    }
    def recall(rows: Seq[Row], q: Int): Int =
      (rows.map(_.getAs[Long]("neighbor_id")).toSet & exactTopK(q)).size
    val byDayRows = data.orders.groupBy(_.day).map { case (d, os) => d -> os.map(_.key) }

    val lat = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    val requests = mutable.ArrayBuffer.empty[Double]
    var hits = 0L
    var points = 0L
    /** Issue the ops of request `n` one at a time, check each, and
      * return the request's summed op wall. */
    def serve(n: Int): Double = {
      var reqWall = 0.0
      for (op <- Gen.Serving.request(seed, n)) {
        val name = if (n < 0) "warm-up" else op.kind
        h.op(s"request $n ${op.kind}") {
          val (ok, rows, wall) = op match {
            case Gen.Serving.Point(key, hit) =>
              val (rows, wall) = h.span(name, "lake") {
                TableLog.readWhereEq(spark, keyed, "o_orderkey", key).collect()
              }
              points += 1
              if (hit) hits += 1
              val ok = pointOk(rows.toSeq, if (hit) Some(data.byKey(key)) else None)
              if (h.trace.isDefined && h.traceOn) {
                val (_, kept, total) = TableLog.pruneReportEq(spark, keyed, "o_orderkey", key)
                h.note(op.kind, "files_opened_ratio" -> kept.toDouble / total)
              }
              (ok, rows.length, wall)
            case Gen.Serving.RangeOp(lo, hi) =>
              val (rows, wall) = h.span(name, "lake") {
                TableLog.readWhere(spark, byDay, "day", lo, hi).collect()
              }
              val want = (lo to hi).flatMap(byDayRows.getOrElse(_, Nil))
              val got = rows.toSeq.map(_.getAs[Long]("o_orderkey"))
              if (h.trace.isDefined && h.traceOn) {
                val (kept, total) = TableLog.pruneReport(spark, byDay, "day", lo, hi)
                h.note(op.kind, "files_opened_ratio" -> kept.toDouble / total)
              }
              (sameKeys(got, want), rows.length, wall)
            case Gen.Serving.Vector(q) =>
              val qdf = queryDf(q)
              val (rows, wall) = h.span(name, "operators") {
                VectorIndex.search(spark, vec, qdf, K).collect()
              }
              (vectorOk(rows.toSeq, data.queries(q), data.vectors) && recall(rows.toSeq, q) >= K / 2,
                rows.length, wall)
            case Gen.Serving.Sql =>
              val (rows, wall) = h.span(name, "pipeline") {
                SqlGateway.run(spark, tablesPath, SqlGateway.segmentRevenueSql).collect()
              }
              (sameMart(rows.toSeq, data.martExpected), rows.length, wall)
          }
          if (h.trace.isDefined && h.traceOn) h.note(op.kind, "rows_returned" -> rows.toDouble)
          lat.getOrElseUpdate(op.kind, mutable.ArrayBuffer.empty) += wall
          reqWall += wall
          if (!ok) h.notes += s"request $n: ${op} returned a wrong result"
          ok
        }
      }
      reqWall
    }
    // untimed, untraced warm-up requests, so the timed ops do not pay the
    // read path's first JIT compilation and class loading
    h.traceOn = false
    for (w <- 1 to WarmUpRequests) serve(-w)
    lat.clear()
    hits = 0
    points = 0
    val t0 = System.nanoTime()
    var n = 0
    while (n < MinRequests || (System.nanoTime() - t0) / 1e9 < seconds) {
      h.traceOp(n)
      requests += serve(n)
      n += 1
    }
    h.traceOn = h.trace.isDefined

    // recall on the fixed query subset, outside the timed loop: one batch
    // search of every query, so the count does not depend on how many
    // vector ops the loop ran
    var recallHits = 0
    h.op("vector recall on the fixed queries") {
      val (rows, _) = h.span("recall", "operators") {
        VectorIndex.search(spark, vec, allQueries, K).collect()
      }
      val byQuery = rows.toSeq.groupBy(r => (-1L - r.getAs[Long]("query_id")).toInt)
      val oks = data.queries.indices.map { q =>
        val got = byQuery.getOrElse(q, Nil)
        val found = recall(got, q)
        recallHits += found
        val ok = vectorOk(got, data.queries(q), data.vectors) && found >= K / 2
        if (!ok) h.notes += s"vector query $q: wrong result or recall $found of $K"
        ok
      }
      oks.forall(identity)
    }

    val ops = lat.values.map(_.size).sum
    val opTime = lat.values.map(_.sum).sum
    val pubBytes = h.tree(pub).values.sum
    val srcBytes = h.tree(tables).collect { case (p, b) if p.endsWith(".parquet") => b }.sum
    def p(kind: String, q: Double) = Stats.pct(lat(kind).toSeq, q)
    Outcome(
      e2e = Seq(
        ("setup_s", Stats.median(setups), "s"),
        ("op_s.p50", Stats.median(requests.toSeq), "s"),
        ("items_per_s", ops / opTime, "1/s"),
        ("lake_bytes_per_input_byte", pubBytes.toDouble / srcBytes, "ratio")),
      report = Seq(("setup_s", Stats.median(setups), "s")) ++
        Seq("point", "range", "vector", "sql").flatMap { k =>
          Seq((s"${k}_s.p50", p(k, 50), "s")) ++
            (if (Stats.tailOk(lat(k).size, 90)) Seq((s"${k}_s.p90", p(k, 90), "s")) else Nil)
        } ++ Seq(
        ("ops_per_s", ops / opTime, "1/s"),
        ("request_s.p50", Stats.median(requests.toSeq), "s"),
        ("failed_ratio", h.failed.toDouble / h.attempted, "ratio"),
        ("ops", ops.toDouble, "count"),
        ("point_hit_share", hits.toDouble / math.max(1L, points), "ratio"),
        ("vector_recall_hits", recallHits.toDouble, "count"),
        ("vector_recall_total", (data.queries.size * K).toDouble, "count")),
      ops = Seq("point", "range", "vector", "sql"),
      extra = Map("vector.recall_hits" -> recallHits.toDouble))
  }

  /** A point result: exactly the generated row on a hit, nothing on a miss. */
  def pointOk(rows: Seq[Row], want: Option[Gen.Serving.Order]): Boolean = want match {
    case Some(o) => rows.size == 1 && sameOrder(rows.head, o)
    case None => rows.isEmpty
  }

  /** A vector result: K distinct neighbours, ranked 1..K by descending
    * cosine, each with its exact cosine to the query (rounded to 6
    * places, as the search reports it). IVF is approximate, so which
    * neighbours come back is measured as recall against the exact top-K
    * (and must reach K/2), not required to match it. */
  def vectorOk(rows: Seq[Row], query: Array[Float], vectors: IndexedSeq[Array[Float]]): Boolean = {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var (dot, na, nb) = (0.0, 0.0, 0.0)
      for (i <- a.indices) {
        val (x, y) = (a(i).toDouble, b(i).toDouble)
        dot += x * y; na += x * x; nb += y * y
      }
      dot / math.sqrt(na * nb)
    }
    val got = rows.sortBy(_.getAs[Int]("rank"))
    val ids = got.map(_.getAs[Long]("neighbor_id"))
    val sims = got.map(_.getAs[Double]("cos_sim"))
    got.size == K && got.map(_.getAs[Int]("rank")) == (1 to K) && ids.distinct.size == K &&
      ids.forall(i => i >= 0 && i < vectors.size) &&
      sims.zip(sims.drop(1)).forall { case (a, b) => a >= b } &&
      ids.zip(sims).forall { case (i, sim) => math.abs(cos(query, vectors(i.toInt)) - sim) < 1e-5 }
  }

  /** A range result: each wanted key exactly once, nothing else. */
  def sameKeys(got: Seq[Long], want: Seq[Long]): Boolean = got.sorted == want.sorted

  private def sameOrder(r: Row, o: Gen.Serving.Order): Boolean =
    r.getAs[Long]("o_orderkey") == o.key && r.getAs[Long]("o_custkey") == o.cust &&
      r.getAs[String]("o_orderstatus") == o.status &&
      math.round(r.getAs[Double]("o_totalprice") * 100) == o.cents &&
      r.getAs[Timestamp]("o_orderdate") == Timestamp.valueOf(Gen.Serving.Base.plusDays(o.day.toLong).atStartOfDay()) &&
      r.getAs[String]("o_orderpriority") == o.priority

  def sameMart(rows: Seq[Row], want: Map[(String, Int), (Long, Long)]): Boolean =
    rows.length == want.size && rows.forall { r =>
      want.get((r.getAs[String]("segment"), r.getAs[Int]("ym"))).exists { case (cnt, cents) =>
        r.getAs[Long]("n_orders") == cnt && math.abs(r.getAs[Double]("revenue") * 100 - cents) < 1.5
      }
    }

  /** The TPC-H-style tables `SqlGateway` registers, from the generated
    * rows. Only `orders`, `customer` and `embeddings` carry workload
    * data; the rest hold one row so every view resolves. */
  private def writeTables(h: Harness, d: Gen.Serving.Data, dir: File): Unit = {
    val spark = h.spark
    import spark.implicits._
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.parquet(new File(dir, s"$name.parquet").getPath)
    val ts0 = Timestamp.valueOf(Gen.Serving.Base.atStartOfDay())
    save("orders", d.orders.map(o => (o.key, o.cust, o.status, o.cents / 100.0,
      Timestamp.valueOf(Gen.Serving.Base.plusDays(o.day.toLong).atStartOfDay()), o.priority))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"))
    save("customer", d.customers.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
    save("embeddings", d.vectors.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq, i % 7) }
      .toDF("vec_id", "embedding", "label"))
    save("region", Seq((0, "AFRICA")).toDF("r_regionkey", "r_name"))
    save("nation", Seq((0, "ALGERIA", 0)).toDF("n_nationkey", "n_name", "n_regionkey"))
    save("supplier", Seq((1L, "Supplier#1", 0, 0.0)).toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))
    save("part", Seq((1L, "part", "Brand#1", "STANDARD", 1, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"))
    save("lineitem", Seq((1L, 1L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", ts0))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"))
    save("events", Seq((1L, ts0, 1L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    save("documents", Seq((1L, "text", "en", "web", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
  }
}
