package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import graft.io.Sources
import graft.pipeline.SqlGateway
import java.nio.file.{Files, Paths}

class SqlGatewaySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The driver's sf0.001 tables (TESTDATA.md: `testdata/` under home). */
  private val sf = s"${sys.props("user.home")}/testdata/sf0.001"
  private def haveData = new java.io.File(s"$sf/orders.parquet").exists()

  private def tempViews(s: SparkSession): Set[String] =
    s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  /** Fresh session (no views) → run → (rows, temp views it left). */
  private def runFresh(sql: String, dir: String = sf): (Seq[Row], Set[String]) = {
    val s = spark.newSession()
    val rows = SqlGateway.run(s, dir, sql).collect().toSeq
    (rows, tempViews(s))
  }

  /** sf0.001 copied to a temp dir, so a spec can remove or corrupt tables. */
  private def tableCopy(): java.nio.file.Path = {
    val dir = Files.createTempDirectory("graft_gateway")
    Sources.tableNames.foreach { t =>
      Files.copy(Paths.get(s"$sf/$t.parquet"), dir.resolve(s"$t.parquet"))
    }
    dir
  }

  test("the mart query registers exactly the two tables it reads") {
    assume(haveData)
    assert(SqlGateway.referencedTables(spark, SqlGateway.segmentRevenueSql) ==
      Seq("customer", "orders"))
    val (rows, views) = runFresh(SqlGateway.segmentRevenueSql)
    assert(rows.nonEmpty)
    assert(views == Set("orders", "customer"))
  }

  test("references in CTE bodies, subqueries and mixed case are registered and resolve") {
    assume(haveData)
    val cases = Seq(
      "WITH big AS (SELECT l_orderkey FROM lineitem WHERE l_quantity > 10) " +
        "SELECT count(*) FROM big" -> Set("lineitem"),
      "SELECT count(*) FROM orders WHERE o_custkey IN " +
        "(SELECT c_custkey FROM customer)" -> Set("orders", "customer"),
      "SELECT count(*) FROM customer c WHERE EXISTS " +
        "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)" -> Set("orders", "customer"),
      "SELECT (SELECT max(n_nationkey) FROM nation) AS m, count(*) FROM region" ->
        Set("nation", "region"),
      "SELECT count(*) FROM Orders" -> Set("orders"),
      // a CTE inside a subquery inside a CTE body
      "WITH a AS (SELECT * FROM part WHERE p_partkey IN " +
        "(WITH b AS (SELECT l_partkey FROM lineitem) SELECT l_partkey FROM b)) " +
        "SELECT count(*) FROM a" -> Set("part", "lineitem"))
    cases.foreach { case (sql, want) =>
      assert(SqlGateway.referencedTables(spark, sql).toSet == want, sql)
      val (rows, views) = runFresh(sql)
      assert(rows.size == 1, sql)
      assert(views == want, sql)
    }
  }

  test("text that hides its tables from the parser registers every table") {
    assume(haveData)
    val (rows, views) = runFresh("SELECT count(*) AS n FROM IDENTIFIER('orders')")
    assert(rows.head.getLong(0) == spark.read.parquet(s"$sf/orders.parquet").count())
    assert(views == Sources.tableNames.toSet)
    val (plan, _) = runFresh("EXPLAIN SELECT * FROM customer")
    assert(plan.head.getString(0).contains("customer.parquet"))
  }

  test("a query naming events reads ts through the repair, as TimestampType") {
    assume(haveData)
    val s = spark.newSession()
    val df = SqlGateway.run(s, sf, "SELECT ts, event_type FROM events")
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.collect().nonEmpty)
  }

  test("the mart SQL equals the same aggregate in the DataFrame API") {
    assume(haveData)
    val (sqlRows, _) = runFresh(SqlGateway.segmentRevenueSql)
    val o = Sources.table(spark, sf, "orders")
    val c = Sources.table(spark, sf, "customer")
    val api = o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).as("ym"))
      .agg(count(lit(1)).cast("bigint").as("n_orders"),
        round(sum("o_totalprice"), 2).as("revenue"))
      .orderBy("segment", "ym")
      .collect().toSeq
    assert(sqlRows.size == api.size && api.nonEmpty)
    sqlRows.zip(api).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0) && a.getInt(1) == b.getInt(1) &&
        a.getLong(2) == b.getLong(2), s"$a vs $b")
      // floating sums merge partials in shuffle-fetch order: allow one cent
      assert(math.abs(a.getDouble(3) - b.getDouble(3)) <= 0.0100001, s"$a vs $b")
    }
  }

  test("a missing or unreadable table the query does not name cannot fail it") {
    assume(haveData)
    val dir = tableCopy()
    Files.delete(dir.resolve("region.parquet"))
    Files.delete(dir.resolve("nation.parquet"))
    Files.writeString(dir.resolve("nation.parquet"), "not parquet")
    val (rows, views) = runFresh(SqlGateway.segmentRevenueSql, dir.toString)
    val (want, _) = runFresh(SqlGateway.segmentRevenueSql)
    assert(rows.map(_.toSeq.take(3)) == want.map(_.toSeq.take(3)) && rows.nonEmpty)
    assert(views == Set("orders", "customer"))
  }

  test("a missing table the query names fails with its path") {
    assume(haveData)
    val dir = tableCopy()
    Files.delete(dir.resolve("customer.parquet"))
    val e = intercept[Exception] {
      SqlGateway.run(spark.newSession(), dir.toString, SqlGateway.segmentRevenueSql)
    }
    assert(String.valueOf(e.getMessage).contains(s"$dir/customer.parquet"), e.getMessage)
  }
}
