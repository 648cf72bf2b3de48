package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{PlanWithUnresolvedIdentifier, UnresolvedRelation}
import org.apache.spark.sql.catalyst.plans.logical.{Command, LogicalPlan}

import graft.io.Sources

/** SQL-text entry point: register the lake tables a query names as
  * views and run raw SQL through Catalyst — the surface the
  * reference's users actually write (dbt models and Athena queries
  * are SQL text, e.g. `dbt/models/marts/fct_daily_store_metrics.sql`).
  * Everything else in this engine is the DataFrame API; this gateway
  * closes the dialect gap so a reference user can paste their query.
  *
  * No custom dialect, no interposition: `spark.sql` IS the engine —
  * the registered views resolve through the session catalog, and the
  * text gets the same Catalyst optimization (pushdown, pruning, join
  * selection, AQE) as the typed API. The gateway's one job is view
  * registration through [[Sources.table]], so SQL users inherit the
  * events-ts repair and schema discipline for free. It registers only
  * the tables the text references ([[referencedTables]]): every
  * `spark.read.parquet` runs its own schema job, so a two-table mart
  * query pays for two reads, not ten, and an unreadable table it does
  * not name cannot fail it. Views are rebuilt on every call, so a
  * table file replaced between calls is picked up. */
object SqlGateway {

  /** Register driver tables (default: all of them) as temp views
    * named like the table (idempotent; S4/S9 catalog + view
    * publication — temp views inline into the logical plan, so
    * downstream filters still push to the parquet scan). */
  def registerTables(spark: SparkSession, dir: String,
      names: Seq[String] = Sources.tableNames): Unit =
    names.foreach { n =>
      Sources.table(spark, dir, n).createOrReplaceTempView(n)
    }

  /** Driver tables the SQL text reads, in [[Sources.tableNames]] order.
    * The parsed (unresolved) plan names every relation before anything
    * is loaded — Catalyst's analyzer resolves exactly these against the
    * catalog. CTE bodies sit in `UnresolvedWith.innerChildren` and
    * subquery plans in every node's `innerChildren`, neither reachable
    * by `collect`, so the walk follows `children ++ innerChildren`. A
    * node that may hide a table name from the parser — `IDENTIFIER(...)`
    * or a command wrapping its query in a field (EXPLAIN) — means all
    * tables: the gateway never registers fewer than the text needs. */
  def referencedTables(spark: SparkSession, sqlText: String): Seq[String] = {
    def nodes(p: LogicalPlan): Iterator[LogicalPlan] =
      Iterator(p) ++ (p.children ++ p.innerChildren).iterator
        .collect { case c: LogicalPlan => c }.flatMap(nodes)
    val all = nodes(spark.sessionState.sqlParser.parsePlan(sqlText)).toSeq
    if (all.exists(n => n.isInstanceOf[PlanWithUnresolvedIdentifier] ||
        n.isInstanceOf[Command])) Sources.tableNames
    else {
      val refs = all.collect { case r: UnresolvedRelation =>
        r.multipartIdentifier.last.toLowerCase(java.util.Locale.ROOT) }.toSet
      Sources.tableNames.filter(refs)
    }
  }

  /** Run SQL text against views of the tables it references. */
  def run(spark: SparkSession, dir: String, sqlText: String): DataFrame = {
    registerTables(spark, dir, referencedTables(spark, sqlText))
    spark.sql(sqlText)
  }

  /** Demo mart in PURE SQL text — monthly revenue by customer
    * segment. Written in the dialect intersection both engines parse,
    * so the exact same text is the DuckDB oracle. */
  val segmentRevenueSql: String =
    """SELECT c.c_mktsegment AS segment,
      |  (year(o.o_orderdate) * 100 + month(o.o_orderdate)) AS ym,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  ROUND(SUM(o.o_totalprice), 2) AS revenue
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin
}
