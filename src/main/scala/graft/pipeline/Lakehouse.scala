package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.Sources
import graft.quality.{Expectations, SuiteLoader}
import graft.quality.Expectations._

/** The reference-faithful lakehouse pipeline: the four sample domains,
  * their schemas, expectation suites, staging projections, the fact
  * build, and the per-domain orchestration.
  *
  * Shape mirrors the reference end to end —
  * domains/registry: `local_runner.py:19-40`; staging casts:
  * `dbt/models/staging/stg_<domain>.sql:3-11`; suites:
  * `great_expectations/expectations/<domain>.json`; fact:
  * `dbt/models/marts/fct_daily_store_metrics.sql:6-32`; DAG stages
  * ingest→validate→transform→publish with retries:
  * `airflow/dags/lakehouse_pipelines.py:98-144` — but each stage is a
  * lazy DataFrame transform, so the whole pipeline is ONE Catalyst plan
  * per output and staging views inline into the fact scan.
  */
object Lakehouse {

  // ---- Schemas (explicit; the reference lets pandas/Glue infer, we
  // pin them so the scan is typed from the start) ----

  val erpOrdersSchema: StructType = StructType(Seq(
    StructField("order_id", IntegerType),
    StructField("customer_id", StringType),
    StructField("store_id", StringType),
    StructField("dt", StringType),
    StructField("order_value", DoubleType),
    StructField("status", StringType)))

  val crmLeadsSchema: StructType = StructType(Seq(
    StructField("lead_id", StringType),
    StructField("name", StringType),
    StructField("email", StringType),
    StructField("source", StringType),
    StructField("status", StringType),
    StructField("store_id", StringType),
    StructField("dt", StringType)))

  val productsSchema: StructType = StructType(Seq(
    StructField("product_id", StringType),
    StructField("name", StringType),
    StructField("category", StringType),
    StructField("price", DoubleType),
    StructField("active", BooleanType),
    StructField("store_id", StringType),
    StructField("dt", StringType)))

  /** web_events.metadata has heterogeneous keys per row (utm_source /
    * cta / query / empty) ⇒ a map, not a sparse struct (SURVEY §1.2). */
  val webEventsSchema: StructType = StructType(Seq(
    StructField("event_id", StringType),
    StructField("visitor_id", StringType),
    StructField("store_id", StringType),
    StructField("dt", StringType),
    StructField("page", StringType),
    StructField("event_type", StringType),
    StructField("metadata", MapType(StringType, StringType))))

  // ---- Expectation suites (reference great_expectations/expectations) ----
  // Config-driven like the reference: declared in the GE JSON format and
  // parsed by SuiteLoader, not hard-coded as Scala.

  val suiteJson: Map[String, String] = Map(
    "erp_orders" ->
      """{"expectations": [
        |  {"expectation_type": "expect_table_columns_to_match_ordered_list",
        |   "kwargs": {"column_list": ["order_id","customer_id","store_id","dt","order_value","status"]}},
        |  {"expectation_type": "expect_column_values_to_not_be_null",
        |   "kwargs": {"column": "order_id"}},
        |  {"expectation_type": "expect_column_values_to_be_between",
        |   "kwargs": {"column": "order_value", "min_value": 0}}
        |]}""".stripMargin,
    "crm_leads" ->
      """{"expectations": [
        |  {"expectation_type": "expect_table_columns_to_match_ordered_list",
        |   "kwargs": {"column_list": ["lead_id","name","email","source","status","store_id","dt"]}},
        |  {"expectation_type": "expect_column_values_to_match_regex",
        |   "kwargs": {"column": "email", "regex": ".+@.+\\..+"}}
        |]}""".stripMargin,
    "products" ->
      """{"expectations": [
        |  {"expectation_type": "expect_table_columns_to_match_ordered_list",
        |   "kwargs": {"column_list": ["product_id","name","category","price","active","store_id","dt"]}},
        |  {"expectation_type": "expect_column_values_to_be_between",
        |   "kwargs": {"column": "price", "min_value": 0}}
        |]}""".stripMargin,
    "web_events" ->
      """{"expectations": [
        |  {"expectation_type": "expect_table_columns_to_match_ordered_list",
        |   "kwargs": {"column_list": ["event_id","visitor_id","store_id","dt","page","event_type","metadata"]}},
        |  {"expectation_type": "expect_column_values_to_not_be_null",
        |   "kwargs": {"column": "event_id"}},
        |  {"expectation_type": "expect_column_values_to_not_be_null",
        |   "kwargs": {"column": "store_id"}}
        |]}""".stripMargin)

  val suites: Map[String, Suite] =
    suiteJson.map { case (d, json) => d -> SuiteLoader.fromJsonString(d, json) }

  // ---- Ingestion (S1/S2: suffix-dispatched, like local_runner._load_df) ----

  def ingest(spark: SparkSession, rawDir: String, domain: String): DataFrame =
    domain match {
      case "erp_orders" => Sources.csv(spark, s"$rawDir/erp_orders.csv", erpOrdersSchema)
      case "crm_leads"  => Sources.csv(spark, s"$rawDir/crm_leads.csv", crmLeadsSchema)
      case "products"   => Sources.csv(spark, s"$rawDir/products.csv", productsSchema)
      case "web_events" => Sources.jsonLines(spark, s"$rawDir/web_events.json", webEventsSchema)
      case other => throw new IllegalArgumentException(s"unknown domain: $other")
    }

  // ---- Staging projections (stg_<domain>.sql casts) ----

  def stgErpOrders(raw: DataFrame): DataFrame = raw.select(
    col("order_id").cast(IntegerType).as("order_id"),
    col("customer_id"), col("store_id"),
    to_date(col("dt")).as("dt"),
    col("order_value").cast(DecimalType(12, 2)).as("order_value"),
    col("status"))

  def stgCrmLeads(raw: DataFrame): DataFrame = raw.select(
    col("lead_id"), col("name"), col("email"), col("source"), col("status"),
    col("store_id"), to_date(col("dt")).as("dt"))

  def stgProducts(raw: DataFrame): DataFrame = raw.select(
    col("product_id"), col("name"), col("category"),
    col("price").cast(DecimalType(12, 2)).as("price"),
    col("active"), col("store_id"), to_date(col("dt")).as("dt"))

  def stgWebEvents(raw: DataFrame): DataFrame = raw.select(
    col("event_id"), col("visitor_id"), col("store_id"),
    to_date(col("dt")).as("dt"),
    col("page"), col("event_type"), col("metadata"))

  def stage(domain: String, raw: DataFrame): DataFrame = domain match {
    case "erp_orders" => stgErpOrders(raw)
    case "crm_leads"  => stgCrmLeads(raw)
    case "products"   => stgProducts(raw)
    case "web_events" => stgWebEvents(raw)
  }

  // ---- Fact build (fct_daily_store_metrics.sql:6-32) ----

  /** Chained FOJ of three daily aggregates on (store_id, dt). The
    * Seq-key join coalesces keys like SQL USING (fct:24-25); aggregates
    * run BEFORE the join so the shuffle carries |stores|×|days| rows.
    * `incrementalDays` compiles the is_incremental() 7-day branch
    * (fct:34-36). */
  def buildFact(stgOrders: DataFrame, stgLeads: DataFrame, stgWeb: DataFrame,
      incrementalDays: Option[Int] = None): DataFrame = {
    val orders = stgOrders.groupBy("store_id", "dt").agg(
      sum("order_value").as("revenue"),
      count(lit(1)).as("order_count"))
    val leads = stgLeads.groupBy("store_id", "dt").agg(
      count(when(col("status") === "converted", 1)).as("converted_leads"))
    val web = stgWeb.groupBy("store_id", "dt").agg(
      count(lit(1)).as("sessions"))
    val joined = orders
      .join(leads, Seq("store_id", "dt"), "full_outer")
      .join(web, Seq("store_id", "dt"), "full_outer")
      .na.fill(0, Seq("order_count", "converted_leads", "sessions"))
      .withColumn("revenue", coalesce(col("revenue"), lit(0).cast(DecimalType(12, 2))))
    val windowed = incrementalDays match {
      case Some(d) => joined.filter(col("dt") >= date_sub(current_date(), d))
      case None => joined
    }
    windowed.orderBy("store_id", "dt")
  }

  // ---- Sinks (S5 CSV outputs like write_outputs; S9 view publication) ----

  /** CSV sink; complex columns (the web_events metadata map) are
    * JSON-encoded at the boundary, matching how the reference's pandas
    * writer stringifies dicts. */
  def writeCsv(df: DataFrame, path: String,
      options: Map[String, String] = Map.empty): Unit = {
    val flat = df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case _: MapType | _: StructType | _: ArrayType =>
          acc.withColumn(f.name, to_json(col(f.name)))
        case _ => acc
      }
    }
    flat.coalesce(1).write.mode("overwrite").option("header", "true")
      .options(options).csv(path)
  }

  /** Expectation suite the merged fact snapshot must satisfy before a
    * new version becomes visible — the table-format form of the
    * reference's validate-before-publish gate (the dbt `merge` strategy
    * plus model tests, fct_daily_store_metrics.sql:1-5). */
  val factSuite: Suite = Suite("fct_daily_store_metrics",
    columnsOrdered = None,
    checks = Seq(
      NotNull("store_id"), NotNull("dt"),
      MinBound("revenue", 0.0), MinBound("order_count", 0.0)))

  /** The fact's lineage inputs: the three staging views it aggregates
    * (unversioned — staging is a projection over raw feeds, not a
    * TableLog table). Recorded on every fact merge commit so "which
    * feeds produced this mart version" resolves from the log — the
    * OpenLineage input-dataset edges the reference's backend captures
    * per dbt run (`terraform/main.tf:104-107`). */
  val factInputs: Seq[graft.lake.TableLog.InputRef] =
    Seq("stg_erp_orders", "stg_crm_leads", "stg_web_events")
      .map(graft.lake.TableLog.InputRef(_, None))

  /** Publish the fact through an ATOMIC validated MERGE commit on a
    * [[graft.lake.TableLog]] table keyed on (store_id, dt) — the
    * reference's `unique_key=['store_id','dt']` incremental merge with
    * snapshot semantics: readers of the prior version are never exposed
    * to a half-written merge (dynamic partition overwrite commits
    * partition-by-partition; the log commit is all-or-nothing at the
    * manifest publish). The merged snapshot is computed and written
    * once, and [[factSuite]] is checked on the written files before the
    * manifest publish: a failed expectation removes them and leaves the
    * table at its prior version. */
  def publishFactToLake(spark: SparkSession, fact: DataFrame,
      lakePath: String): graft.lake.TableLog.Commit =
    graft.lake.TableLog.commitMerge(spark, lakePath, fact,
      Seq("store_id", "dt"), factInputs, Some(factSuite))

  /** The fact's table name under a lake root, the catalog's, and the
    * lineage edge table's. */
  val FactTable = "fct_daily_store_metrics"
  val CatalogTable = "_catalog"
  val LineageTable = "_lineage"

  /** Full run over a raw directory: per-domain ingest → validate (fail
    * fast, local_runner.py:76-102; all four suites in ONE Spark action,
    * one error naming every failing domain) → stage → publish temp
    * views; then the cross-domain fact. `lakeDir` (a lake ROOT)
    * additionally merges the fact into `<lakeDir>/fct_daily_store_metrics`
    * with snapshot semantics ([[publishFactToLake]]: the fact suite is
    * checked on the written files before the manifest publish) and
    * republishes `<lakeDir>/_catalog` — the docs/catalog artifact of the
    * reference's publish stage (airflow dag runs `dbt docs generate`
    * after the build). Returns the fact.
    *
    * Every TableLog commit the run makes (fact merge, catalog,
    * lineage) is stamped with one `runId` — the OpenLineage run-event
    * analog (the reference's transport groups dataset events under a
    * run id per DAG invocation, `terraform/main.tf:104-107`), so
    * "everything pipeline run X wrote" is answerable from the
    * manifests alone ([[graft.lake.Catalog.commitsOfRun]]). Callers
    * pass their orchestrator's id; the default mints a fresh UUID. */
  def run(spark: SparkSession, rawDir: String,
      outDir: Option[String] = None,
      incrementalDays: Option[Int] = None,
      lakeDir: Option[String] = None,
      runId: Option[String] = None): DataFrame =
    graft.lake.TableLog.withRunId(
      runId.getOrElse(java.util.UUID.randomUUID().toString)) {
    val raw = Seq("erp_orders", "crm_leads", "products", "web_events")
      .map(d => d -> ingest(spark, rawDir, d))
    Expectations.validateAllOrThrow(raw.map { case (d, r) => r -> suites(d) })
    val staged = raw.map { case (d, r) =>
      val s = stage(d, r)
      s.createOrReplaceTempView(s"stg_$d")   // S9: view publication
      d -> s
    }.toMap
    val fact = buildFact(
      staged("erp_orders"), staged("crm_leads"), staged("web_events"),
      incrementalDays)
    outDir.foreach { dir =>
      staged.foreach { case (d, s) => writeCsv(s, s"$dir/stg_$d") }
      writeCsv(fact, s"$dir/$FactTable")
    }
    lakeDir.foreach { root =>
      publishFactToLake(spark, fact, s"$root/$FactTable")
      graft.lake.Catalog.publish(spark,
        Map(FactTable -> s"$root/$FactTable"), s"$root/$CatalogTable",
        lineagePath = Some(s"$root/$LineageTable"))
    }
    fact
  }
}
