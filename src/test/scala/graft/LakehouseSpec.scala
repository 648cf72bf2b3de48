package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import graft.pipeline.Lakehouse

/** Reference-parity golden test: the 17-row sample fixtures (recreated
  * as literals per FIXTURES.md §A — not read from the reference repo)
  * through ingest → validate → stage → fact, asserting the
  * hand-computed fct_daily_store_metrics rows. */
class LakehouseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val rawDir: String =
    graft.pipeline.SampleData.writeTo(
      Files.createTempDirectory("graft_samples").toString)

  test("golden: full pipeline reproduces fct_daily_store_metrics") {
    val outDir = Files.createTempDirectory("graft_out").toString
    val fact = Lakehouse.run(spark, rawDir, Some(outDir))
    val got = fact.collect().map(r => (
      r.getString(0), r.getDate(1).toString,
      r.getDecimal(2).doubleValue(), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(
      ("store_01", "2024-06-01", 339.49, 2L, 0L, 2L),
      ("store_01", "2024-06-03", 0.00, 0L, 1L, 0L),
      ("store_02", "2024-06-02", 120.00, 1L, 0L, 1L),
      ("store_02", "2024-06-03", 45.90, 1L, 0L, 0L),
      ("store_03", "2024-06-03", 560.10, 1L, 0L, 1L)))
    // CSV sinks written (S5)
    assert(Files.list(Paths.get(outDir)).count() == 5)
    // staging views published (S9)
    assert(spark.table("stg_erp_orders").count() == 5)
  }

  test("metadata survives as a map with heterogeneous keys") {
    val web = Lakehouse.stage("web_events",
      Lakehouse.ingest(spark, rawDir, "web_events"))
    val m = web.orderBy("event_id").collect()
      .map(r => r.getAs[Map[String, String]]("metadata"))
    assert(m(0) == Map("utm_source" -> "newsletter"))
    assert(m(1) == Map("cta" -> "add_to_cart"))
    assert(m(3) == Map.empty[String, String])
  }

  test("validation gate aborts the pipeline on a violated suite") {
    val badDir = Files.createTempDirectory("graft_bad").toString
    // copy 3 good files, corrupt the email column in crm_leads
    Files.writeString(Paths.get(badDir, "erp_orders.csv"),
      Files.readString(Paths.get(rawDir, "erp_orders.csv")))
    Files.writeString(Paths.get(badDir, "products.csv"),
      Files.readString(Paths.get(rawDir, "products.csv")))
    Files.writeString(Paths.get(badDir, "web_events.json"),
      Files.readString(Paths.get(rawDir, "web_events.json")))
    Files.writeString(Paths.get(badDir, "crm_leads.csv"),
      """lead_id,name,email,source,status,store_id,dt
        |L001,Alice Smith,not-an-email,web,contacted,store_01,2024-06-01
        |""".stripMargin)
    val e = intercept[IllegalStateException] {
      Lakehouse.run(spark, badDir)
    }
    assert(e.getMessage.contains("crm_leads"))
  }

  test("a bad raw feed refuses the whole run and leaves the lake fact at its prior version") {
    import graft.lake.TableLog
    val root = Files.createTempDirectory("graft_lake_bad").toString
    val lake = s"$root/${Lakehouse.FactTable}"
    Lakehouse.run(spark, rawDir, lakeDir = Some(root))
    assert(TableLog.latestVersion(spark, lake) == Some(1))
    val dataDirs = Files.list(Paths.get(lake, "data")).count()
    val badDir = graft.pipeline.SampleData.writeTo(
      Files.createTempDirectory("graft_bad_web").toString)
    Files.writeString(Paths.get(badDir, "web_events.json"),
      graft.pipeline.SampleData.webEventsJson +
        """{"event_id":null,"visitor_id":"V400","store_id":"store_01","dt":"2024-06-04","page":"/home","event_type":"page_view","metadata":{}}""" + "\n")
    val e = intercept[IllegalStateException] {
      Lakehouse.run(spark, badDir, lakeDir = Some(root))
    }
    assert(e.getMessage.contains("web_events"))
    assert(e.getMessage.contains("event_id_not_null=1"))
    assert(TableLog.latestVersion(spark, lake) == Some(1))
    assert(Files.list(Paths.get(lake, "data")).count() == dataDirs)
    assert(TableLog.read(spark, lake).count() == 5)
  }

  test("incremental window filters the fact to the last N days") {
    // fixture dates are 2024-06; a 7-day window from today must be empty
    val fact = Lakehouse.run(spark, rawDir, incrementalDays = Some(7))
    assert(fact.count() == 0)
  }

  test("lake publication: atomic validated merge with snapshot isolation") {
    import org.apache.spark.sql.functions._
    import graft.lake.TableLog
    val root = Files.createTempDirectory("graft_lake").toString
    val lake = s"$root/${Lakehouse.FactTable}"
    // v1: bootstrap from the full pipeline
    Lakehouse.run(spark, rawDir, lakeDir = Some(root))
    assert(TableLog.latestVersion(spark, lake) == Some(1))
    // the publish stage also materialized the docs catalog
    val cat = TableLog.read(spark, s"$root/${Lakehouse.CatalogTable}")
    val catRow = cat.collect()(0)
    assert(catRow.getString(0) == Lakehouse.FactTable)
    assert(catRow.getLong(4) == 5L)   // row_count from manifest stats
    val v1Rows = TableLog.read(spark, lake, Some(1)).count()
    assert(v1Rows == 5)
    // a reader pinned to v1 BEFORE the next merge commits...
    val pinnedV1 = TableLog.read(spark, lake, Some(1))
    // v2: merge an update for one key + a brand-new key
    val updates = TableLog.read(spark, lake)
      .filter(col("store_id") === "store_02" && col("dt") === lit("2024-06-02").cast("date"))
      .withColumn("revenue", lit(999.99).cast("decimal(12,2)"))
      .unionByName(TableLog.read(spark, lake).limit(1)
        .withColumn("store_id", lit("store_99")))
    Lakehouse.publishFactToLake(spark, updates, lake)
    assert(TableLog.latestVersion(spark, lake) == Some(2))
    // ...still sees the pre-merge snapshot (old files retained)
    assert(pinnedV1.count() == 5)
    assert(pinnedV1.filter(col("revenue") === 999.99).count() == 0)
    // the new snapshot has the upserted value and the new key
    val v2 = TableLog.read(spark, lake)
    assert(v2.count() == 6)
    assert(v2.filter(col("store_id") === "store_02" &&
      col("dt") === lit("2024-06-02").cast("date"))
      .select("revenue").collect()(0).getDecimal(0).doubleValue() == 999.99)
    // a merge violating the fact suite is rejected and the table
    // stays at its prior version, with no new data directory —
    // checked on the written files, before the manifest publish
    val dataDirs = Files.list(Paths.get(lake, "data")).count()
    val bad = TableLog.read(spark, lake).limit(1)
      .withColumn("revenue", lit(-5.0).cast("decimal(12,2)"))
    intercept[IllegalStateException] {
      Lakehouse.publishFactToLake(spark, bad, lake)
    }
    assert(TableLog.latestVersion(spark, lake) == Some(2))
    assert(Files.list(Paths.get(lake, "data")).count() == dataDirs)
  }
}
