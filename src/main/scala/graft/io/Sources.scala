package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Multi-format ingestion with explicit schemas.
  *
  * Mirrors the reference's ingestion surface (reference
  * `local_runner.py:47-53`: suffix-dispatched CSV / JSON-lines load;
  * `terraform/main.tf:33-41`: Glue-catalogued raw tables) re-expressed as
  * schema-explicit `spark.read` calls so Catalyst gets a fixed schema and
  * the vectorized readers do the work. At 100 TB the parquet path is the
  * hot one: column pruning + predicate pushdown happen automatically as
  * long as callers keep projections/filters in the DataFrame plan.
  */
object Sources {

  /** Tables the driver testdata provides (`/root/testdata/sfN/<t>.parquet`). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet scan of one testdata table (S3 in SURVEY §2.1).
    *
    * `events.ts` has shipped in three physical encodings across driver
    * data generations, so the repair branches on the OBSERVED read
    * schema rather than assuming one:
    *   - TIMESTAMP(NANOS): Spark's vectorized reader rejects it, so we
    *     read nanos as a raw long (`nanosAsLong` legacy conf) and
    *     rebuild with integer division — NOT `/ 1000` (double division
    *     would lose precision at 1e18-nanosecond epoch magnitudes);
    *   - timestamp[us] without UTC adjustment → TIMESTAMP_NTZ: cast to
    *     the session-local TIMESTAMP. The session TZ is pinned UTC
    *     (build.sbt), so the cast is value-preserving and keeps hash
    *     parity with DuckDB, which reads the same file natively.
    *     Downstream watermarks also require LTZ
    *     (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on NTZ);
    *   - plain TIMESTAMP: pass through. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      repairEventTs(spark.read.parquet(s"$dir/$name.parquet"))
    } else {
      spark.read.parquet(s"$dir/$name.parquet")
    }
  }

  /** The ts-encoding repair, shared by the batch scan above and the
    * streaming reader ([[graft.streaming.Streams.eventStream]]) so a
    * future encoding change lands in exactly one place. */
  def repairEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Expected Spark-side driver-table schemas AFTER [[table]]'s repairs,
    * name → normalized type. Timestamp flavors normalize together
    * (LTZ/NTZ are value-identical under the pinned-UTC session and both
    * handled by [[repairEventTs]]); any other retype, or a dropped/added
    * column, is real drift worth a warning. */
  private val expectedDriverSchemas: Map[String, Seq[(String, String)]] = Map(
    "region" -> Seq("r_regionkey" -> "int", "r_name" -> "string"),
    "nation" -> Seq("n_nationkey" -> "int", "n_name" -> "string",
      "n_regionkey" -> "int"),
    "customer" -> Seq("c_custkey" -> "bigint", "c_name" -> "string",
      "c_nationkey" -> "int", "c_acctbal" -> "double",
      "c_mktsegment" -> "string"),
    "supplier" -> Seq("s_suppkey" -> "bigint", "s_name" -> "string",
      "s_nationkey" -> "int", "s_acctbal" -> "double"),
    "part" -> Seq("p_partkey" -> "bigint", "p_name" -> "string",
      "p_brand" -> "string", "p_type" -> "string", "p_size" -> "int",
      "p_retailprice" -> "double"),
    "orders" -> Seq("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
      "o_orderstatus" -> "string", "o_totalprice" -> "double",
      "o_orderdate" -> "timestamp", "o_orderpriority" -> "string"),
    "lineitem" -> Seq("l_orderkey" -> "bigint", "l_partkey" -> "bigint",
      "l_suppkey" -> "bigint", "l_linenumber" -> "int",
      "l_quantity" -> "double", "l_extendedprice" -> "double",
      "l_discount" -> "double", "l_tax" -> "double",
      "l_returnflag" -> "string", "l_linestatus" -> "string",
      "l_shipdate" -> "timestamp"),
    "events" -> Seq("event_id" -> "bigint", "ts" -> "timestamp",
      "user_id" -> "bigint", "event_type" -> "string",
      "value" -> "double", "props" -> "string"),
    "documents" -> Seq("doc_id" -> "bigint", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "bigint"),
    "embeddings" -> Seq("vec_id" -> "bigint",
      "embedding" -> "array<float>", "label" -> "int"))

  private def normalizeType(dt: org.apache.spark.sql.types.DataType): String =
    dt.simpleString match {
      case "timestamp_ntz" => "timestamp"
      case s => s
    }

  /** Tripwire for driver-data regeneration: read every base table
    * through [[table]] and diff the post-repair schema against the
    * pinned expectation. Returns one human-readable line per drift (or
    * per unreadable table — a read that throws IS drift); empty = all
    * clear. Wired into the Verify and Bench mains so an environmental
    * schema change is a one-line diagnosis at round start, not a
    * silently smaller correctness artifact (the round-8 failure mode). */
  def driverSchemaCheck(spark: SparkSession, dir: String): Seq[String] =
    expectedDriverSchemas.toSeq.sortBy(_._1).flatMap { case (t, exp) =>
      try {
        val obs = table(spark, dir, t).schema.fields
          .map(f => f.name -> normalizeType(f.dataType)).toSeq
        if (obs == exp) Nil
        else {
          val pinned = StructType(exp.map { case (n, _) =>
            org.apache.spark.sql.types.StructField(n,
              org.apache.spark.sql.types.StringType) })
          // reuse schemaDrift's add/drop report; retypes need the
          // normalized comparison, so handle those here
          val eMap = exp.toMap
          val oMap = obs.toMap
          val addDrop = schemaDrift(pinned,
            StructType(obs.map { case (n, _) =>
              org.apache.spark.sql.types.StructField(n,
                org.apache.spark.sql.types.StringType) }))
            .filterNot(_.startsWith("retyped"))
          val retyped = exp.collect {
            case (n, et) if oMap.get(n).exists(_ != et) =>
              s"retyped: $n $et -> ${oMap(n)}" }
          val reordered =
            if (addDrop.isEmpty && retyped.isEmpty && eMap == oMap)
              Seq("columns reordered") else Nil
          (addDrop ++ retyped ++ reordered).map(d => s"$t: $d")
        }
      } catch { case e: Throwable =>
        Seq(s"$t: unreadable (${e.getClass.getSimpleName}: " +
          s"${String.valueOf(e.getMessage).take(160)})")
      }
    }

  /** Header CSV scan with enforced schema (S1; reference
    * `local_runner.py:52`). `mode=FAILFAST` makes malformed rows loud,
    * matching the reference's fail-on-violation posture. */
  def csv(spark: SparkSession, path: String, schema: StructType,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "FAILFAST")
      .options(options)
      .schema(schema)
      .csv(path)

  /** JSON-lines scan (S2; reference `local_runner.py:49-51`). Line-
    * delimited is Spark's default JSON format, and an explicit schema
    * avoids the extra schema-inference pass over the data. */
  def jsonLines(spark: SparkSession, path: String, schema: StructType,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.read.options(options).schema(schema).json(path)

  /** Permissive CSV scan with a dead-letter column: rows that fail the
    * schema land in `_corrupt_record` (raw line preserved) instead of
    * failing the job — the DLQ ingestion pattern for feeds where one
    * malformed row must not block the batch. Callers split on
    * `_corrupt_record IS NULL`: clean rows proceed, corrupt raw lines
    * are quarantined for replay. ([[csv]] stays FAILFAST — the
    * validate-gate default; this is the explicit opt-in.)
    *
    * Caveat from Spark's CSV parser: only REFERENCED columns are
    * parsed, so a plan that filters on `_corrupt_record` while
    * projecting other columns may never parse the failing field and
    * misclassify the row. Persist (or write out) the frame before
    * splitting clean/DLQ — the pattern Spark's own docs prescribe. */
  def csvPermissive(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    val withDlq = org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField(
        "_corrupt_record", org.apache.spark.sql.types.StringType))
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withDlq)
      .csv(path)
  }

  /** First-contact CSV ingest: ONE schema-inference pass over the data,
    * then the frame is re-read under the now-PINNED StructType — the
    * Glue-crawler / pandas entry path of the reference
    * (`terraform/main.tf:33-41` crawls raw buckets to infer table
    * schemas; `local_runner.py:49-52` lets pandas infer CSV types).
    * Returns the pinned schema alongside the frame so the caller can
    * persist it and ingest every subsequent batch schema-explicit
    * (via [[csv]]) with [[schemaDrift]] as the evolution tripwire —
    * inference runs once at first contact, never per batch. */
  def inferCsv(spark: SparkSession, path: String): (StructType, DataFrame) = {
    val pinned = spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .csv(path)
      .schema
    (pinned, csv(spark, path, pinned))
  }

  /** First-contact JSON-lines ingest; same one-pass-then-pin contract
    * as [[inferCsv]]. Spark's JSON inference maps heterogeneous nested
    * objects to a sparse struct; callers wanting the map form (the
    * web_events `metadata` shape) declare it explicitly afterwards. */
  def inferJson(spark: SparkSession, path: String): (StructType, DataFrame) = {
    val pinned = spark.read.json(path).schema
    (pinned, jsonLines(spark, path, pinned))
  }

  /** Drift report of an observed schema against the pinned one: columns
    * the new batch dropped, added, or retyped. Empty = no drift. The
    * first-contact crawler pins; every later batch is checked — the
    * lakehouse answer to silent upstream schema changes. */
  def schemaDrift(pinned: StructType, observed: StructType): Seq[String] = {
    val p = pinned.fields.map(f => f.name -> f.dataType).toMap
    val o = observed.fields.map(f => f.name -> f.dataType).toMap
    val missing = pinned.fields.collect {
      case f if !o.contains(f.name) => s"missing: ${f.name}" }
    val added = observed.fields.collect {
      case f if !p.contains(f.name) => s"added: ${f.name}" }
    val retyped = pinned.fields.collect {
      case f if o.get(f.name).exists(_ != f.dataType) =>
        s"retyped: ${f.name} ${f.dataType.simpleString} -> ${o(f.name).simpleString}" }
    (missing ++ added ++ retyped).toSeq
  }

  /** ORC scan — the other columnar format large lakehouses ingest
    * alongside parquet (built into Spark; same pushdown/pruning
    * machinery: filters and column selection reach the ORC reader). */
  def orc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** XML scan (built into Spark since 4.0) — `rowTag` names the element
    * that becomes one row; attributes surface as `_attr` columns. Same
    * schema-explicit posture as the other sources: no inference pass. */
  def xml(spark: SparkSession, path: String, rowTag: String,
      schema: StructType): DataFrame =
    spark.read
      .option("rowTag", rowTag)
      .schema(schema)
      .xml(path)

  /** Raw text-corpus scan: one row per line plus the originating file —
    * how an LLM training corpus of loose .txt shards actually enters a
    * pipeline before any schema exists. Partitioned by file/size like
    * any file scan; pair with `pathGlobFilter` to select shards. */
  def textLines(spark: SparkSession, path: String,
      glob: String = "*"): DataFrame =
    spark.read
      .option("pathGlobFilter", glob)
      .text(path)
      .select(
        org.apache.spark.sql.functions.input_file_name().as("src_file"),
        org.apache.spark.sql.functions.col("value").as("line"))
}
