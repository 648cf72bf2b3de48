package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming surface.
  *
  * The reference has no true streaming — ingestion is a 6-hourly cron
  * with a 7-day late-data re-merge window (reference
  * `airflow/dags/lakehouse_pipelines.py:105`,
  * `dbt/models/marts/fct_daily_store_metrics.sql:34-36`). The idiomatic
  * Spark upgrade is a watermarked windowed aggregation: the watermark IS
  * the reference's bounded-lateness contract, expressed to the engine.
  *
  * Output-mode contract (this matters for state growth):
  *   - `append` is the PRODUCTION shape: the watermark finalizes windows,
  *     finalized windows are emitted once and their state is dropped —
  *     state is bounded by (lateness horizon × key cardinality) on an
  *     unbounded stream. [[StreamsSpec]] asserts the bound.
  *   - `complete` retains every window for the life of the query (the
  *     watermark does NOT evict state in complete mode). It is used ONLY
  *     for the bounded AvailableNow oracle runs, where re-emitting all
  *     windows is exactly what the batch-equivalence check needs.
  *
  * State-store sizing: each stateful operator keeps one state store per
  * shuffle partition, and every micro-batch pays a per-store commit.
  * For the verification backlog (≤600k rows) 32 stores are pure
  * overhead, so streaming queries run at [[StreamShufflePartitions]];
  * on a real cluster size this to key cardinality × executor count.
  */
object Streams {

  // shared by every memory-sink name in this package: monotonic, so
  // two runs in one JVM can never collide (identityHashCode can — two
  // Dataset instances may share a hash after GC)
  private[streaming] val counter =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Shuffle-partition count for the local verification/bench runs.
    * Every stateful operator keeps one state store (and pays one
    * commit) per shuffle partition per micro-batch, so this should
    * track STATE VOLUME, not core count. 4 is right for the ≤600k-row
    * local verification backlog; a production deployment sizes it via
    * `graft.stream.statePartitions` on the parent session (e.g. keys ×
    * executors / target-keys-per-store). NOTE: the partition count is
    * baked into a stream's checkpoint at first start — change it only
    * for fresh checkpoints (all queries here use fresh per-run
    * checkpoints, which is why the conf is safe to honor). */
  val StreamShufflePartitions = 4

  /** Fork a session for one streaming run: `newSession()` shares the
    * SparkContext (same executors, same cached data) but owns its OWN
    * SQL conf, so the stream's shuffle-partition setting never leaks
    * into — or races with — concurrent batch work on the parent
    * session (mutating the shared conf around `start()` would, under
    * the concurrent-domain orchestration this engine runs). */
  private[streaming] def streamSession(spark: SparkSession): SparkSession = {
    val ss = spark.newSession()
    val n = spark.conf.getOption("graft.stream.statePartitions").map { v =>
      v.trim.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"graft.stream.statePartitions must be an integer, got '$v'"))
    }.getOrElse(StreamShufflePartitions)
    require(n >= 1, s"graft.stream.statePartitions must be >= 1, got $n")
    ss.conf.set("spark.sql.shuffle.partitions", n.toString)
    ss
  }

  /** File-source stream over parquet files matching `glob`: one
    * schema-inference batch read, then a schema-pinned readStream —
    * the shared recipe behind every ingest loop in this package
    * ([[eventStream]] layers the nanos-ts repair on top). Kept in ONE
    * place so a reader fix (like that repair) lands everywhere. */
  private[streaming] def parquetStream(spark: SparkSession, dir: String,
      glob: String, maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = spark.read.option("pathGlobFilter", glob).parquet(dir).schema
    val reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(dir)
  }

  /** File-source stream over the single events parquet file (or a
    * directory of them), with the ts-encoding repair shared with the
    * batch path ([[graft.io.Sources.repairEventTs]]): nanos-as-long →
    * rebuild, TIMESTAMP_NTZ → cast LTZ (watermarks reject NTZ with
    * EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), plain TIMESTAMP → as-is. */
  def eventStream(spark: SparkSession, dir: String,
      glob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.io.Sources.repairEventTs(
      parquetStream(spark, dir, glob, maxFilesPerTrigger))
  }

  /** Logical plan: tumbling 1-day windows over the event stream — per
    * (day, event_type) counts and value sums, watermark mirroring the
    * reference's late-data horizon. Mode-agnostic; pair with `append`
    * in production, `complete` for the bounded oracle run. */
  def dailyEventAgg(stream: DataFrame, watermark: String = "7 days"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("total_value"))
      .select(
        to_date(col("w.start")).as("dt"),
        col("event_type"),
        col("n_events"),
        col("total_value"))

  /** Logical plan: streaming exact dedup keyed on event_id, state
    * bounded by the watermark. Emits the deduplicated events themselves —
    * the append-compatible production form of the training-data
    * pipeline's exact dedup.
    *
    * Uses `dropDuplicatesWithinWatermark`, NOT plain
    * `dropDuplicates(id)`: with a guid-only key the classic operator
    * never evicts state (the watermark only bounds event-time keys), so
    * its state grows with the full id history. The within-watermark
    * variant expires each id once the watermark passes its first-seen
    * time + delay — the contract "duplicates arrive within the lateness
    * horizon" the reference's 7-day re-merge window already assumes. */
  def dedupedEvents(stream: DataFrame, watermark: String = "7 days"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Run a (bounded) streaming plan to completion into a memory sink
    * and return the sink table. AvailableNow executes the same
    * incremental state machine a continuous trigger would. The plan is
    * built by `build` against a forked session whose conf carries the
    * streaming shuffle-partition setting — isolated from the caller's. */
  def runToTable(spark: SparkSession, outputMode: String)(
      build: SparkSession => DataFrame): DataFrame = {
    val ss = streamSession(spark)
    val sinkName = s"graft_stream_${counter.incrementAndGet()}"
    val q = build(ss).writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(sinkName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ss.table(sinkName)
  }

  /** Oracle path for q13: complete-mode run of [[dailyEventAgg]] over
    * the bounded backlog (complete so that windows the watermark has not
    * passed — the newest 7 days — are still emitted, matching the batch
    * oracle exactly). */
  def dailyEventMetrics(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, "complete")(ss => dailyEventAgg(eventStream(ss, dir)))
      .orderBy("dt", "event_type")

  /** PRODUCTION-shape run of [[dailyEventAgg]]: append mode, so only
    * watermark-finalized windows emit and their state drops. Over a
    * bounded backlog the emitted set is deterministic — exactly the
    * windows whose end ≤ max(ts) − 7 days — which makes the append path
    * itself batch-oracleable (q50), not just the complete-mode variant. */
  def dailyEventMetricsAppend(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, "append")(ss => dailyEventAgg(eventStream(ss, dir)))
      .orderBy("dt", "event_type")

  /** Oracle path for q40: [[dedupedEvents]] rolled up per type so the
    * batch oracle is order-insensitive. The rollup is an unwindowed
    * aggregation, hence complete mode here; the production dedup shape
    * is [[dedupedEvents]] in append mode (asserted in StreamsSpec). */
  def dedupedEventCounts(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, "complete")(ss =>
      dedupedEvents(eventStream(ss, dir))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_unique_events")))
      .orderBy("event_type")

  /** Logical plan: streaming SESSION windows — gap-based windows that
    * merge as events arrive (the streaming counterpart of batch q51).
    * Session windows are variable-length and merge retroactively, so
    * they are only available on an aggregation with a watermark; a
    * session finalizes once the watermark passes its end (last event +
    * gap), at which point it emits and its state drops. State is
    * bounded by (open sessions × key cardinality), NOT stream length —
    * the property that makes gap sessionization viable on an unbounded
    * 100 TB/day stream. */
  def sessionWindowAgg(stream: DataFrame, gap: String = "30 minutes",
      watermark: String = "7 days"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("total_value"))
      .select(col("user_id"),
        col("w.start").as("session_start"),
        col("w.end").as("session_end"),
        col("n_events"), col("total_value"))

  /** Oracle path for q73: append-mode (production-shape) bounded run of
    * [[sessionWindowAgg]] — emits exactly the sessions the final
    * watermark (max ts − 7 days) finalized, which the batch islands
    * oracle reproduces with a session_end cutoff. */
  def userSessionsAppend(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, "append")(ss => sessionWindowAgg(eventStream(ss, dir)))
      .orderBy("user_id", "session_start")

  /** Logical plan: stream-static enrichment join + windowed rollup.
    * The static dim is broadcast — a stream-static equi-join never
    * shuffles the stream side and re-plans the dim per micro-batch, so
    * at 100 TB/day of events the join cost is one in-memory hash probe
    * per event. Watermark + tumbling window as in [[dailyEventAgg]]. */
  def enrichedDailyAgg(stream: DataFrame, dim: DataFrame,
      watermark: String = "7 days"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .join(broadcast(dim), Seq("user_id"))
      .groupBy(window(col("ts"), "1 day").as("w"), col("segment"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("total_value"))
      .select(
        to_date(col("w.start")).as("dt"),
        col("segment"),
        col("n_events"),
        col("total_value"))

  /** Oracle path for q56: complete-mode bounded run of the
    * stream-static join, events enriched with the customer market
    * segment. Batch-equivalent to a plain join + group-by, which is the
    * DuckDB oracle. */
  def dailySegmentMetrics(spark: SparkSession, dir: String): DataFrame = {
    runToTable(spark, "complete") { ss =>
      val dim = graft.io.Sources.table(ss, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
      enrichedDailyAgg(eventStream(ss, dir), dim)
    }.orderBy("dt", "segment")
  }

  /** Logical plan: stream-STREAM interval join — purchases attributed
    * to a prior click by the same user within `horizon`. Both sides
    * carry a watermark and the join condition bounds event-time
    * distance, which is exactly what lets Spark evict join state: a
    * click older than (watermark − horizon) can never match a future
    * purchase, so its state drops. Without the time-range bound a
    * stream-stream join must buffer both streams forever. Inner joins
    * emit on match (not on watermark), so a bounded AvailableNow run
    * produces the complete batch-equivalent answer — the q63 oracle. */
  def clickAttribution(stream: DataFrame, horizon: String = "1 hour",
      clickType: String = "click", purchaseType: String = "purchase"): DataFrame = {
    val clicks = stream.filter(col("event_type") === clickType)
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", horizon)
    val purchases = stream.filter(col("event_type") === purchaseType)
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", horizon)
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $horizon"))
      .select(col("click_id"), col("purchase_id"), col("user_id"))
  }

  /** Oracle path for q63: bounded append-mode run of the stream-stream
    * attribution join. */
  def clickAttributionRun(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, "append")(ss => clickAttribution(eventStream(ss, dir)))
      .orderBy("click_id", "purchase_id")

  /** Streaming MERGE sink: each micro-batch upserts into the
    * partitioned curated layer through [[graft.lake.MergeWriter]] —
    * the streaming form of the reference's 6-hourly incremental merge,
    * collapsed from cron + dbt into one continuous query.
    *
    * `foreachBatch` is the idiomatic bridge from a stream to a
    * non-transactional batch sink: the batch DataFrame is bounded, so
    * the anti-join merge applies unchanged, and dynamic partition
    * overwrite keeps each commit scoped to the partitions that batch
    * touched. Re-delivered rows (at-least-once upstream) collapse
    * because merge keys ⊇ (dt, event_id) — the sink is idempotent per
    * key, which upgrades at-least-once delivery to effectively-once
    * results (asserted in StreamsSpec by replaying the whole stream
    * into the same target).
    *
    * State note: this pipeline is stateless (no agg before the sink),
    * so there is no state store at all — the watermark work happens in
    * the MERGE's bounded re-read of touched partitions, exactly the
    * reference's late-data contract. */
  def mergeEventsToLake(spark: SparkSession, sourceDir: String,
      targetPath: String, checkpointDir: String,
      glob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None): Unit = {
    val ss = streamSession(spark)
    val stream = eventStream(ss, sourceDir, glob, maxFilesPerTrigger)
      .withColumn("dt", to_date(col("ts")))
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // MERGE requires key-unique updates: duplicates WITHIN one batch
        // (at-least-once upstream can re-deliver inside a trigger too)
        // must collapse before the upsert, not just across batches.
        graft.lake.MergeWriter.mergeWrite(
          batch.sparkSession, targetPath,
          batch.dropDuplicates("dt", "event_id"),
          keys = Seq("dt", "event_id"), partitionCols = Seq("dt"))
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** [[mergeEventsToLake]] with a versioned TABLE-LOG target: each
    * micro-batch is a `commitMerge`, so ingestion history is queryable
    * (one version per batch), concurrent readers get snapshot
    * isolation while the stream runs, and a bad batch rolls back by
    * appending a manifest instead of restoring files. The same
    * key-dedup makes replays converge to identical rows — they just
    * add no-op merge versions. */
  def mergeEventsToVersionedLake(spark: SparkSession, sourceDir: String,
      tablePath: String, checkpointDir: String,
      glob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None): Unit = {
    val ss = streamSession(spark)
    val stream = eventStream(ss, sourceDir, glob, maxFilesPerTrigger)
      .withColumn("dt", to_date(col("ts")))
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.lake.TableLog.commitMerge(
          batch.sparkSession, tablePath,
          batch.dropDuplicates("dt", "event_id"),
          keys = Seq("dt", "event_id"))
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
