package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Watermarked stream–stream interval join — the §2.8 operator the
  * tier was missing next to stream-static enrichment (q56): attribute
  * each purchase to the SAME user's most recent preceding view within
  * an attribution window, with both sides arriving as streams. State
  * is bounded by the watermarks + the interval condition (Spark drops
  * a buffered view once no future purchase can match it), so the join
  * runs forever at constant memory per key-time slice — the
  * production shape for impression→conversion pipelines.
  *
  * Stream ≡ batch: with AvailableNow over a bounded source, every
  * in-window pair is emitted exactly once (the watermark only bounds
  * STATE; no row is late on a single replay), so a plain SQL range
  * join is the oracle, verbatim.
  */
object StreamJoin {

  /** Join purchases to preceding views by the same user within
    * `windowMinutes`, both sides streamed from the events parquet.
    * Emits one row per qualifying (view, purchase) pair:
    * `(user_id, view_id, purchase_id, view_ts, purchase_ts,
    * lag_seconds, value)` — dedup-to-latest-view is a one-window
    * epilogue the caller can add; the pair set is the join's own
    * contract. Ordered by (purchase_id, view_id). */
  def viewPurchasePairs(spark: SparkSession, sourceDir: String,
      glob: String = "events.parquet", windowMinutes: Int = 30,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    Streams.runToTable(spark, "append") { ss =>
      def side(tpe: String, idAs: String, tsAs: String) =
        Streams.eventStream(ss, sourceDir, glob, maxFilesPerTrigger)
          .where(col("event_type") === tpe)
          .select(col("user_id"), col("event_id").as(idAs),
            col("ts").as(tsAs),
            (if (tpe == "purchase") col("value") else lit(null))
              .as(s"__v_$tpe"))
          .withWatermark(tsAs, "1 hour")
      val views = side("view", "view_id", "view_ts")
        .drop("__v_view")
      val purchases = side("purchase", "purchase_id", "purchase_ts")
        .withColumnRenamed("__v_purchase", "value")
      views.as("v").join(purchases.as("p"),
        expr(s"""v.user_id = p.user_id AND
          p.purchase_ts >= v.view_ts AND
          p.purchase_ts <= v.view_ts + INTERVAL $windowMinutes MINUTES"""))
        .select(col("v.user_id").as("user_id"), col("view_id"),
          col("purchase_id"), col("view_ts"), col("purchase_ts"),
          (unix_timestamp(col("purchase_ts")) -
            unix_timestamp(col("view_ts"))).as("lag_seconds"),
          round(col("value"), 2).as("value"))
    }.orderBy("purchase_id", "view_id")

  /** DuckDB oracle for [[viewPurchasePairs]] at 30 minutes. */
  val viewPurchasePairsOracleSql: String =
    """SELECT v.user_id AS user_id,
      |  v.event_id AS view_id, p.event_id AS purchase_id,
      |  v.ts AS view_ts, p.ts AS purchase_ts,
      |  date_diff('second', v.ts, p.ts) AS lag_seconds,
      |  ROUND(p.value, 2) AS value
      |FROM (SELECT * FROM events WHERE event_type = 'view') v
      |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON v.user_id = p.user_id
      |  AND p.ts >= v.ts
      |  AND p.ts <= v.ts + INTERVAL 30 MINUTE
      |ORDER BY purchase_id, view_id""".stripMargin
}
