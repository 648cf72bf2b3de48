package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.util.PrefixSum

/** Sequence packing audit — what happens to documents when the corpus
  * is concatenated and chunked into fixed-length training sequences
  * (the GPT-style pretraining layout: every sequence is exactly
  * `seqLen` tokens, documents flow across sequence boundaries; Brown
  * et al. 2020 §2.2 describe exactly this packing). The question a
  * curation team asks of that layout is: how many documents get SPLIT
  * across a boundary (their attention context is truncated mid-text),
  * and how does that burden distribute over sources — short-doc
  * sources almost never split, long-doc sources split nearly always
  * at small `seqLen`.
  *
  * Scale shape — the global running token offset is the whole
  * problem. A naive `sum(...) over (order by doc_id)` with no
  * partition clause is a SINGLE-TASK window: every row flows through
  * one reducer, which is the textbook scale-killer this engine bans
  * (same reasoning as the RFM/curriculum approx split, q128/q129).
  * The offset is therefore [[graft.util.PrefixSum]] over the doc-id
  * table: bucketed by doc id (the stable corpus key) once the corpus
  * outgrows one task, bit-identical to the global window (the oracle
  * states it that way) at every bucket count.
  */
object SequencePack {

  /** Per-document packing coordinates under concat-and-chunk:
    * `(doc_id, n_tokens, off, first_seq, last_seq, crosses)` where
    * `off` is the document's global token offset in doc_id order and
    * sequences are `[k*seqLen, (k+1)*seqLen)` windows. Zero-token
    * docs occupy no span: they land in the sequence at their offset
    * and never cross. */
  def packCoords(docs: DataFrame, seqLen: Int,
      textCol: String = "text", carryCols: Seq[String] = Nil): DataFrame = {
    require(seqLen >= 1, "seqLen must be positive")
    val nTok = size(filter(TextFunctions.tokens(col(textCol)),
      w => w =!= "")).cast("long")
    val base = docs.select(col("doc_id") +: nTok.as("n_tokens") +:
      carryCols.map(col): _*)
    val lastTok = col("off") + greatest(col("n_tokens") - 1L, lit(0L))
    PrefixSum.running(base, "doc_id", Seq("n_tokens"))
      .withColumn("off", col("n_tokens_cum") - col("n_tokens"))
      .withColumn("first_seq", (col("off") / seqLen).cast("long"))
      .withColumn("last_seq", (lastTok / seqLen).cast("long"))
      .withColumn("crosses", col("last_seq") > col("first_seq"))
      .select(("doc_id" +: "n_tokens" +: "off" +: "first_seq" +:
        "last_seq" +: "crosses" +: carryCols).map(col): _*)
  }

  /** Per-source boundary-crossing report: how the splitting burden of
    * a `seqLen` packing distributes over corpus sources, plus each
    * source's mean token length (the explanatory variable). The
    * source label rides THROUGH the coordinate computation (no
    * corpus-scale self-join to re-attach it); one grouped agg after —
    * source-cardinality output. */
  def crossingReport(docs: DataFrame, seqLen: Int,
      textCol: String = "text"): DataFrame =
    packCoords(docs, seqLen, textCol, carryCols = Seq("source"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum(when(col("crosses"), 1L).otherwise(0L)).as("n_crossing"),
        round(avg(col("n_tokens")), 4).as("mean_tokens"))
      .withColumn("crossing_frac",
        round(col("n_crossing").cast("double") / col("n_docs"), 6))
      .orderBy("source")

  /** First-fit-decreasing NO-SPLIT packing — the alternative layout to
    * concat-and-chunk: every document stays whole inside one
    * `seqLen`-token sequence (padded), so no attention context is ever
    * truncated, at the cost of padding waste; FFD is the classic
    * near-optimal heuristic for exactly this bin packing (≤ 11/9·OPT
    * + 1, Johnson '73). Oversize documents (> seqLen tokens) get a
    * dedicated bin, truncated to fit, and are reported.
    *
    * Distribution: docs bucket by `doc_id div bucketSize` and FFD runs
    * independently per bucket inside `flatMapGroups` — the driver
    * never sees data, per-task state is `bucketSize` (id, count)
    * PAIRS (text stays out of the shuffle entirely), and the result
    * is deterministic (sort by tokens desc, doc_id asc). Per-bucket
    * packing loses at most one partial bin per bucket vs global FFD —
    * bounded, and the price of parallelism.
    *
    * Returns per-doc assignments `(doc_id, n_tokens, kept_tokens,
    * bucket, bin, truncated)`. */
  def ffdAssignments(docs: DataFrame, seqLen: Int,
      textCol: String = "text", bucketSize: Int = 4096): DataFrame = {
    require(seqLen >= 1 && bucketSize >= 1, "positive seqLen/bucketSize")
    val spark = docs.sparkSession
    import spark.implicits._
    val nTok = size(filter(TextFunctions.tokens(col(textCol)),
      w => w =!= "")).cast("long")
    docs
      .select(col("doc_id").cast("long"), nTok.as("n_tokens"),
        (col("doc_id") / bucketSize).cast("long").as("bucket"))
      .as[(Long, Long, Long)]
      .groupByKey(_._3)
      .flatMapGroups { (bucket, it) =>
        val ds = it.map { case (id, n, _) => (id, n) }.toArray
          .sortBy { case (id, n) => (-n, id) }
        // first fit over open-bin residuals; bins are bucket-local
        val residual = scala.collection.mutable.ArrayBuffer.empty[Long]
        ds.iterator.map { case (id, n) =>
          val kept = math.min(n, seqLen.toLong)
          val bin = residual.indexWhere(_ >= kept) match {
            case -1 => residual += (seqLen - kept); residual.length - 1
            case i => residual(i) -= kept; i
          }
          (id, n, kept, bucket, bin.toLong, n > seqLen)
        }
      }
      .toDF("doc_id", "n_tokens", "kept_tokens", "bucket", "bin",
        "truncated")
  }

  /** One-row FFD packing summary: corpus size, bins used, fill
    * fraction, efficiency vs the ⌈tokens/seqLen⌉ lower bound, and the
    * truncation toll. */
  def ffdSummary(docs: DataFrame, seqLen: Int,
      textCol: String = "text", bucketSize: Int = 4096): DataFrame =
    ffdAssignments(docs, seqLen, textCol, bucketSize)
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum("kept_tokens").as("kept_tokens"),
        (sum("n_tokens") - sum("kept_tokens")).as("dropped_tokens"),
        countDistinct(col("bucket"), col("bin")).as("n_bins"),
        sum(when(col("truncated"), 1L).otherwise(0L)).as("n_truncated"))
      .withColumn("fill_frac",
        round(col("kept_tokens").cast("double") /
          (col("n_bins") * seqLen).cast("double"), 6))
      .withColumn("efficiency",
        round(ceil(col("kept_tokens").cast("double") / seqLen) /
          col("n_bins").cast("double"), 6))

  /** DuckDB oracle for [[ffdSummary]]: the per-bucket greedy
    * first-fit-decreasing replayed as a recursive CTE whose carried
    * state is each bucket's open-bin residual LIST — one recursion
    * step per document in (tokens desc, doc_id) order, the first
    * fitting bin found by a `list_filter` over the residuals (the
    * fit index is inlined three times because a recursive term can't
    * name a lateral intermediate). All-integer arithmetic, so parity
    * with the engine's `flatMapGroups` pass is exact. */
  def ffdSummaryOracleSql(seqLen: Int = 512,
      bucketSize: Int = 4096): String = {
    val fitIdx = "list_filter(range(1, len(p.residual) + 1), " +
      s"ii -> p.residual[ii] >= o.kept)"
    s"""WITH RECURSIVE d0 AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(str_split_regex(trim(text), '\\s+'),
       |      x -> x <> '')) AS BIGINT) AS n,
       |    CAST(doc_id // $bucketSize AS BIGINT) AS bucket
       |  FROM documents),
       |ordered AS (
       |  SELECT bucket, doc_id, n, LEAST(n, $seqLen) AS kept,
       |    ROW_NUMBER() OVER (PARTITION BY bucket
       |      ORDER BY n DESC, doc_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY bucket) AS n_in_bucket
       |  FROM d0),
       |pack AS (
       |  SELECT bucket, CAST(0 AS BIGINT) AS rn,
       |    CAST([] AS BIGINT[]) AS residual, n_in_bucket
       |  FROM (SELECT DISTINCT bucket, n_in_bucket FROM ordered)
       |  UNION ALL
       |  SELECT p.bucket, o.rn,
       |    CASE WHEN len($fitIdx) = 0
       |      THEN list_append(p.residual, $seqLen - o.kept)
       |      ELSE list_concat(list_concat(
       |             p.residual[1:$fitIdx[1] - 1],
       |             [p.residual[$fitIdx[1]] - o.kept]),
       |             p.residual[$fitIdx[1] + 1:])
       |    END AS residual,
       |    p.n_in_bucket
       |  FROM pack p
       |  JOIN ordered o ON o.bucket = p.bucket AND o.rn = p.rn + 1),
       |final AS (
       |  SELECT bucket, len(residual) AS bins
       |  FROM pack WHERE rn = n_in_bucket),
       |stats AS (
       |  SELECT COUNT(*) AS n_docs, SUM(n) AS n_tokens,
       |    SUM(kept) AS kept_tokens,
       |    SUM(CASE WHEN n > $seqLen THEN 1 ELSE 0 END) AS n_truncated
       |  FROM ordered),
       |binsum AS (SELECT SUM(bins) AS n_bins FROM final)
       |SELECT CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(kept_tokens AS BIGINT) AS kept_tokens,
       |  CAST(n_tokens - kept_tokens AS BIGINT) AS dropped_tokens,
       |  CAST(n_bins AS BIGINT) AS n_bins,
       |  CAST(n_truncated AS BIGINT) AS n_truncated,
       |  ROUND(CAST(kept_tokens AS DOUBLE) / (n_bins * $seqLen), 6)
       |    AS fill_frac,
       |  ROUND(ceil(CAST(kept_tokens AS DOUBLE) / $seqLen) / n_bins, 6)
       |    AS efficiency
       |FROM stats, binsum""".stripMargin
  }
}
