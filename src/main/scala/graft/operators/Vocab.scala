package graft.operators

import graft.util.Checkpoints.TruncateOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.util.PrefixSum

/** Corpus vocabulary construction — the counting pass every tokenizer
  * build (BPE/WordPiece/unigram-LM) starts from, and a pipeline step the
  * reference's pandas runner would express as `value_counts()` over an
  * exploded token column.
  *
  * Scale shape: one explode feeding one hash aggregate keyed on the
  * token. Spark's partial aggregation combines per-token counts
  * map-side, so the shuffle carries one row per (partition, distinct
  * token) — bounded by vocabulary size, not corpus size. The document
  * frequency is a `count(distinct doc_id)` in the same aggregate; the
  * planner expands it into a two-phase distinct aggregate with map-side
  * dedup of (token, doc_id) pairs. Nothing here is driver-side.
  */
object Vocab {

  /** Token/document frequencies thresholded at `minCount`, ranked by
    * `(tf desc, token asc)` (fully deterministic — no hash ties), top
    * `topK` rows, with each token's cumulative share of ALL corpus
    * tokens (`cum_share`) — the number a tokenizer budget decision
    * ("how big must the vocab be to cover 95%?") reads directly.
    *
    * The rank/cumulative window is unpartitioned by design: it runs
    * AFTER the `limit(topK)`, so exactly `topK` rows pass through the
    * single window task regardless of corpus size. The corpus-total
    * denominator is a separate scalar aggregate broadcast into the
    * ranked rows.
    */
  def build(docs: DataFrame, minCount: Long = 2L, topK: Int = 1000): DataFrame = {
    val toks = docs
      .select(explode(TextFunctions.tokens(col("text"))).as("token"),
        col("doc_id"))
      .where(col("token") =!= "")
    val ranked = toks
      .groupBy("token")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .where(col("tf") >= minCount)
      .orderBy(col("tf").desc, col("token").asc)
      .limit(topK)
    val total = toks.agg(count(lit(1)).as("__total"))
    // ranks the topK rows the limit above kept: bounded by topK
    val w = Window.orderBy(col("tf").desc, col("token").asc)
    ranked
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum_share",
        round(sum(col("tf")).over(w).cast("double") / col("__total"), 6))
      .drop("__total")
      .orderBy("rank")
  }

  /** Zipf fitness of the corpus: the least-squares slope of
    * log(tf) ~ log(rank) over the top-`topK` vocabulary — natural
    * language sits near slope −1 (Zipf's law); a corpus that departs
    * far from it is template-heavy (flatter) or boilerplate-dominated
    * (steeper), which makes the slope a cheap corpus-health metric.
    * One row: (slope, intercept, n_terms). Runs entirely over the
    * topK vocab table — corpus size only enters through [[build]]. */
  def zipfFit(docs: DataFrame, minCount: Long = 2L,
      topK: Int = 1000): DataFrame = {
    val v = build(docs, minCount, topK)
      .select(log(col("rank").cast("double")).as("x"),
        log(col("tf").cast("double")).as("y"))
    v.agg(
      round((covar_pop(col("x"), col("y")) / var_pop(col("x"))), 6).as("slope"),
      round(avg(col("y")) -
        (covar_pop(col("x"), col("y")) / var_pop(col("x"))) * avg(col("x")), 6)
        .as("intercept"),
      count(lit(1)).as("n_terms"))
  }

  /** Out-of-vocabulary report: per `groupCol`, what fraction of corpus
    * tokens fall OUTSIDE `vocab` — the coverage number a tokenizer
    * budget decision is validated against after [[build]] picks the
    * candidate vocabulary (high OOV in one language/source = that
    * slice will fragment into fallback bytes at training time).
    *
    * Scale shape: tokens explode once with only (group, token) carried;
    * the vocab side is topK rows and broadcasts, so membership is a
    * map-side hash probe — no shuffle beyond the final per-group agg. */
  def oovReport(docs: DataFrame, vocab: DataFrame,
      groupCol: String = "lang", textCol: String = "text"): DataFrame = {
    val toks = docs
      .select(col(groupCol), explode(TextFunctions.tokens(col(textCol))).as("token"))
      .where(col("token") =!= "")
    toks
      .join(broadcast(vocab.select(col("token")).withColumn("__v", lit(1))),
        Seq("token"), "left")
      .groupBy(groupCol)
      .agg(
        count(lit(1)).as("n_tokens"),
        count(when(col("__v").isNull, 1)).as("oov_tokens"))
      .withColumn("oov_rate",
        round(col("oov_tokens").cast("double") / col("n_tokens"), 6))
      .orderBy(groupCol)
  }

  /** Vocabulary growth curve (Heaps' law, V = K·nᵝ): distinct token
    * types vs tokens processed, in document-order buckets of
    * `bucketDocs` docs. The curve answers the question Zipf's slope
    * can't — "is this corpus still yielding new vocabulary, or has
    * type growth saturated?" — which is the stopping signal for
    * dedup-heavy collection (a saturating curve under continued
    * crawl = you are re-collecting what you already have; Heaps
    * 1978; Baeza-Yates & Ribeiro-Neto ch. 6).
    *
    * The naive form (cumulative `count(distinct)` per prefix) is a
    * quadratic re-scan. This is the linear form: each type
    * contributes exactly one row at its FIRST bucket
    * (`min(bucket) per token` — one token-keyed aggregate), so
    * per-bucket new-type counts arrive from a vocabulary-sized
    * table and the cumulative sums run over the bucket-count-sized
    * result ([[PrefixSum]] over ~|docs|/bucketDocs rows, not corpus
    * rows). `beta_pointwise` = ln V / ln n is the Heaps exponent under
    * the K=1 normalization — a per-bucket trend diagnostic, flat when
    * growth follows the power law. A NULL `doc_id` has no bucket and
    * is dropped. */
  def growthCurve(docs: DataFrame, bucketDocs: Long = 50L,
      textCol: String = "text"): DataFrame = {
    val toks = docs
      .select(expr(s"doc_id DIV $bucketDocs").as("bucket"),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .where(col("token") =!= "")
    val perBucket = toks.groupBy("bucket")
      .agg(count(lit(1)).as("n_tokens"))
    val newTypes = toks.groupBy("token")
      .agg(min(col("bucket")).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("new_types"))
    val table = perBucket.join(newTypes, Seq("bucket"), "left")
      .na.fill(0L, Seq("new_types"))
    // one row per bucketDocs docs: one task (a quantile pass would
    // re-run the tokenization; 2.4x slower at 64x in ScaleProbe)
    PrefixSum.running(table, "bucket", Seq("n_tokens", "new_types"), Nil)
      .withColumnRenamed("n_tokens_cum", "cum_tokens")
      .withColumnRenamed("new_types_cum", "cum_types")
      .withColumn("beta_pointwise",
        round(log(col("cum_types").cast("double")) /
          log(col("cum_tokens").cast("double")), 6))
      .orderBy("bucket")
  }

  /** Lexical idiosyncrasy per source — KL(source ‖ corpus) over token
    * distributions, in bits: how many extra bits per token a
    * corpus-wide unigram model wastes on this source, the
    * information-theoretic "which feed speaks its own dialect" ranking
    * (the unigram form of the domain-mismatch score DSIR-style
    * selection thresholds on). No smoothing is needed in this
    * direction: every source token exists in the corpus, so q(t) > 0
    * wherever p_s(t) > 0 and the sum is finite.
    *
    * One explode → (source, token) counts; corpus counts derive from
    * the same table (never a second scan); per-source agg output. */
  def lexicalKl(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val st = docs
      .select(col("source"),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .where(col("token") =!= "")
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpus = st.groupBy("token").agg(sum("c").as("ct"))
    val totals = st.groupBy("source").agg(sum("c").as("n_tokens"))
    val grand = st.agg(sum("c").as("grand_n"))
    val out = st.join(corpus, "token")
      .join(broadcast(totals), "source")
      .crossJoin(broadcast(grand))   // 1-row stat factor
      .withColumn("__p", col("c").cast("double") / col("n_tokens"))
      .withColumn("__q", col("ct").cast("double") / col("grand_n"))
      .groupBy("source")
      .agg(first("n_tokens").as("n_tokens"),
        round(sum(col("__p") * log2(col("__p") / col("__q"))), 6)
          .as("kl_bits"))
      .orderBy("source")
      // the result is |sources| rows — materialize it eagerly so the
      // working persist can be dropped HERE instead of leaking until
      // some caller clears the cache (bench loops accumulated it)
      .truncateLineage()
    st.unpersist()
    out
  }

  /** DuckDB oracle for [[lexicalKl]]. */
  val lexicalKlOracleSql: String =
    """WITH t AS (
      |  SELECT source, UNNEST(str_split_regex(trim(text), '\s+')) AS token
      |  FROM documents),
      |st AS (
      |  SELECT source, token, COUNT(*) AS c
      |  FROM t WHERE token <> '' GROUP BY 1, 2),
      |corpus AS (SELECT token, SUM(c) AS ct FROM st GROUP BY 1),
      |totals AS (SELECT source, SUM(c) AS n_tokens FROM st GROUP BY 1),
      |grand AS (SELECT SUM(c) AS gn FROM st)
      |SELECT st.source,
      |  CAST(ANY_VALUE(totals.n_tokens) AS BIGINT) AS n_tokens,
      |  ROUND(SUM((CAST(st.c AS DOUBLE) / totals.n_tokens) *
      |    log2((CAST(st.c AS DOUBLE) / totals.n_tokens) /
      |         (CAST(corpus.ct AS DOUBLE) / (SELECT gn FROM grand)))), 6)
      |    AS kl_bits
      |FROM st
      |JOIN corpus ON st.token = corpus.token
      |JOIN totals ON st.source = totals.source
      |GROUP BY st.source ORDER BY st.source""".stripMargin

  /** Pairwise Jensen–Shannon divergence between every pair of
    * sources' unigram distributions (Lin, IEEE-IT 1991) — the
    * SYMMETRIC, bounded [0, 1]-bit complement to [[lexicalKl]]: KL
    * ranks each source against the corpus mix; the JS matrix says
    * which sources are lexically interchangeable and which pairing
    * decisions (merge? dedup across? separate mixture weights?) the
    * distance actually supports. JS(a,b) = ½KL(a‖m) + ½KL(b‖m) with
    * m = (a+b)/2.
    *
    * Scale shape: one explode to (source, token) counts, a token-keyed
    * equi-join whose per-token fan-out is bounded by SOURCE cardinality
    * (never corpus size), and the closed-form shortcut for one-sided
    * tokens: a token absent from b contributes p_a·log₂2 = p_a, so
    * only the SHARED vocabulary is joined and each side's unshared
    * mass enters as 1 − Σ_shared p. The |S|² pair grid is a
    * source-cardinality crossJoin (pairs with zero shared tokens score
    * exactly 1 bit). */
  def jsDivergenceMatrix(docs: DataFrame,
      textCol: String = "text"): DataFrame = {
    val st = docs
      .select(col("source"),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .where(col("token") =!= "")
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
    val totals = st.groupBy("source").agg(sum("c").as("n"))
    val d = st.join(broadcast(totals), "source")
      .select(col("source"), col("token"),
        (col("c").cast("double") / col("n")).as("p"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shared = d.select(col("source").as("src_a"), col("token"),
        col("p").as("pa"))
      .join(d.select(col("source").as("src_b"), col("token"),
        col("p").as("pb")), "token")
      .where(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(
        sum(col("pa") * log2(lit(2.0) * col("pa") /
          (col("pa") + col("pb")))).as("__ka"),
        sum(col("pb") * log2(lit(2.0) * col("pb") /
          (col("pa") + col("pb")))).as("__kb"),
        sum("pa").as("__ma"), sum("pb").as("__mb"),
        count(lit(1)).as("n_shared"))
    val srcs = totals.select("source")
    val out = srcs.select(col("source").as("src_a"))
      .crossJoin(srcs.select(col("source").as("src_b")))
      .where(col("src_a") < col("src_b"))   // |S|² pair grid
      .join(shared, Seq("src_a", "src_b"), "left_outer")
      .na.fill(0.0, Seq("__ka", "__kb", "__ma", "__mb"))
      .na.fill(0L, Seq("n_shared"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        round(lit(0.5) * (col("__ka") + (lit(1.0) - col("__ma")) +
          col("__kb") + (lit(1.0) - col("__mb"))), 6).as("js_bits"))
      .orderBy("src_a", "src_b")
      // |sources|² rows — eager-materialize, then drop the working
      // persist here rather than leaking it to the caller's clearCache
      .truncateLineage()
    d.unpersist()
    out
  }

  /** DuckDB oracle for [[jsDivergenceMatrix]] on documents. */
  val jsMatrixOracleSql: String =
    """WITH t AS (
      |  SELECT source, UNNEST(str_split_regex(trim(text), '\s+')) AS token
      |  FROM documents),
      |st AS (
      |  SELECT source, token, COUNT(*) AS c
      |  FROM t WHERE token <> '' GROUP BY 1, 2),
      |totals AS (SELECT source, SUM(c) AS n FROM st GROUP BY 1),
      |d AS (
      |  SELECT st.source, st.token, CAST(st.c AS DOUBLE) / totals.n AS p
      |  FROM st JOIN totals ON st.source = totals.source),
      |shared AS (
      |  SELECT a.source AS src_a, b.source AS src_b,
      |    COUNT(*) AS n_shared,
      |    SUM(a.p * log2(2.0 * a.p / (a.p + b.p))) AS ka,
      |    SUM(b.p * log2(2.0 * b.p / (a.p + b.p))) AS kb,
      |    SUM(a.p) AS ma, SUM(b.p) AS mb
      |  FROM d a JOIN d b ON a.token = b.token AND a.source < b.source
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT s1.source AS src_a, s2.source AS src_b
      |  FROM totals s1, totals s2 WHERE s1.source < s2.source)
      |SELECT pairs.src_a AS src_a, pairs.src_b AS src_b,
      |  CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_shared,
      |  ROUND(0.5 * (COALESCE(ka, 0) + 1.0 - COALESCE(ma, 0) +
      |    COALESCE(kb, 0) + 1.0 - COALESCE(mb, 0)), 6) AS js_bits
      |FROM pairs
      |LEFT JOIN shared ON pairs.src_a = shared.src_a
      |  AND pairs.src_b = shared.src_b
      |ORDER BY 1, 2""".stripMargin

  /** Rank-biased overlap of the top-K token rankings of two corpus
    * slices (Webber, Moffat & Zobel, TOIS 2010) — the ranked-list
    * stability metric: plain top-K Jaccard treats rank 1 and rank 100
    * alike, while RBO's geometric depth weighting (persistence p)
    * scores agreement where a reader actually looks, which is how
    * vocabulary churn between corpus versions/halves should be
    * compared ("did the head of the distribution move, or just the
    * tail").
    *
    * Scale shape: each slice pays one token count + a top-K
    * `orderBy.limit` (TakeOrdered — never a global sort
    * materialization); everything after joins two K-row lists:
    * a token's contribution to every depth d ≥ max(rankA, rankB)
    * means overlap-at-depth is a cumulative count over max-rank, and
    * RBO_trunc = (1−p)·Σ_{d≤K} p^{d−1}·X_d/d evaluates over a K-row
    * depth spine. */
  def rankBiasedOverlap(docsA: DataFrame, docsB: DataFrame,
      k: Int = 100, p: Double = 0.9,
      textCol: String = "text"): DataFrame = {
    require(k >= 1 && p > 0.0 && p < 1.0, "need k >= 1, p in (0,1)")
    def topK(df: DataFrame, rankName: String) = df
      .select(explode(TextFunctions.tokens(col(textCol))).as("token"))
      .where(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(k)   // TakeOrdered; the rank window below sees K rows only
      .withColumn(rankName,
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("freq").desc, col("token"))).cast("long"))
      .select("token", rankName)
    val a = topK(docsA, "ra")
    val b = topK(docsB, "rb")
    val m = a.join(b, "token")
      .select(greatest(col("ra"), col("rb")).as("mr"))
    val spark = docsA.sparkSession
    import spark.implicits._
    val depths = (1 to k).map(_.toLong).toDF("d")
    val byDepth = depths.crossJoin(m)
      .groupBy("d")
      .agg(sum(when(col("mr") <= col("d"), 1L).otherwise(0L)).as("xd"))
    val rbo = byDepth
      .select(coalesce(sum(pow(lit(p), col("d") - 1L) *
        col("xd").cast("double") / col("d")), lit(0.0)).as("__s"))
      .select((lit(1.0 - p) * col("__s")).as("rbo"))
    // list sizes + overlap as 1-row stat factors in the SAME job (no
    // extra driver action), and the Jaccard over the ACTUAL list
    // lengths |A| + |B| − overlap — a slice with fewer than k distinct
    // tokens must not inflate the denominator
    val stats = a.agg(count(lit(1)).as("__na"))
      .crossJoin(b.agg(count(lit(1)).as("__nb")))
      .crossJoin(m.agg(count(lit(1)).as("__ov")))
    val denom = (col("__na") + col("__nb") - col("__ov")).cast("double")
    rbo.crossJoin(broadcast(stats)).select(
      lit(k).as("k"),
      lit(p).as("p"),
      col("__ov").as("overlap_at_k"),
      round(when(denom > 0.0, col("__ov").cast("double") / denom)
        .otherwise(lit(0.0)), 6).as("jaccard_top_k"),
      round(col("rbo"), 6).as("rbo"))
  }

  /** DuckDB oracle for the even/odd-half registered fixture. */
  def rboOracleSql(k: Int = 100, p: Double = 0.9): String =
    s"""WITH tok AS (
       |  SELECT doc_id, UNNEST(str_split_regex(trim(text), '\\s+')) AS token
       |  FROM documents),
       |fa AS (
       |  SELECT token, COUNT(*) AS freq FROM tok
       |  WHERE token <> '' AND doc_id % 2 = 0 GROUP BY 1),
       |fb AS (
       |  SELECT token, COUNT(*) AS freq FROM tok
       |  WHERE token <> '' AND doc_id % 2 = 1 GROUP BY 1),
       |ra AS (
       |  SELECT token, ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS r
       |  FROM fa QUALIFY r <= $k),
       |rb AS (
       |  SELECT token, ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS r
       |  FROM fb QUALIFY r <= $k),
       |m AS (
       |  SELECT GREATEST(ra.r, rb.r) AS mr
       |  FROM ra JOIN rb ON ra.token = rb.token),
       |depths AS (SELECT CAST(UNNEST(range(1, ${k + 1})) AS BIGINT) AS d),
       |bd AS (
       |  SELECT d, SUM(CASE WHEN mr <= d THEN 1 ELSE 0 END) AS xd
       |  FROM depths CROSS JOIN m GROUP BY d),
       |s AS (
       |  SELECT SUM(pow($p, d - 1) * CAST(xd AS DOUBLE) / d) AS ss
       |  FROM bd),
       |ov AS (SELECT COUNT(*) AS o FROM m),
       |sz AS (SELECT (SELECT COUNT(*) FROM ra)
       |  + (SELECT COUNT(*) FROM rb) - (SELECT o FROM ov) AS den)
       |SELECT CAST($k AS INTEGER) AS k,
       |  CAST($p AS DOUBLE) AS p,
       |  CAST((SELECT o FROM ov) AS BIGINT) AS overlap_at_k,
       |  ROUND(CASE WHEN (SELECT den FROM sz) > 0
       |    THEN CAST((SELECT o FROM ov) AS DOUBLE) / (SELECT den FROM sz)
       |    ELSE 0.0 END, 6) AS jaccard_top_k,
       |  ROUND(${1.0 - p} * (SELECT ss FROM s), 6) AS rbo
       |FROM s""".stripMargin

  /** Good–Turing unseen mass + Chao1 richness per source — "how much
    * vocabulary have we NOT seen yet": the Good–Turing estimate puts
    * the probability that the next token is a never-seen type at
    * f₁/N (singleton count over token mass; Good 1953), and Chao1
    * (Chao 1984) estimates the TRUE type count as V + f₁²/(2f₂) —
    * together the "is this source exhausted or barely sampled" answer
    * that decides whether to crawl a source deeper. A source whose
    * unseen mass is near zero is fully harvested; one near 0.5 has
    * half its token stream still arriving as new types.
    *
    * Dataflow: one explode + (source, token)-keyed count, then
    * frequency-of-frequency aggregation per source — output is
    * source-cardinality, the f-of-f table never leaves the agg. */
  def unseenMass(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(col("source"),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .where(col("token") =!= "")
      .groupBy("source", "token").agg(count(lit(1)).as("tf"))
      .groupBy("source")
      .agg(
        sum("tf").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("tf") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("tf") === 2, 1L).otherwise(0L)).as("f2"))
      .withColumn("unseen_mass",
        round(col("f1").cast("double") / col("n_tokens"), 6))
      // the bias-corrected Chao1 form is defined even at f2 = 0
      .withColumn("chao1",
        round(col("n_types").cast("double") +
          col("f1").cast("double") * (col("f1") - 1.0) /
            (lit(2.0) * (col("f2") + 1.0)), 4))
      .orderBy("source")

  /** DuckDB oracle for [[unseenMass]]. */
  val unseenOracleSql: String =
    """WITH t AS (
      |  SELECT source, UNNEST(str_split_regex(trim(text), '\s+')) AS token
      |  FROM documents),
      |tf AS (
      |  SELECT source, token, COUNT(*) AS tf
      |  FROM t WHERE token <> '' GROUP BY 1, 2),
      |agg AS (
      |  SELECT source,
      |    SUM(tf) AS n_tokens,
      |    COUNT(*) AS n_types,
      |    SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS f1,
      |    SUM(CASE WHEN tf = 2 THEN 1 ELSE 0 END) AS f2
      |  FROM tf GROUP BY 1)
      |SELECT source,
      |  CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(n_types AS BIGINT) AS n_types,
      |  CAST(f1 AS BIGINT) AS f1,
      |  CAST(f2 AS BIGINT) AS f2,
      |  ROUND(CAST(f1 AS DOUBLE) / n_tokens, 6) AS unseen_mass,
      |  ROUND(n_types + CAST(f1 AS DOUBLE) * (f1 - 1.0) /
      |    (2.0 * (f2 + 1.0)), 4) AS chao1
      |FROM agg ORDER BY source""".stripMargin

  /** N-gram novelty curve over ingestion order — what fraction of each
    * doc-bucket's k-gram mass has NEVER appeared in an earlier
    * document: the corpus self-repetition trend ([[growthCurve]]
    * watches single-token vocabulary; k-grams track PHRASE reuse, the
    * thing that actually saturates as a crawl keeps re-ingesting the
    * same boilerplate web — a falling novelty curve is the "this feed
    * has stopped adding information" signal that caps an ingestion
    * run). Novelty is attributed at the DOCUMENT grain (a gram is
    * novel only in the min-doc_id document containing it) and reported
    * per bucket.
    *
    * Dataflow mirrors [[growthCurve]]: one explode to (gram, doc),
    * one gram-keyed min to find first occurrences (hashes travel,
    * never gram text), per-bucket sums — bucket-cardinality output. */
  def noveltyCurve(docs: DataFrame, k: Int = 8,
      bucketDocs: Long = 50L, textCol: String = "text"): DataFrame = {
    val grams = docs
      .select(col("doc_id"),
        explode(array_distinct(
          graft.functions.ShingleHashes.shingleHashes(
            TextFunctions.tokens(col(textCol)), k))).as("h"))
    val firstDoc = grams.groupBy("h").agg(min("doc_id").as("first_doc"))
    val perDoc = grams.join(firstDoc, "h")
      .groupBy(expr(s"doc_id DIV $bucketDocs").as("bucket"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L))
          .as("n_novel"))
    // one row per bucketDocs docs: one task, as in growthCurve
    PrefixSum.running(perDoc, "bucket", Seq("n_novel", "n_grams"), Nil)
      .select(col("bucket"), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams"), 6)
          .as("novelty_frac"),
        round(col("n_novel_cum").cast("double") / col("n_grams_cum"), 6)
          .as("cum_novelty"))
      .orderBy("bucket")
  }

  /** DuckDB oracle for [[noveltyCurve]] (string k-grams instead of the
    * engine's hashes; counts agree absent 64-bit collisions). */
  def noveltyOracleSql(k: Int = 8, bucketDocs: Long = 50L): String = {
    require(k == 8, "oracle inlines the k=8 gram constructor")
    s"""WITH d AS (
       |  SELECT doc_id, str_split_regex(trim(text), '\\s+') AS toks
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, UNNEST(list_distinct(
       |    list_transform(range(1, len(toks) - ${k - 2}),
       |      i -> concat_ws(' ', ${(0 until 8).map(j => s"toks[i+$j]").mkString(", ")})))) AS gram
       |  FROM d WHERE len(toks) >= $k),
       |fd AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram),
       |pb AS (
       |  SELECT g.doc_id // $bucketDocs AS bucket,
       |    COUNT(*) AS n_grams,
       |    SUM(CASE WHEN g.doc_id = fd.first_doc THEN 1 ELSE 0 END)
       |      AS n_novel
       |  FROM g JOIN fd ON g.gram = fd.gram
       |  GROUP BY 1)
       |SELECT bucket,
       |  CAST(n_grams AS BIGINT) AS n_grams,
       |  CAST(n_novel AS BIGINT) AS n_novel,
       |  ROUND(CAST(n_novel AS DOUBLE) / n_grams, 6) AS novelty_frac,
       |  ROUND(CAST(SUM(n_novel) OVER (ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) /
       |    SUM(n_grams) OVER (ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
       |    AS cum_novelty
       |FROM pb ORDER BY bucket""".stripMargin
  }

  /** DuckDB oracle for [[growthCurve]]. */
  def growthOracleSql(bucketDocs: Long = 50L): String =
    s"""WITH toks AS (
       |  SELECT doc_id // $bucketDocs AS bucket,
       |    unnest(str_split_regex(trim(text), '\\s+')) AS token
       |  FROM documents),
       |nz AS (SELECT * FROM toks WHERE token <> ''),
       |pb AS (SELECT bucket, COUNT(*) AS n_tokens FROM nz GROUP BY 1),
       |fs AS (SELECT token, MIN(bucket) AS bucket FROM nz GROUP BY 1),
       |nt AS (SELECT bucket, COUNT(*) AS new_types FROM fs GROUP BY 1),
       |c AS (
       |  SELECT pb.bucket,
       |    CAST(pb.n_tokens AS BIGINT) AS n_tokens,
       |    CAST(COALESCE(nt.new_types, 0) AS BIGINT) AS new_types,
       |    CAST(SUM(pb.n_tokens) OVER (ORDER BY pb.bucket
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
       |    CAST(SUM(COALESCE(nt.new_types, 0)) OVER (ORDER BY pb.bucket
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types
       |  FROM pb LEFT JOIN nt ON pb.bucket = nt.bucket)
       |SELECT bucket, n_tokens, new_types, cum_tokens, cum_types,
       |  ROUND(LN(CAST(cum_types AS DOUBLE)) /
       |        LN(CAST(cum_tokens AS DOUBLE)), 6) AS beta_pointwise
       |FROM c ORDER BY bucket""".stripMargin

  /** Rényi entropy profile of each source's unigram distribution
    * (Rényi 1961; the tokenizer-quality reading of Zouhar et al.,
    * "Tokenization and the Noiseless Channel", ACL 2023, where
    * α≈2.5 Rényi efficiency predicts downstream quality better than
    * vocab size): H_α = log₂(Σ pᵅ)/(1−α), with the Shannon limit at
    * α→1 and the collision entropy at α=2. Per source:
    * `(source, n_tokens, vocab, h_shannon, h_renyi_05, h_renyi_2,
    * eff_vocab)` where eff_vocab = 2^H_shannon — the "how many
    * equally-likely tokens is this worth" number beside the raw
    * vocabulary size.
    *
    * One explode → (source, token) hash-agg (map-side partials), then
    * source-cardinality arithmetic. */
  def renyiProfile(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val st = docs
      .select(col("source"),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .where(col("token") =!= "")
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
    val totals = st.groupBy("source").agg(sum("c").as("n_tokens"))
    st.join(broadcast(totals), "source")
      .withColumn("__p", col("c").cast("double") / col("n_tokens"))
      .groupBy("source")
      .agg(
        first("n_tokens").as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(-col("__p") * log2(col("__p"))).as("__h1"),
        sum(sqrt(col("__p"))).as("__s05"),
        sum(col("__p") * col("__p")).as("__s2"))
      .select(
        col("source"),
        col("n_tokens").cast("bigint").as("n_tokens"),
        col("vocab").cast("bigint").as("vocab"),
        round(col("__h1"), 6).as("h_shannon"),
        round(log2(col("__s05")) * 2.0, 6).as("h_renyi_05"),
        round(-log2(col("__s2")), 6).as("h_renyi_2"),
        round(pow(lit(2.0), col("__h1")), 6).as("eff_vocab"))
      .orderBy("source")
  }

  /** DuckDB oracle for [[renyiProfile]] on documents. */
  val renyiOracleSql: String =
    """WITH t AS (
      |  SELECT source, UNNEST(str_split_regex(trim(text), '\s+')) AS token
      |  FROM documents),
      |st AS (
      |  SELECT source, token, COUNT(*) AS c
      |  FROM t WHERE token <> '' GROUP BY 1, 2),
      |tot AS (SELECT source, SUM(c) AS n_tokens FROM st GROUP BY 1),
      |p AS (
      |  SELECT st.source, CAST(st.c AS DOUBLE) / tot.n_tokens AS p,
      |    tot.n_tokens
      |  FROM st JOIN tot ON st.source = tot.source),
      |g AS (
      |  SELECT source, ANY_VALUE(n_tokens) AS n_tokens,
      |    COUNT(*) AS vocab,
      |    SUM(-p * log2(p)) AS h1,
      |    SUM(sqrt(p)) AS s05,
      |    SUM(p * p) AS s2
      |  FROM p GROUP BY 1)
      |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(vocab AS BIGINT) AS vocab,
      |  ROUND(h1, 6) AS h_shannon,
      |  ROUND(log2(s05) * 2.0, 6) AS h_renyi_05,
      |  ROUND(-log2(s2), 6) AS h_renyi_2,
      |  ROUND(pow(2.0, h1), 6) AS eff_vocab
      |FROM g ORDER BY source""".stripMargin

  /** Lexical-richness battery from the frequency-of-frequencies
    * spectrum — the vocabulary-quality numbers a raw TTR can't give
    * because TTR falls mechanically with corpus size: Yule's K
    * (Yule, "The Statistical Study of Literary Vocabulary" 1944;
    * size-invariant repeat-rate — HIGH K = repetitive/templated
    * text), Honoré's R (1979; hapax-driven richness), and Sichel's S
    * (1975; dis-legomena share, the most size-stable of the three).
    * Boilerplate-heavy scrapes move K an order of magnitude before
    * any dedup fires — the one-row corpus fingerprint beside the
    * Zipf fit (q117) and Heaps curve (q172).
    *
    * K = 10⁴·(Σ m²·V(m) − N)/N² over the spectrum V(m) = #types
    * occurring m times; R = 100·ln N/(1 − V₁/V); S = V₂/V.
    *
    * Scale shape: one explode into token counts (vocab-bounded), one
    * spectrum agg (≤ max-count rows), one scalar row. NULL Honoré
    * when every type is a hapax (V₁ = V). */
  def lexicalRichness(docs: DataFrame,
      textCol: String = "text"): DataFrame = {
    val m = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("token"))
      .where(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("m"))
    val spec = m.groupBy("m").agg(count(lit(1)).as("vm"))
    val s = spec.agg(
      sum(col("m") * col("vm")).as("n"),
      sum("vm").as("v"),
      sum(when(col("m") === 1L, col("vm")).otherwise(0L)).as("v1"),
      sum(when(col("m") === 2L, col("vm")).otherwise(0L)).as("v2"),
      sum(col("m") * col("m") * col("vm")).as("__m2v"))
    val nD = col("n").cast("double")
    val vD = col("v").cast("double")
    val v1D = col("v1").cast("double")
    s.select(
      col("n").cast("bigint").as("n_tokens"),
      col("v").cast("bigint").as("v_types"),
      col("v1").cast("bigint").as("v1_hapax"),
      col("v2").cast("bigint").as("v2_dis"),
      round(vD / nD, 6).as("ttr"),
      round(v1D / vD, 6).as("hapax_share"),
      round(lit(1e4) * (col("__m2v").cast("double") - nD) / (nD * nD),
        6).as("yules_k"),
      round(col("v2").cast("double") / vD, 6).as("sichel_s"),
      round(when(col("v1") < col("v"),
        lit(100.0) * log(nD) / (lit(1.0) - v1D / vD)), 6)
        .as("honore_r"))
  }

  /** DuckDB oracle for [[lexicalRichness]] over documents. */
  val lexicalRichnessOracleSql: String =
    """WITH tok AS (
      |  SELECT unnest(str_split_regex(trim(text), '\s+')) AS token
      |  FROM documents),
      |m AS (
      |  SELECT token, COUNT(*) AS m FROM tok
      |  WHERE token <> '' GROUP BY 1),
      |spec AS (SELECT m, COUNT(*) AS vm FROM m GROUP BY 1),
      |s AS (
      |  SELECT SUM(m * vm) AS n, SUM(vm) AS v,
      |    SUM(CASE WHEN m = 1 THEN vm ELSE 0 END) AS v1,
      |    SUM(CASE WHEN m = 2 THEN vm ELSE 0 END) AS v2,
      |    SUM(m * m * vm) AS m2v
      |  FROM spec)
      |SELECT CAST(n AS BIGINT) AS n_tokens,
      |  CAST(v AS BIGINT) AS v_types,
      |  CAST(v1 AS BIGINT) AS v1_hapax,
      |  CAST(v2 AS BIGINT) AS v2_dis,
      |  ROUND(CAST(v AS DOUBLE) / n, 6) AS ttr,
      |  ROUND(CAST(v1 AS DOUBLE) / v, 6) AS hapax_share,
      |  ROUND(1e4 * (CAST(m2v AS DOUBLE) - n) /
      |    (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS yules_k,
      |  ROUND(CAST(v2 AS DOUBLE) / v, 6) AS sichel_s,
      |  ROUND(CASE WHEN v1 < v THEN 100.0 * LN(CAST(n AS DOUBLE)) /
      |    (1.0 - CAST(v1 AS DOUBLE) / v) END, 6) AS honore_r
      |FROM s""".stripMargin
}
