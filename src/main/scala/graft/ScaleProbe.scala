package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: does each heavy operator scale ~linearly when the input is
  * amplified in place? Amplifies `documents` ×N and times each operator
  * warm at 1× and N×, printing the time ratio vs the ideal N.
  *
  * Methodology notes (each one matters for honest ratios):
  *  - Copies are DISJOINT in shingle space: every token of copy i gets
  *    an `_i` suffix, so copies of the same base doc are NOT mutual
  *    near-dups. A trailing-marker perturbation would turn each doc
  *    into an N-clique of near-dups and charge the LSH operator
  *    ~C(N,2) artifactual pair work that says nothing about corpus
  *    scaling.
  *  - Id shifts use (max(doc_id)+1) per copy, so amplified ids never
  *    collide whatever SF the caller points at.
  *  - Both shapes are persisted and counted BEFORE timing, so the
  *    measured region covers the operator, not input generation.
  *  - The cache is cleared between operators (minHashCandidates persists
  *    its signature table eagerly and leaves it to the caller to drop).
  *
  * A ratio ≪ N means fixed overhead still dominates at this SF; a ratio
  * ≫ N is a superlinearity — the thing that kills a 100 TB run (e.g.
  * the round-1 IVF centroid scheme would have shown ~N² here).
  *
  * Usage: runMain graft.ScaleProbe [factor] [sfDir] [op,op,...]
  * (only the inputs the selected ops read are built; the embedding
  * ops cap the factor at the embedding dimension)
  */
object ScaleProbe {

  private def amplify(docs: DataFrame, factor: Int): DataFrame = {
    val idShift = docs.agg(max("doc_id")).collect()(0).getLong(0) + 1L
    (0 until factor).map { i =>
      docs.select(
        (col("doc_id") + lit(i * idShift)).as("doc_id"),
        concat_ws(" ", transform(split(col("text"), "\\s+"),
          t => concat(t, lit(s"_$i")))).as("text"))
    }.reduce(_ unionByName _)
  }

  private def time(f: => Long): (Double, Long) = {
    val t0 = System.nanoTime()
    val n = f
    ((System.nanoTime() - t0) / 1e9, n)
  }

  def main(args: Array[String]): Unit = {
    val factor = if (args.nonEmpty) args(0).toInt else 10
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    // optional comma-separated op-name filter: probe just the named
    // ops (e.g. the ones a round added) without repaying the full sweep
    val only: Option[Set[String]] =
      args.lift(2).map(_.split(",").map(_.trim).toSet)
    val spark: SparkSession = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    // each input family is built (read, amplified, persisted, counted)
    // only when a selected op reads it
    lazy val base = graft.io.Sources.table(spark, sfDir, "documents")
      .select("doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    lazy val big = {
      val b = amplify(base, factor)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(f"[scale] factor=$factor base=${base.count()} big=${b.count()} rows")
      b
    }

    val ops: Seq[(String, DataFrame => Long)] = Seq(
      "exact_dedup" -> (d => graft.operators.Dedup.exact(d).count()),
      "token_profile" -> { d =>
        val toks = graft.functions.TextFunctions.tokens(col("text"))
        d.select(graft.functions.TextFunctions.profileT(toks).as("p"))
          .agg(sum(element_at(col("p"), 1))).collect()(0).getLong(0)
      },
      "minhash_lsh" -> (d => graft.operators.Dedup.minHashCandidates(
        d, k = 3, numHashes = 32, bands = 8, maxBucket = 200).count()),
      "simhash" -> (d => graft.operators.Dedup.simHash(d).count()),
      "fingerprint" -> (d => d.select(graft.functions.TextFunctions
        .fingerprint(col("text")).as("f")).agg(count("f")).collect()(0).getLong(0)),
      // copies stay disjoint in affix space (suffixed tokens change both
      // the 40-char prefix and suffix), so edge count — and the star
      // rounds' work — scales with the corpus, not quadratically
      "dup_clusters" -> (d => graft.operators.DupClusters
        .clusterDocuments(d, graft.operators.DupClusters.affixPairs(d, n = 40))
        .count()),
      // suffixed copies match none of the query terms; the timed work is
      // the corpus-wide tokenize+explode+filter, which IS the linear
      // cost component of BM25 (match-proportional work is tiny)
      "bm25" -> (d => graft.operators.TextSearch
        .bm25(d, Seq("stream", "merge", "batch")).count()),
      "chunking" -> (d => graft.operators.Chunking
        .slidingWindows(d, window = 32, stride = 24).count()),
      // the sum over redacted text defeats column pruning — count()
      // alone would let Catalyst drop every regex
      "pii_redact" -> (d => graft.operators.Scrub
        .redact(d, graft.operators.Scrub.piiRules)
        .agg(sum(length(col("redacted")) + col("n_redacted")))
        .collect()(0).getLong(0)),
      "repetition" -> (d => graft.operators.TextQuality
        .repetitionMetrics(d).count()),
      // fixed 16-source grid: the |S|² pair frame never grows; the
      // token-distribution tables (suffixed tokens → distinct vocab)
      // and the shared-vocab join are the corpus-linear work
      "js_matrix" -> (d => graft.operators.Vocab.jsDivergenceMatrix(
        d.withColumn("source",
          concat(lit("s"), pmod(col("doc_id"), lit(16))))).count()),
      // two multi-percentile aggs; output |sources|·|levels| fixed
      "quantile_align" -> (d => graft.operators.Drift.quantileAlign(
        d.withColumn("source",
          concat(lit("s"), pmod(col("doc_id"), lit(16))))
          .withColumn("n_chars", length(col("text"))),
        "source", "n_chars").count()),
      // amplified copies' suffixed tokens share no 4-gram with the base
      // benchmark slice, so match volume stays FIXED while the corpus
      // explode scales — the linear component is what's timed. The
      // corpus side excludes the benchmark slice at BOTH shapes (as q72
      // does); leaving it in at 1x would add self-match work absent at
      // Nx and deflate the ratio
      "decontaminate" -> (d => graft.operators.Decontaminate.overlap(
        d.filter(col("doc_id") % 41 =!= 0),
        base.filter(col("doc_id") % 41 === 0), n = 4).count()),
      // LM scoring: model build + score join both scale with the
      // corpus; suffixed copies widen the vocabulary ~N×, the
      // adversarial direction for the model-side shuffle
      "lm_score" -> (d => graft.operators.TextLM
        .perplexityScores(d).count()),
      // batch admission against a band store built from the OTHER half
      // of the same shape: both the batch signature pass and the store
      // join scale with the corpus
      "incremental_dedup" -> { d =>
        val b1 = d.filter(col("doc_id") % 2 === 0)
        val b2 = d.filter(col("doc_id") % 2 === 1)
        val adm1 = graft.operators.IncrementalDedup.admitBatch(b1, None)
        graft.operators.IncrementalDedup
          .admitBatch(b2, Some(adm1.bands)).accepted.count()
      },
      // maxTrain is set so the absolute cap BINDS at both shapes (as
      // the production default 200k does at real scale): the fit cost
      // is then flat and the timed linear component is
      // tokenize+hash+score over the corpus
      "quality_model" -> (d => graft.operators.QualityModel
        .distill(d, dim = 1 << 12, maxTrain = 2000L).count()),
      // suffixed copies repeat only against their own copy generation,
      // so repeated-gram volume scales with the corpus, not N²
      "repeated_spans" -> (d => graft.operators.RepeatedSpans
        .report(d).filter(col("n_repeated_windows") > 0).count()),
      // suffixed tokens widen the vocabulary ~N× — the adversarial
      // direction for the token groupBy; the rank window stays topK
      "vocab" -> (d => graft.operators.Vocab
        .build(d, minCount = 2L, topK = 1000).count()),
      // sketch-threshold quantile cut: score map-side, one grouped
      // percentile agg, broadcast join back — no per-group sort
      "quantile_keep" -> (d => graft.operators.Sampling.quantileKeepApprox(
        d.select(col("doc_id"), pmod(col("doc_id"), lit(13)).as("grp"),
          graft.functions.TextFunctions.qualityScore(col("text")).as("q")),
        "q", Seq("grp"), keepFraction = 0.5).count()),
      // containment verify over LSH candidates: quadratic work only
      // within candidate pairs, which the banded join keeps linear
      "containment" -> { d =>
        val cands = graft.operators.Dedup.minHashCandidates(
          d, k = 3, numHashes = 32, bands = 8, maxBucket = 200)
          .select("id_a", "id_b")
        graft.operators.Dedup.containmentVerify(d, cands, k = 3,
          threshold = 0.5).count()
      },
      // excision adds the witness aggregate + per-(doc, pos) keyed agg
      // on top of the report's shape; both scale with the repeated
      // subset, and the rebuild is map-only per doc
      "span_excision" -> (d => graft.operators.RepeatedSpans
        .excise(d).agg(sum(col("n_removed") + length(col("cleaned_text"))))
        .collect()(0).getLong(0)),
      // phash is a per-row codegen'd kernel; the chunk self-join is the
      // only shuffle and block patterns are seed-distinct, so pair
      // volume scales with the asset count
      "image_neardup" -> { d =>
        import spark.implicits._
        val media = d.select(col("doc_id")).as[Long].map(id =>
          graft.operators.Multimodal.MediaRow(id, "image/x-portable-pixmap",
            16, 16, graft.operators.Multimodal.generateBlockPpm(16, 16, id)))
        graft.operators.Multimodal.perceptualHashes(media)
          .agg(count(col("phash"))).collect()(0).getLong(0)
      },
      // the NTILE replacement: one percentile_approx sketch agg + a
      // map-side broadcast-threshold bucket — the shape must stay flat
      // where the exact global-sort form would hit a single task
      "curriculum_approx" -> { d =>
        val scored = d.select(col("doc_id"), graft.functions.TextFunctions
          .qualityScore(col("text")).as("quality"))
        graft.operators.Sampling
          .curriculumShardsApprox(scored, "quality", nShards = 4)
          .groupBy("shard").count().count()
      },
      // keep-best per cluster as the declarative max_by agg: synthetic
      // bounded clusters (8 consecutive ids) keep cluster count ∝ N —
      // times the label join + partial-agg combine, not the pair
      // generation (dup_clusters probes that separately)
      "canonical_keep" -> { d =>
        val docs = d.withColumn("n_chars", length(col("text")).cast("long"))
        val assign = docs.select(col("doc_id"),
          (col("doc_id") - pmod(col("doc_id"), lit(8L))).as("cluster_id"))
        val clusters = assign.join(
          assign.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size")),
          "cluster_id")
        graft.operators.DupClusters.canonicalize(docs, clusters, "n_chars")
          .count()
      },
      // per-stratum running-sum window under the bounded-strata
      // contract: 64 hash strata whatever N, so the probe times the
      // stratum shuffle + cumulative window over growing partitions;
      // budget high enough that every row is kept (output count ∝ N)
      "budget_fill" -> { d =>
        val docs = d.withColumn("n_chars", length(col("text")).cast("long"))
          .withColumn("stratum", pmod(xxhash64(col("doc_id")), lit(64L)))
        graft.operators.Sampling.budgetFill(docs, Seq("stratum"), "n_chars",
          budget = 1000000000L).count()
      },
      // map-only hash assignment + one nShards-bounded agg; the ratio
      // measures the corpus scan, the output never grows
      "shard_manifest" -> (d => graft.operators.Curation
        .shardManifest(d.withColumn("n_chars",
          length(col("text")).cast("long")), nShards = 64).count()),
      // one corpus pass builds the distinct-word table, then 5 merge
      // rounds of pair-agg + regexp rewrite over THAT table — the
      // suffix amplification grows distinct words ~linearly, so the
      // honest bound here is the word-table growth, not the corpus
      "bpe_fit" -> (d => graft.operators.BpeTrainer
        .fit(d, "text", numMerges = 5).length.toLong),
      // suffixed copies make segments disjoint ACROSS generations, so
      // duplicate volume stays proportional to the corpus (each
      // generation repeats only its own boilerplate) — the two
      // segment-hash shuffles are the scaled axis
      "segment_dedup" -> (d => graft.operators.SegmentDedup
        .report(d, segTokens = 5).agg(sum("n_kept"))
        .collect()(0).getLong(0)),
      // fixed shard count: per-shard sort partitions grow ∝N — the
      // N log N direction the shard-first design must absorb without
      // any global-sort stage appearing
      "train_shuffle" -> (d => graft.operators.TrainShuffle
        .shuffleShards(d, nShards = 64, seed = 7L)
        .agg(max("pos")).collect()(0).getLong(0)),
      // ONE full-corpus agg + stratum agg + 1-row assembly: the card
      // must stay a flat scan however big the release is
      "corpus_card" -> (d => graft.operators.Curation
        .corpusCard(d
          .withColumn("stratum", pmod(xxhash64(col("doc_id")), lit(64L)))
          .withColumn("source", (col("doc_id") % 20).cast("string"))
          .withColumn("n_chars", length(col("text")).cast("long")),
          strataCol = "stratum")
        .collect()(0).getLong(0)),
      // class-table agg + left-semi gate: post-scan stages are
      // quasi-space-sized (64×20 classes), so the ratio measures the
      // two key shuffles
      "privacy_gate" -> { d =>
        val qd = d
          .withColumn("stratum", pmod(xxhash64(col("doc_id")), lit(64L)))
          .withColumn("src", (col("doc_id") % 20).cast("string"))
        graft.operators.Privacy.suppressBelowK(
          qd, Seq("stratum", "src"), k = 4).count()
      },
      // two grouped counts + category-cardinality outer join: the JS
      // report's post-scan cost is |categories|, independent of N
      "mix_divergence" -> { d =>
        val s = d.withColumn("stratum",
          pmod(xxhash64(col("doc_id")), lit(64L)))
        graft.operators.Drift.mixDivergence(
          s.filter(col("doc_id") % 2 === 0),
          s.filter(col("doc_id") % 2 === 1), "stratum").count()
      },
      // synthetic source key keeps per-source doc counts ∝N while the
      // suffix-disjoint copies add no cross-copy boilerplate: the
      // frequency agg, mark join, and reassembly must all stay linear
      "boilerplate" -> (d => graft.operators.SegmentDedup
        .boilerplateExcise(
          d.withColumn("source", (col("doc_id") % 20).cast("string")),
          segTokens = 2, minDocFrac = 0.18)
        .agg(sum("n_dropped")).collect()(0).getLong(0)),
      // Heaps growth: the token explode and min(bucket)-per-type agg
      // scale with the corpus; suffixed copies widen the type table
      // ~N× (adversarial for the first-seen shuffle); the cumulative
      // window stays bucket-count-sized
      "vocab_growth" -> (d => graft.operators.Vocab
        .growthCurve(d, bucketDocs = 50L).collect().length.toLong),
      // grid KS between two doc-length slices: the per-side bucket
      // count is the linear component; the cumulative window and the
      // sup-gap run over the fixed-width grid regardless of N
      "ks_grid" -> { d =>
        val lens = d.select(length(col("text")).cast("double").as("v"),
          (col("doc_id") % 2 === 0).as("h"))
        graft.operators.Drift.ksReport(
          lens.where(col("h")).select("v"),
          lens.where(!col("h")).select("v"), "v", Some(8.0))
          .collect().length.toLong
      },
      // PrefixSum over the doc-id table: the bucket count grows with the
      // input size estimate (one bucket while it fits one task) but stays
      // a tiny broadcast table; the per-bucket windows are the linear stage
      "sequence_pack" -> (d =>
        graft.operators.SequencePack.packCoords(d, 512).count()),
      // per-bucket FFD in flatMapGroups over (id, count) pairs only
      "pack_ffd" -> (d =>
        graft.operators.SequencePack.ffdAssignments(d, 512).count()),
      // histogram-path Gini: corpus work is one grouped agg, the rank
      // window runs over distinct (source, n_tokens) cells
      "token_gini" -> (d =>
        graft.operators.Concentration.tokenGiniBySource(
          d.withColumn("source",
            concat(lit("s"), (col("doc_id") % 20)))).count()),
      // AUC over the distinct-score table; corpus work = score pass
      "quality_auc" -> (d =>
        graft.operators.ClassifierEval.aucSummary(
          d.select(
            graft.functions.TextFunctions.qualityScore(col("text"))
              .as("score"),
            (col("doc_id") % 2 === 0).as("label")),
          "score", "label").collect().length.toLong),
      // native codegen'd DEFLATE pass, map-only
      "deflate_ratio" -> { d =>
        d.select(graft.functions.DeflateRatio.deflateRatio(col("text"))
          .as("r")).agg(count("r")).collect()(0).getLong(0)
      },
      // disjoint amplified shingle spaces keep posting lists constant
      // per copy, so the prefix-filter join grows with the corpus,
      // not quadratically in it
      "allpairs_join" -> (d =>
        graft.operators.AllPairsJoin.jaccardJoin(d, 0.5).count()),
      // suffixed tokens make cross-copy lines disjoint: the duplicate-
      // line table grows linearly, join-back stays key-local
      "line_dedup" -> (d => graft.operators.CorpusFilters.lineDedup(
        d.withColumn("source",
          concat(lit("s"), pmod(col("doc_id"), lit(16))))).count()),
      "soft_dedup" -> (d => graft.operators.CorpusFilters
        .softDedupWeights(d.withColumn("source",
          concat(lit("s"), pmod(col("doc_id"), lit(16))))).count()),
      // map-only rule passes + one grouped agg; gopher carries the
      // RepetitionProfile bigram pass
      "c4_rules" -> (d => graft.operators.CorpusFilters.c4Report(
        d.withColumn("source",
          concat(lit("s"), pmod(col("doc_id"), lit(16))))).count()),
      "gopher_rules" -> (d => graft.operators.CorpusFilters.gopherReport(
        d.withColumn("source",
          concat(lit("s"), pmod(col("doc_id"), lit(16))))).count()),
      // synthetic 4-item baskets (order = doc, parts from leading
      // tokens): pair blowup stays bounded by basket size while the
      // basket COUNT scales with the corpus
      "market_basket" -> { d =>
        val items = d.select(col("doc_id").as("l_orderkey"),
          explode(slice(split(col("text"), "\\s+"), 1, 4)).as("__t"))
          .select(col("l_orderkey"),
            pmod(xxhash64(col("__t")), lit(5000L)).as("l_partkey"))
        graft.operators.Basket.partAffinity(items, minBoth = 2L,
          topK = 100).count()
      },
      // map-only regex flags + one grouped agg — flattest shape
      "encoding_audit" -> (d => graft.operators.CorpusFilters
        .encodingAudit(d.withColumn("source",
          concat(lit("s"), pmod(col("doc_id"), lit(16))))).count()),
      // one grouped agg to source cardinality + two 1-row factors
      "theil" -> (d => graft.operators.Inequality.theilDecomposition(
        d.withColumn("source",
          concat(lit("s"), pmod(col("doc_id"), lit(16)))),
        col("source"), length(col("text"))).count()),
      // positions explode corpus tokens but the broadcast benchmark
      // join (pinned to the BASE slice — benchmarks don't grow with
      // the corpus) filters immediately; rebuild joins match-lists
      "decontaminate_excise" -> (d => graft.operators.Decontaminate
        .exciseContaminated(d.filter(col("doc_id") % 41 =!= 0),
          base.filter(col("doc_id") % 41 === 0), n = 4).count()),
      // one corpus pass into <=10 bins + 1-row base-rate factor
      "brier" -> (d => graft.operators.QualityModel.brierDecomposition(
        d.select(
          graft.functions.TextFunctions.qualityScore(col("text"))
            .as("quality"),
          (length(col("text")) >= 300).as("label")),
        "quality", "label").count()),
      // score-cardinality ROC table + one ordered limit
      "youden" -> (d => graft.operators.ClassifierEval.youdenThreshold(
        d.select(
          graft.functions.TextFunctions.qualityScore(col("text"))
            .as("score"),
          (pmod(col("doc_id"), lit(3)) === 0).as("label")),
        "score", "label").collect().length.toLong),
      // same score-cardinality table as youden, one-row reduction
      "avg_precision" -> (d =>
        graft.operators.ClassifierEval.averagePrecision(
          d.select(
            graft.functions.TextFunctions.qualityScore(col("text"))
              .as("score"),
            (pmod(col("doc_id"), lit(3)) === 0).as("label")),
          "score", "label").collect().length.toLong),
      // explode → vocab-bounded counts + 1-row totals + top-k limit
      "dunning_llr" -> (d => graft.operators.Keyness.dunningLlr(d,
        pmod(col("doc_id"), lit(2)) === 0).count()),
      "fightin_words" -> (d => graft.operators.Keyness.monroeLogOdds(d,
        pmod(col("doc_id"), lit(2)) === 0).count()),
      // staged-array bigram explode + vocab-keyed joins + top-k
      "collocations" -> (d =>
        graft.operators.Keyness.collocations(d).count()),
      // (source × token) counts; the |S|·30 grid and pair join are
      // source-bounded — probe sources via doc_id buckets
      "burrows_delta" -> (d => graft.operators.Keyness.burrowsDelta(
        d.withColumn("source",
          concat(lit("s"), pmod(col("doc_id"), lit(10))))).count()),
      // explode → vocab counts → max-count-bounded spectrum → 1 row
      "lexical_richness" -> (d =>
        graft.operators.Vocab.lexicalRichness(d).count()))

    // ---- embedding-input operators: amplified by cyclic coordinate
    // rotation per copy — rotations of distinct 64-dim vectors are
    // decorrelated (cos ≈ 0), so copies add corpus volume without
    // adding artifactual near-dup pairs, the same disjointness rule as
    // the token-suffix trick above ----
    lazy val embBase = graft.io.Sources.table(spark, sfDir, "embeddings")
      .select("vec_id", "embedding", "label")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    lazy val embBig = {
      val embDim = embBase.select(size(col("embedding"))).first().getInt(0)
      val embShift = embBase.agg(max("vec_id")).collect()(0).getLong(0) + 1L
      // the rotation cycle repeats at embDim copies — beyond that, later
      // generations would be EXACT duplicates of earlier ones, creating
      // the artifactual near-dup pairs the disjointness rule excludes
      require(factor <= embDim,
        s"embedding amplification factor $factor exceeds embDim $embDim — " +
          "rotation would cycle and generations would collide")
      val b = (0 until factor).map { i =>
        val rot = i % embDim
        embBase.select((col("vec_id") + lit(i * embShift)).as("vec_id"),
          concat(slice(col("embedding"), rot + 1, embDim - rot),
            slice(col("embedding"), 1, rot)).as("embedding"),
          col("label"))
      }.reduce(_ unionByName _)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      b.count()
      b
    }
    // which amplification does this shape carry? (for ops whose scale
    // contract is a sampling knob ∝ N — buckets, probeMod)
    def factorOf(d: DataFrame): Int = if (d eq embBig) factor else 1

    val embOps: Seq[(String, DataFrame => Long)] = Seq(
      // k ∝ N pins the expected cell size, so within-cell pair work,
      // the CC contraction, and the keep window all scale linearly;
      // cells past maxCell fall back to sorted-neighborhood pairs
      "semantic_dedup" -> (d => graft.operators.Similarity
        .semDeDup(d, tau = 0.95).filter(col("keep")).count()),
      // build once on the batch, then admission against the PERSISTED
      // codebook: the timed work is the map-only assignment + one
      // postings append — the steady-state ingest shape
      "vector_index_add" -> { d =>
        val root = graft.util.TempDirs.create("graft_sp_vidx").resolve("ix").toString
        graft.operators.VectorIndex.build(spark, root,
          d.filter(col("vec_id") % 7 === 0))
        graft.operators.VectorIndex.addBatch(spark, root,
          d.filter(col("vec_id") % 7 =!= 0))._1.toLong
      },
      // two posexplode aggs shuffling labels·dims rows + one
      // labels-row join: the per-row map work is the only thing that
      // grows with the corpus
      "embedding_drift" -> (d => graft.operators.Drift.embeddingDrift(
        d.filter(col("vec_id") % 2 === 0),
        d.filter(col("vec_id") % 2 === 1)).count()),
      // benchmark pinned to the BASE corpus slice (eval sets don't
      // grow with the corpus); the timed region is the map-only
      // MaxCosine pass over the amplified side — must be ~linear
      "semantic_gate" -> (d => graft.operators.Decontaminate.semanticGate(
        d.filter(col("label") =!= 9),
        embBase.filter(col("label") === 9), tau = 0.4).count()),
      // fixed codebook size + fixed budget: assignment is map-only,
      // seat allocation is a k-row driver step, the salted two-phase
      // windows rank only alloc-bounded survivors in phase 2
      "diverse_subset" -> (d => graft.operators.Similarity
        .diverseSubset(d, budget = 500, numCentroids = 64).count()),
      // √N-capped codebook pins the expected cell, so within-cell
      // pair work and the per-anchor top-k both track corpus size
      "hard_negatives" -> (d => graft.operators.Similarity
        .hardNegatives(d, k = 3).count()),
      // one scan exploding d(d+1)/2 products per row into a FIXED
      // 2080-group agg — pure map+partial-agg, the flattest shape here
      "pca_covariance" -> (d => graft.operators.Pca.covariance(d).count()),
      // explode to |labels|·d partial agg then a d-row reduction;
      // output is dimension-sized whatever the corpus
      "class_separation" -> (d => graft.operators.Anova
        .classSeparation(d).count()),
      // buckets ∝ N holds the sampled-pair budget fixed (the
      // operator's documented scale contract), so the probe times the
      // bucket shuffle + a constant pair count
      "alignment_uniformity" -> (d => graft.operators.EmbeddingAudit
        .alignmentUniformity(d, buckets = 101 * factorOf(d)).count()),
      // fixed broadcast query set (base ids < 8) x growing corpus
      "sq8_ann" -> (d => graft.operators.ScalarQuantization
        .sq8TopK(d, d.filter(col("vec_id") < 8), k = 5).count()),
      "truncated_recall" -> (d => graft.operators.TruncatedRecall
        .recallCurve(d, d.filter(col("vec_id") < 8), k = 10,
          dims = Seq(16, 64)).count()),
      // probeMod ∝ N pins the probe-sample SIZE (production passes a
      // bounded probe set), so corpus growth is the only timed axis
      "knn_label_noise" -> (d => graft.operators.EmbeddingAudit
        .knnLabelNoise(d, k = 10, probeMod = 7 * factorOf(d)).count()),
      // the q241 covariance scan reduced to two trace sums — the
      // pca_covariance shape with a 1-row tail
      "participation" -> (d => graft.operators.Dimensionality
        .participationRatio(d).count()),
      // probeMod ∝ N pins the probe count (the knn_label_noise
      // contract); timed axis = the broadcast N×|probes| dot pass
      "twonn" -> (d => graft.operators.Dimensionality
        .twoNN(d, probeMod = 7 * factorOf(d)).count()),
      // queryMod ∝ N pins the query count; occurrence join + moment
      // tail are corpus-linear
      "hubness" -> (d => graft.operators.Dimensionality
        .hubness(d, k = 10, queryMod = 5 * factorOf(d)).count()))

    // ---- event-input operators: amplified by shifting user/event ids
    // per copy — copies are DISJOINT users, so per-user sequence
    // lengths (the window/state unit) stay fixed while user count
    // scales, the linear direction these operators must absorb ----
    lazy val evBase = graft.io.Sources.table(spark, sfDir, "events")
      .select("event_id", "user_id", "ts", "event_type", "value", "props")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    lazy val evBig = {
      val evUserShift = evBase.agg(max("user_id")).collect()(0).getLong(0) + 1L
      val evIdShift = evBase.agg(max("event_id")).collect()(0).getLong(0) + 1L
      val b = (0 until factor).map { i =>
        evBase.select(
          (col("event_id") + lit(i * evIdShift)).as("event_id"),
          (col("user_id") + lit(i * evUserShift)).as("user_id"),
          col("ts"), col("event_type"), col("value"), col("props"))
      }.reduce(_ unionByName _)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      b.count()
      b
    }

    val evOps: Seq[(String, DataFrame => Long)] = Seq(
      // one filtered (user, min ts) agg per step; disjoint users keep
      // per-step frames proportional to the corpus. Frames are
      // unpersisted between runs so each timing covers the N
      // materialization scans, not a cache re-read of the last run's
      "funnel" -> { d =>
        val frames = graft.operators.Funnel
          .stepFrames(d, Seq("view", "click", "purchase"))
        val n = frames.map(_.count()).sum
        frames.foreach(_.unpersist(blocking = true))
        n
      },
      // the lead() window shuffles once on the user key; matrix stays
      // |types|² regardless of scale
      "transitions" -> (d => graft.operators.Sessionize
        .transitionMatrix(d).agg(sum("n")).collect()(0).getLong(0)),
      // map-side decay into one grouped agg — the flattest possible
      // shape; included to catch accidental window/join creep
      "decayed_mix" -> (d => graft.operators.Sampling
        .decayedMix(d, Seq("event_type"), "ts", "value",
          asOf = "2024-02-01 00:00:00", halfLifeDays = 7.0).count()),
      // the other NTILE replacement: per-user pre-agg (the only
      // shuffle) + three sketch thresholds + map-side bucketing; the
      // grid output is ≤ nTiles³ rows whatever the user count
      "rfm_approx" -> (d => graft.operators.Retention
        .rfmSegmentsApprox(d).count()),
      // one window per user (gap flags) + one grouped agg; per-user
      // series length fixed, user count is the scaled axis
      "sessionize" -> (d => graft.operators.Sessionize
        .sessionStats(d, "user_id", "ts", gapSeconds = 1800L, "value")
        .count()),
      // two shuffles (first-seen cohort agg + activity join); the
      // output stays |cohorts|×|weeks| however many users there are
      "retention" -> (d => graft.operators.Retention
        .cohortRetention(d).agg(sum("active_users"))
        .collect()(0).getLong(0)),
      // build side pinned to the BASE user set at both shapes, probe
      // side ∝N: times the map-only bloom probe over the growing
      // corpus — the semi-join-reduction scan this pattern buys
      "bloom_reduce" -> (d => graft.operators.RuntimeFilter
        .bloomFiltered(d, "user_id",
          evBase.filter(col("user_id") % 5 === 0), "user_id")
        .count()),
      // per-user lag window + two moment aggs; disjoint amplified
      // users keep window partitions constant-size, so ideal is ~N
      "burstiness" -> (d =>
        graft.operators.EventTime.burstiness(d).count()),
      // amplified users replay the SAME ~100-page graph, so edge
      // extraction (the corpus-scale stage) grows ×N while the graph
      // joins stay constant — the honest 100 TB shape: graph-sized
      // downstream work, corpus-sized only in the first shuffle
      "triangles" -> (d =>
        graft.operators.Triangles.navigationTriangles(d).count()),
      // disjoint users grow the user-day presence table linearly while
      // the pair fan-out stays bounded by the 5-type vocabulary
      "session_pmi" -> (d =>
        graft.operators.Cooccurrence.sessionPmi(d).count()),
      // rank tables are VALUE-cardinality: event_id distinct grows ×N
      // (worst case — every value unique), value/user repeat, so the
      // probe times the freq-table windows AND the corpus joins
      "correlation" -> (d => graft.quality.Correlation
        .correlationMatrix(d, Seq("event_id", "user_id", "value"))
        .count()),
      // presence-table self-join on (user, day−1): disjoint users grow
      // the join linearly, the report stays calendar-sized
      "growth_accounting" -> (d =>
        graft.operators.Growth.accounting(d).count()),
      // presence-scale offset grid + per-user cumsum window — the
      // heaviest shape of the tier; output offset-cardinality
      "ltv_curve" -> (d => graft.operators.Growth.ltvCurve(d).count()),
      // per-day cumulative moments: corpus work is one grouped agg,
      // every window runs over the calendar
      "msprt" -> (d => graft.operators.Experiment.sequentialMsprt(
        d.where(col("event_type") === "purchase")
          .groupBy(col("user_id"), to_date(col("ts")).as("d"))
          .agg(sum("value").as("m")),
        col("user_id") % 2 === 1, col("d"), col("m"),
        tau = 25.0).count()),
      // one key-shuffle sessionization + session-cardinality rollup
      "session_summary" -> (d =>
        graft.operators.Sessionize.sessionSummary(d).count()),
      // per-user lifetime agg + lifetime-cardinality risk windows
      "kaplan_meier" -> (d => graft.operators.Survival
        .kaplanMeier(d, horizonDays = 1).count()),
      // one (type, day) grouped agg — the corpus-scale stage — then
      // moments on a calendar×type frame
      "ols_trend" -> (d =>
        graft.operators.Regression.olsTrend(d).count()),
      // candidate×day grid is calendar²-bounded; the ×N axis only
      // feeds the daily grouped agg
      "breakpoint" -> (d =>
        graft.operators.Regression.breakpoint(d).count()),
      // per-user agg + 1-row prior factor + segment agg — all ∝N in
      // the first shuffle only
      "eb_shrinkage" -> (d =>
        graft.operators.Regression.ebShrinkage(d).count()),
      // grid prune keeps the exact pass near-frontier-sized while the
      // per-user agg grows ×N
      "skyline" -> (d => graft.operators.Skyline.frontier2d(
        d.groupBy("user_id").agg(
          round(sum("value"), 2).as("rev"),
          count(lit(1)).as("cnt")),
        col("rev"), col("cnt")).count()),
      // per-stratum RANGE cumulative window: partitions grow ×N but
      // stay key-parallel (5 types × N rows each)
      "weighted_quantiles" -> (d => graft.operators.Sampling
        .weightedQuantiles(d, "event_type", "value", "value").count()),
      // distributed top-k heads per partition; arithmetic on k+1 rows
      "hill_tail" -> (d => graft.operators.Concentration
        .hillTailIndex(d, "value", k = 100).count()),
      // one grouped agg, stratum-cardinality out
      "ess" -> (d => graft.operators.Sampling
        .effectiveSampleSize(d, "event_type", "value").count()),
      // corpus-scale work is the edge extraction (∝N); the peel
      // rounds are graph-cardinality (same ~100-page graph replayed)
      "kcore" -> (d =>
        graft.operators.KCore.navigationKCore(d, k = 3).count()),
      // per-(arm,group) agg out of the unit shuffle; 2B-row LOO math
      "ratio_jackknife" -> (d => graft.operators.Experiment
        .ratioJackknife(
          d.groupBy("user_id").agg(
            sum(when(col("event_type") === "purchase", col("value"))
              .otherwise(0.0)).as("x"), count(lit(1)).as("y")),
          col("user_id") % 2 === 1, col("x"), col("y"),
          col("user_id")).count()),
      // exact-percentile cap (1-row factor) + one conditional agg
      "ab_winsorized" -> (d => graft.operators.Experiment
        .winsorizedWelch(
          d.groupBy("user_id").agg(
            sum(when(col("event_type") === "purchase", col("value"))
              .otherwise(0.0)).as("m")),
          col("user_id") % 2 === 1, col("m")).count()),
      // corpus work is the daily agg; the fold runs over the bounded
      // per-type calendar array
      "holt_trend" -> (d =>
        graft.operators.Forecast.holtBacktest(d).count()),
      // q269's moment shape + one type-partitioned calendar window
      "durbin_watson" -> (d =>
        graft.operators.Regression.durbinWatson(d).count()),
      // one daily grouped agg (the ∝N stage), one calendar lag
      // window, one moment row
      "granger" -> (d =>
        graft.operators.Causality.granger(d).count()),
      // per-user agg + score-cardinality cumulative windows
      "qini" -> (d =>
        graft.operators.Uplift.qiniFromEvents(d).count()),
      // group medians (grouped exact percentile) + moment reduction
      "brown_forsythe" -> (d => graft.operators.Homogeneity
        .brownForsythe(d, col("event_type"), col("value")).count()),
      // blocks = calendar days, treatments = event types: cell table
      // is calendar x k; ranks run in k-bounded block windows
      "friedman" -> (d => graft.operators.Homogeneity.friedman(d,
        to_date(col("ts")), col("event_type"), col("value")).count()),
      // one first-purchase agg + user-keyed join + two user windows
      "touch_attribution" -> (d =>
        graft.operators.Attribution.touchComparison(d).count()),
      // per-user agg + lifetime-cardinality risk windows
      "competing_risks" -> (d =>
        graft.operators.Survival.competingRisks(d).count()),
      // per-unit agg + stratum rate table + 1-row pooled factor
      "simpsons" -> { d =>
        val pu = d.groupBy("user_id").agg(
          count(lit(1)).as("n_ev"),
          max(when(col("event_type") === "purchase", 1.0)
            .otherwise(0.0)).as("y"))
        graft.operators.Simpsons.audit(pu,
          when(col("n_ev") <= 62, "low")
            .when(col("n_ev") <= 70, "mid").otherwise("high"),
          col("user_id") % 2 === 1, col("y")).count()
      },
      // one per-user agg + k-treatment presence grid + 1-row factors
      "cochran_q" -> (d => graft.operators.Homogeneity.cochranQ(d,
        col("user_id"), col("event_type")).count()),
      // one per-user half-count agg + value-cardinality rank table
      "signed_rank" -> (d => graft.operators.PairedTests
        .signedRankHalves(d).count()),
      // the pagerank Pregel shape with two half-steps per iteration;
      // page universe is fixed, so only the edge build scales
      "hits" -> (d => graft.operators.GraphRank
        .navigationHits(spark, d).count()),
      // one |units x items| grouped count + item/unit moment tails
      "cronbach" -> (d => graft.operators.Reliability
        .cronbachAlpha(d, col("user_id"), col("event_type")).count()),
      // corpus work is one grouped daily count; the DP is
      // calendar-bounded on the driver
      "dtw" -> (d => graft.operators.TimeWarp
        .dtwDaily(d, "view", "click").count()),
      // one grouped moment agg to k rows + a k-row reduction
      "oneway_anova" -> (d => graft.operators.Anova.onewayF(d,
        col("event_type"), col("value")).count()),
      // value-frequency table + cumulative ECDF windows (the AD shape)
      "cvm" -> (d => graft.operators.Drift.cvmTwoSample(d,
        dayofweek(col("ts")).isin(1, 7), col("value")).count()),
      // per-user lifetime agg + lifetime-cardinality risk windows
      "rmst" -> (d => graft.operators.Survival
        .rmst(d, horizonDays = 1).count()),
      "gehan" -> (d => graft.operators.Survival.gehanWilcoxon(d,
        col("user_id") % 2 === 1, horizonDays = 1).count()),
      // per-user spend agg + one power-mean moment row
      "atkinson" -> (d => graft.operators.Inequality.atkinson(
        d.groupBy("user_id").agg(sum("value").as("x")),
        col("x")).count()),
      // daily agg + calendar-bounded aux-regression moments
      "breusch_pagan" -> (d =>
        graft.operators.Regression.breuschPagan(d).count()),
      // one Σx..Σx⁴ pass + scalar transforms
      "dagostino" -> (d => graft.operators.Normality
        .dagostinoK2(d, col("value")).count()),
      // (type × weekday) cells + cell-cardinality rank windows
      "page_trend" -> (d => graft.operators.Homogeneity.pageTrend(d,
        col("event_type"), dayofweek(col("ts")), col("value")).count()),
      "kendall_w" -> (d => graft.operators.Homogeneity.kendallW(d,
        col("event_type"), dayofweek(col("ts")), col("value")).count()),
      // corpus work is one daily agg; O(days²) templates on the driver
      "sample_entropy" -> (d =>
        graft.operators.Anomaly.sampleEntropy(d).count()),
      // one per-slice conditional count + closed-form CI arithmetic
      "wilson" -> (d => graft.operators.Experiment.wilsonIntervals(d,
        dayofweek(col("ts")).cast("long"),
        col("event_type") === "purchase").count()),
      // daily agg + deliberate days² pair cross (calendar-bounded)
      "hodges_lehmann" -> (d => graft.operators.Experiment
        .hodgesLehmann(d, dayofweek(col("ts")).isin(1, 7)).count()),
      // edge extraction ∝ corpus; BFS on the bounded pages² table
      "bfs_distances" -> (d =>
        graft.operators.GraphAudit.bfsDistances(d).count()),
      // per-user groups scale with the corpus; k-row moment reduce
      "icc" -> (d => graft.operators.Anova.icc1(d,
        col("user_id"), col("value")).count()),
      // per-user strata agg + stratum-cardinality weight reduce
      "ipw_att" -> (d =>
        graft.operators.Matching.errorImpactIpw(d).count()),
      // daily agg + three days² V-statistic pair crosses
      "energy_distance" -> (d => graft.operators.Drift.energyDistance(
        d, dayofweek(col("ts")).isin(1, 7)).count()),
      // daily agg + days² double-centered distance matrices
      "dcor" -> (d =>
        graft.operators.Causality.distanceCorrelation(d).count()),
      // exact KS, Lilliefors and BWS over the distinct-value table of
      // `value`: the frequency table and its running counts are the
      // PrefixSum stage (BWS adds its per-(value, cohort) row numbers);
      // collected, so no result column is pruned away
      "ks_exact" -> (d => graft.operators.Drift.ksReport(
        d.where(col("user_id") % 2 === 0), d.where(col("user_id") % 2 === 1),
        "value").collect().length.toLong),
      "lilliefors" -> (d => graft.operators.Normality
        .lilliefors(d, col("value")).collect().length.toLong),
      "bws" -> (d => graft.operators.TwoSampleRank.bws(d,
        col("user_id") % 2 === 1, col("value"), col("event_id"))
        .collect().length.toLong),
      // 24-row hour histogram + running counts over it
      "kuiper" -> (d =>
        graft.operators.Drift.kuiperUniformity(d).collect().length.toLong),
      // per-season day-pair cross (calendar²/7) + tie tables
      "seasonal_mk" -> (d =>
        graft.operators.Anomaly.seasonalMannKendall(d).count()),
      // calendar rank windows + 1-row mean factor
      "bartels" -> (d =>
        graft.operators.Anomaly.bartelsRank(d).count()),
      // 24-row histogram + closed-form stair sums
      "watson_u2" -> (d =>
        graft.operators.Drift.watsonU2(d).collect().length.toLong),
      // k×k cell grid from one corpus-scale grouped count
      "weighted_kappa" -> (d =>
        graft.quality.Agreement.weightedKappa(d,
          pmod(col("user_id"), lit(3)),
          pmod(col("event_id"), lit(3))).count()),
      // value-frequency table + midrank windows + 1-row factors
      // (all three share the pooled-frequency dataflow)
      "cucconi" -> (d => graft.operators.TwoSampleRank.cucconi(d,
        dayofweek(col("ts")).isin(1, 7), col("value")).count()),
      "lepage" -> (d => graft.operators.TwoSampleRank.lepage(d,
        dayofweek(col("ts")).isin(1, 7), col("value")).count()),
      "conover_sqranks" -> (d => graft.operators.TwoSampleRank
        .conoverSquaredRanks(d, dayofweek(col("ts")).isin(1, 7),
          col("value")).count()),
      // per-user first-5 window + (item, category) grouped counts
      "fleiss_kappa" -> (d =>
        graft.quality.Agreement.firstEventsFleiss(d).count()),
      // calendar lag windows + scalar reduces (the Bartels shape)
      "turning_points" -> (d =>
        graft.operators.SeriesTests.turningPoints(d).count()),
      "cox_stuart" -> (d =>
        graft.operators.SeriesTests.coxStuart(d).count()),
      "records_test" -> (d =>
        graft.operators.SeriesTests.recordsTest(d).count()),
      "hjorth" -> (d =>
        graft.operators.SeriesTests.hjorth(d).count()),
      "perm_entropy" -> (d =>
        graft.operators.SeriesTests.permutationEntropy(d).count()),
      "dispersion_index" -> (d =>
        graft.operators.SeriesTests.dispersionIndex(d).count()),
      "allan_deviation" -> (d =>
        graft.operators.SeriesTests.allanDeviation(d).count()),
      // calendar table + 1-row center-line factors
      "imr_chart" -> (d =>
        graft.operators.ControlCharts.imrChart(d).count()),
      "p_chart" -> (d =>
        graft.operators.ControlCharts.pChart(d).count()),
      // 50-bin two-cohort histogram + 1-row totals factor
      "hist_distances" -> (d =>
        graft.operators.Drift.histogramDistances(d,
          dayofweek(col("ts")).isin(1, 7), col("value")).count()),
      // contingency + entropy/second-moment 1-row factors
      "nominal_assoc" -> (d =>
        graft.operators.Ordinal.nominalAssociation(d,
          col("event_type"), dayofweek(col("ts"))).count()),
      // 2xk cohort-category table + 1-row margins factor
      "cressie_read" -> (d =>
        graft.operators.Drift.cressieRead(d,
          dayofweek(col("ts")).isin(1, 7), col("event_type")).count()),
      // one (count, distinct-day) agg per cohort, scalar combine
      "poisson_rate" -> (d =>
        graft.operators.Drift.poissonRateRatio(
          d.where(col("event_type") === "error"),
          dayofweek(col("ts")).isin(1, 7)).count()),
      // calendar table + 1-row moment factor + ordered limit; the
      // quantile chain is pure scalar arithmetic
      "grubbs" -> (d => graft.operators.Outliers.grubbs(d).count()))

    // build the selected families' inputs up front (the embedding cap
    // fails here, before any timing), then time the selected ops
    val selected = Seq[(Seq[(String, DataFrame => Long)],
        () => (DataFrame, DataFrame))](
        (ops, () => (base, big)), (embOps, () => (embBase, embBig)),
        (evOps, () => (evBase, evBig)))
      .map { case (fam, in) => (fam.filter(o => only.forall(_.contains(o._1))), in) }
      .collect { case (fam, in) if fam.nonEmpty => (fam, in()) }
    for ((fam, (in1, inN)) <- selected; (name, f) <- fam) {
      // pin THIS op's inputs (the trailing clearCache dropped them),
      // so the timed region covers the operator, not input generation
      in1.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count()
      inN.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count()
      time(f(in1)); time(f(inN))              // warm both shapes
      val (t1, _) = time(f(in1))
      val (tN, _) = time(f(inN))
      val ratio = tN / t1
      println(f"[scale] $name%-14s 1x=$t1%6.2fs ${factor}x=$tN%6.2fs ratio=$ratio%5.2f (ideal <= $factor)")
      // drop operator-persisted intermediates (LSH signature tables)
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
