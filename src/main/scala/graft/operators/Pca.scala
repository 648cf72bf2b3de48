package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PCA over an embedding column — the covariance/eigen audit a vector
  * corpus needs before the ANN/dedup tier consumes it: anisotropic
  * embedding spaces (a few directions hoard the variance) degrade
  * cosine-based recall (Mu & Viswanath, ICLR 2018 "All-but-the-Top"),
  * and whitening is the standard repair. The reference's analytics
  * stack has no vector tier at all (its engine delegates to
  * pandas/Athena, the glue jobs directory); this extends the repo's
  * embedding operators ([[Similarity]], [[ProductQuantization]]) with
  * the second-order statistics they implicitly assume.
  *
  * Scale shape: the ONLY corpus-size work is one scan per moment pass
  * (means, then centered products) that folds each partition into a
  * d(d+1)/2 accumulator array — the classic distributed-Gramian
  * dataflow: per-partition state is d²-bounded, the merge moves one
  * such array per partition, no self-join, no shuffle of raw vectors.
  * Everything after (Jacobi eigensolve, projection-matrix build) is
  * driver arithmetic on a d×d matrix (d = 64 here; bounded by
  * EMBEDDING dimension, never corpus size), exactly the
  * bounded-driver-state pattern of [[Similarity.fitCentroids]].
  * Whitening re-enters the cluster as a broadcast matrix multiply per
  * row.
  */
object Pca {

  /** Population covariance matrix of the embedding column as rows
    * `(i, j, cov)` over the upper triangle (1-based, i ≤ j).
    *
    * Two-pass CENTERED form: pass 1 collects the d per-dimension means
    * (dimension-, never corpus-bounded); pass 2 centers each vector
    * against the broadcast mean array and `transform`+`slice` emits
    * the d(d+1)/2 centered pair products into a grouped sum that
    * partial-aggregates map-side (2080 groups for d = 64). Centering
    * first — rather than the one-pass E[xy] − E[x]E[y] identity —
    * keeps the summands ~10⁴× smaller, so the 6-decimal display
    * rounding sits far above the partition-order FP noise floor and
    * the oracle hash is stable run-to-run (the one-pass form flipped
    * the 6th decimal nondeterministically; see round-10 q241). The
    * residual bias from centering on the estimated mean is
    * (μ−μ̂)ᵢ(μ−μ̂)ⱼ — second-order, ~1e-25 here. */
  def covariance(emb: DataFrame, vecCol: String = "embedding"): DataFrame =
    covarianceRaw(emb, vecCol)
      .select(col("i"), col("j"), round(col("cov"), 6).as("cov"))
      .orderBy("i", "j")

  /** [[covariance]] without the 6-decimal display rounding — what
    * [[fit]] eigensolves (rounding is an oracle concern; feeding it
    * into the whitening scale shows up as ~1e-5 variance error). */
  private def covarianceRaw(emb: DataFrame, vecCol: String): DataFrame =
    covRowsDf(emb, covMoments(emb, vecCol, dimMeans(emb, vecCol)))

  /** Centered upper-triangle moment rows `(i, j, cov)` (1-based,
    * i ≤ j, unrounded) via one distributed pass: each partition folds
    * its rows into a d(d+1)/2 sum/count accumulator pair, and the
    * per-partition accumulators (32 × ~2080 doubles here — bounded by
    * cores × d², never corpus size) merge on the driver in PARTITION
    * INDEX order, so the float summation order is reproducible
    * run-to-run. This replaced the explode-2080-structs-per-row form:
    * the nested transform/slice lambdas are non-codegen interpreted
    * expressions allocating d(d+1)/2 structs per vector (guide §4 —
    * eliminate non-codegen expressions in the hot path); the array
    * fold does the identical centered products in primitive loops.
    * Per-pair counts are COVERING-ROW counts: a pair (i,j) counts only
    * rows where both elements exist and are non-null — a deliberate
    * correction of the old zip_with form, whose count(lit(1)) also
    * counted the null-padded rows of ragged vectors (null-inflated
    * denominators), the same rows the DuckDB oracle's covar_pop
    * counts. The products, though, are centered on the global
    * per-dimension means μ, not on the pair's covering-row means
    * (x̄, ȳ) that covar_pop uses: on dense vectors the two agree, but
    * on ragged or null-holed vectors each off-diagonal entry differs
    * from covar_pop by (x̄ − μᵢ)(ȳ − μⱼ). Elements are read as Number
    * (any numeric array type works, not just float), nulls skipped per
    * element. */
  private def covMoments(emb: DataFrame, vecCol: String,
      mu: Array[Double]): Seq[(Long, Long, Double)] = {
    val spark = emb.sparkSession
    val muB = spark.sparkContext.broadcast(mu)
    val parts = emb.select(col(vecCol))
      .where(col(vecCol).isNotNull)
      .rdd.mapPartitionsWithIndex { (pid, it) =>
        val m = muB.value
        val d = m.length
        val len = d * (d + 1) / 2
        val s = new Array[Double](len)
        val c = new Array[Long](len)
        it.foreach { row =>
          val v = row.getSeq[Number](0)
          val n = math.min(v.length, d)
          val cent = new Array[Double](n)
          val ok = new Array[Boolean](n)
          var i = 0
          while (i < n) {
            val x = v(i)
            if (x != null) { cent(i) = x.doubleValue - m(i); ok(i) = true }
            i += 1
          }
          i = 0
          while (i < n) {
            if (ok(i)) {
              // flattened upper-triangle offset of row i: i*d - i(i-1)/2
              var idx = i * d - i * (i - 1) / 2
              val ci = cent(i)
              var j = i
              while (j < n) {
                if (ok(j)) { s(idx) += ci * cent(j); c(idx) += 1L }
                idx += 1; j += 1
              }
            }
            i += 1
          }
        }
        Iterator.single((pid, s, c))
      }.collect()   // bounded: one (d², d²) accumulator pair per partition
    val d = mu.length
    val len = d * (d + 1) / 2
    val sum = new Array[Double](len)
    val cnt = new Array[Long](len)
    parts.sortBy(_._1).foreach { case (_, s, c) =>
      var t = 0
      while (t < len) { sum(t) += s(t); cnt(t) += c(t); t += 1 }
    }
    for {
      i <- 0 until d
      j <- i until d
      idx = i * d - i * (i - 1) / 2 + (j - i)
      if cnt(idx) > 0L   // ragged corpora: a never-seen pair has no row
    } yield ((i + 1).toLong, (j + 1).toLong, sum(idx) / cnt(idx))
  }

  /** The moment rows as a DataFrame with [[covariance]]'s schema. */
  private def covRowsDf(emb: DataFrame,
      rows: Seq[(Long, Long, Double)]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    rows.toDF("i", "j", "cov")
  }

  /** Per-dimension means of the vector column, index order — a
    * d-double driver collect (the [[fit]] precedent). */
  private def dimMeans(emb: DataFrame, vecCol: String): Array[Double] =
    emb
      .select(posexplode(col(vecCol)).as(Seq("i", "x")))
      .groupBy("i").agg(avg(col("x").cast("double")).as("m"))
      .collect().sortBy(_.getInt(0)).map(_.getDouble(1))

  /** DuckDB oracle for [[covariance]] on the embeddings table. */
  val covarianceOracleSql: String =
    """WITH e AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |    CAST(UNNEST(embedding) AS DOUBLE) AS x
      |  FROM embeddings)
      |SELECT CAST(a.i AS BIGINT) AS i, CAST(b.i AS BIGINT) AS j,
      |  ROUND(covar_pop(a.x, b.x), 6) AS cov
      |FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Fitted PCA: the mean vector, eigenvalues (descending) and the
    * matching unit eigenvectors (`components(c)` is the c-th one). */
  final case class PcaModel(mean: Array[Double],
      eigenvalues: Array[Double], components: Array[Array[Double]])

  /** Fit a [[PcaModel]]: one distributed pass for the exact moment
    * sums (the [[covariance]] dataflow plus the mean), then a driver
    * Jacobi eigensolve on the d×d matrix. */
  def fit(emb: DataFrame, vecCol: String = "embedding"): PcaModel = {
    // ONE means pass shared between centering and the model (the old
    // form ran dimMeans twice: once inside the covariance pass and
    // again for PcaModel.mean — a full extra scan for nothing)
    val mean = dimMeans(emb, vecCol)
    val covRows = covMoments(emb, vecCol, mean)
      // bounded: d(d+1)/2 rows, dimension- not corpus-sized
    val d = covRows.iterator.map(_._2).max.toInt
    val a = Array.ofDim[Double](d, d)
    covRows.foreach { case (i0, j0, c) =>
      val (i, j) = (i0.toInt - 1, j0.toInt - 1)
      a(i)(j) = c; a(j)(i) = c
    }
    val (evals, evecs) = jacobiEigen(a)
    PcaModel(mean, evals, evecs)
  }

  /** Eigen-spectrum report `(component, eigenvalue, var_explained,
    * cum_var, participation_ratio)` — the isotropy audit: a
    * participation ratio (Σλ)²/Σλ² near d means variance spreads
    * evenly (isotropic, cosine-friendly); near 1 means one direction
    * dominates and whitening will change neighbor sets. */
  def spectrum(emb: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val m = fit(emb, vecCol)
    val tot = m.eigenvalues.sum
    val pr = {
      val s2 = m.eigenvalues.map(l => l * l).sum
      if (s2 > 0.0) tot * tot / s2 else 0.0
    }
    val cum = m.eigenvalues.scanLeft(0.0)(_ + _).tail
    m.eigenvalues.zipWithIndex.map { case (l, c) =>
      (c + 1L, round6(l), round6(if (tot > 0) l / tot else 0.0),
        round6(if (tot > 0) cum(c) / tot else 0.0), round6(pr))
    }.toSeq.toDF("component", "eigenvalue", "var_explained", "cum_var",
      "participation_ratio")
  }

  /** Whiten into the top-`k` principal components: y = Λ_k^{-1/2} ·
    * U_kᵀ · (x − μ). The projection matrix is driver-built (k·d
    * doubles) and enters the plan as literal arrays — per row this is
    * k codegen'd dot products, no shuffle at all. Components with
    * eigenvalue ≤ `eps` are scaled by 0 (degenerate directions carry
    * no signal, not infinities). */
  def whiten(emb: DataFrame, model: PcaModel, k: Int,
      vecCol: String = "embedding", idCol: String = "vec_id",
      eps: Double = 1e-12): DataFrame = {
    require(k >= 1 && k <= model.eigenvalues.length, "k out of range")
    val meanLit = array(model.mean.map(lit): _*)
    val centered = expr(s"zip_with($vecCol, __mu, (x, m) -> " +
      "CAST(x AS DOUBLE) - m)")
    val comps = (0 until k).map { c =>
      val scale =
        if (model.eigenvalues(c) > eps) 1.0 / math.sqrt(model.eigenvalues(c))
        else 0.0
      val u = array(model.components(c).map(lit): _*)
      (aggregate(zip_with(col("__c"), u, (x, w) => x * w),
        lit(0.0), (acc, v) => acc + v) * lit(scale)).as(s"pc${c + 1}")
    }
    emb
      .withColumn("__mu", meanLit)
      .withColumn("__c", centered)
      .select(col(idCol) +: array(comps: _*).as("whitened") +: Nil: _*)
  }

  private def round6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Cyclic Jacobi eigensolver for a symmetric matrix (Golub & Van
    * Loan §8.5): rotations annihilate off-diagonal entries until the
    * off-diagonal Frobenius mass is numerically zero. Returns
    * eigenvalues DESCENDING with matching unit eigenvectors —
    * deterministic (fixed sweep order, index tie-break), so spectrum
    * output is stable across runs. O(d³) per sweep on a d×d driver
    * matrix — microseconds at embedding dimensions. */
  private[graft] def jacobiEigen(
      a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = a0.map(_.clone)
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { s += a(i)(j) * a(i)(j); j += 1 }
        i += 1
      }
      s
    }
    var sweep = 0
    while (sweep < 100 && off() > 1e-18) {
      var p = 0
      while (p < n) {
        var q = p + 1
        while (q < n) {
          if (math.abs(a(p)(q)) > 1e-15) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            val t =
              if (theta == 0.0) 1.0
              else math.signum(theta) /
                (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < n) {   // A ← A·G (columns p, q)
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < n) {   // A ← Gᵀ·A (rows p, q)
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              k += 1
            }
            k = 0
            while (k < n) {   // V ← V·G
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val order = (0 until n).sortBy(i => (-a(i)(i), i))
    val evals = order.map(i => a(i)(i)).toArray
    val evecs = order.map(c => (0 until n).map(r => v(r)(c)).toArray).toArray
    (evals, evecs)
  }
}
