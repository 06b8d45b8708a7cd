package graft.sim

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Principal component analysis over an embedding column — the classic
  * spectrum audit for learned representations: how many directions carry
  * the corpus's variance (effective dimensionality), which raw dimensions
  * load them, and whether the space has collapsed (one dominant
  * component = degenerate embeddings; see Jolliffe, public literature).
  * Complements [[EmbeddingStats]]'s per-dimension variances with the
  * cross-dimension structure those marginals can't see.
  *
  * Scale split (the Bpe/FastText discipline): the corpus-sized work is
  * ONE typed-Aggregator pass accumulating (n, Σx, upper-tri Σxxᵀ) —
  * d(d+3)/2+1 doubles of state, map-side combined, a few-KB exchange
  * regardless of corpus size. The d×d eigenproblem is dimension-sized
  * (d ≤ a few thousand) and runs as a deterministic cyclic Jacobi on the
  * driver — the same bounded-driver-step shape as BPE's merge loop and
  * k-means' centroid update.
  *
  * Determinism (r15): the moment pass sums every per-row contribution
  * exactly on the 1e-12 grid (graft.Num.qsum's accumulator) — and the
  * shift vector is the corpus row with the
  * smallest xxhash64, not an order-dependent limit(1). So the fitted
  * model is bit-identical under any partition layout, core count, or
  * shuffle merge order — required now that the embeddings scan is
  * multi-split. The registered query stays rows-only (an
  * eigendecomposition has no ANSI form). PcaSpec pins the algebra
  * exactly: orthonormality, Av = λv residuals, trace preservation, and
  * a closed-form 2-D fixture.
  */
object Pca {

  /** Eigen-spectrum model: `mean(d)`, eigenvalues desc, eigenvectors
    * (rows aligned with eigenvalues, unit norm, sign fixed so each
    * vector's largest-|loading| entry is positive — Jacobi's rotation
    * signs are otherwise arbitrary). */
  final case class Model(mean: Array[Double], eigenvalues: Array[Double],
                         eigenvectors: Array[Array[Double]]) {
    def dim: Int = mean.length
  }

  /** Moments: [0]=n, [1..d]=Σ(x−s), [1+d ..]=upper-tri Σ (x−s)_i·(x−s)_j.
    * Accumulating SHIFTED moments (s = a deterministic corpus vector)
    * keeps the second-moment magnitudes near the covariance scale: the
    * raw E[x_i x_j] − μ_i μ_j form cancels catastrophically when the mean
    * offset dwarfs the variance (large-|μ| embeddings), degrading small
    * eigenpairs; the shifted form is the textbook fix and is algebraically
    * identical (covariance is translation-invariant).
    *
    * The buffer is EXACT-INTEGER (r15): [0]=n, then one graft.Num.qsum
    * limb pair per moment slot on the 1e-12 grid (`Num.qadd`, `qmerge`,
    * `qtotal`), so merge order cannot move the result (the raw-double
    * buffer this replaces made the covariance's last ulp depend on
    * partition merge order). */
  private final class MomentAgg(d: Int, shift: Array[Double],
      encL: org.apache.spark.sql.Encoder[Array[Long]],
      encD: org.apache.spark.sql.Encoder[Array[Double]])
      extends Aggregator[Seq[Float], Array[Long], Array[Double]] {
    private val triLen = d * (d + 1) / 2
    private val nSlots = d + triLen
    private val Grid = 1e12
    def zero: Array[Long] = new Array[Long](1 + 2 * nSlots)
    private def add(b: Array[Long], slot: Int, x: Double): Unit = graft.Num.qadd(b, 1 + 2 * slot, x, Grid)
    def reduce(b: Array[Long], v: Seq[Float]): Array[Long] = {
      require(v.length == d,
        s"Pca: vector of dim ${v.length} in a dim-$d corpus")
      b(0) += 1L
      var i = 0
      var slot = d
      while (i < d) {
        val xi = v(i).toDouble - shift(i)
        add(b, i, xi)
        var j = i
        while (j < d) { add(b, slot, xi * (v(j).toDouble - shift(j))); slot += 1; j += 1 }
        i += 1
      }
      b
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      a(0) += b(0)
      var s = 0
      while (s < nSlots) { graft.Num.qmerge(a, b, 1 + 2 * s); s += 1 }
      a
    }
    def finish(r: Array[Long]): Array[Double] =
      Array.tabulate(1 + nSlots)(s => if (s == 0) r(0).toDouble else graft.Num.qtotal(r, 2 * s - 1, Grid))
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] = encL
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Double]] = encD
  }

  /** Fit the spectrum: one distributed moment pass + driver Jacobi. The
    * 1-row shift probe picks the corpus row with the SMALLEST xxhash64
    * (vector value as tie-break) — a deterministic, layout-independent
    * choice where a bare limit(1) returned whichever partition answered
    * first — and hands the aggregator its shift vector (a real corpus
    * point ≈ the mean's magnitude), so the second moments accumulate
    * near the covariance scale — see [[MomentAgg]]. */
  def fit(df: DataFrame, vecCol: String): Model = {
    val firstVec = df.select(col(vecCol)).filter(col(vecCol).isNotNull)
      .orderBy(xxhash64(col(vecCol)), col(vecCol))
      .limit(1).collect() match {
      case Array(row) => row.getSeq[Float](0)
      case _ => throw new IllegalArgumentException(
        s"Pca.fit: no non-null vectors in $vecCol")
    }
    val d = firstVec.length
    require(d >= 2, s"Pca needs dim >= 2, got $d")
    val shift = firstVec.map(_.toDouble).toArray
    val spark = df.sparkSession
    import spark.implicits._
    val moments = df.select(col(vecCol)).filter(col(vecCol).isNotNull)
      .as[Seq[Float]]
      .select(new MomentAgg(d, shift,
        implicitly[org.apache.spark.sql.Encoder[Array[Long]]],
        implicitly[org.apache.spark.sql.Encoder[Array[Double]]]).toColumn)
      .head()
    val n = moments(0)
    require(n >= 2, s"Pca needs >= 2 vectors, got ${n.toLong}")
    // centered deltas: δ_i = E[x_i − s_i]; mean = s + δ
    val delta = Array.tabulate(d)(i => moments(1 + i) / n)
    val mean = Array.tabulate(d)(i => shift(i) + delta(i))
    // population covariance: E[(x−s)_i (x−s)_j] − δ_i δ_j — both terms are
    // variance-scaled, no large-mean cancellation
    val cov = Array.ofDim[Double](d, d)
    var p = 1 + d
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = moments(p) / n - delta(i) * delta(j)
        cov(i)(j) = c; cov(j)(i) = c
        p += 1; j += 1
      }
      i += 1
    }
    val (values, vectors) = jacobiEigen(cov)
    Model(mean, values, vectors)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: sweeps in a
    * fixed (p,q) order until every off-diagonal is below tolerance —
    * deterministic given the input matrix. O(d³) per sweep on the
    * driver; dimension-sized by contract. Returns (eigenvalues desc,
    * matching unit eigenvectors as rows, sign-fixed). */
  private[sim] def jacobiEigen(m: Array[Array[Double]],
                               maxSweeps: Int = 64,
                               tol: Double = 1e-12): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = Array.tabulate(d, d)((i, j) => m(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offDiag(a)
    val scale = math.max(1.0, a.indices.map(i => math.abs(a(i)(i))).max)
    while (off > tol * scale && sweep < maxSweeps) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          if (math.abs(a(p)(q)) > tol * scale / (d * d)) {
            // classic 2×2 rotation zeroing a(p)(q)
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            val t = math.signum(theta) match {
              case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              case s   => s / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
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
      off = offDiag(a)
      sweep += 1
    }
    // sort desc by eigenvalue, ties broken by original column index
    val order = (0 until d).sortBy(i => (-a(i)(i), i))
    val values = order.map(i => a(i)(i)).toArray
    val vectors = order.map { i =>
      val vec = Array.tabulate(d)(k => v(k)(i))
      // sign convention: largest-|loading| entry positive
      val top = vec.indices.maxBy(k => (math.abs(vec(k)), -k))
      if (vec(top) < 0) vec.map(x => -x) else vec
    }.toArray
    (values, vectors)
  }

  private def offDiag(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = i + 1
      while (j < a.length) { s += math.abs(a(i)(j)); j += 1 }
      i += 1
    }
    s
  }

  /** The spectrum as a frame — one row per component: eigenvalue,
    * explained-variance ratio, cumulative ratio, and the heaviest-loading
    * raw dimension. Dimension-sized output. */
  def spectrum(df: DataFrame, vecCol: String): DataFrame = {
    val spark = df.sparkSession
    val model = fit(df, vecCol)
    val total = model.eigenvalues.map(v => math.max(v, 0.0)).sum
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    var cum = 0.0
    val rows = model.eigenvalues.zipWithIndex.map { case (ev, i) =>
      val ratio = if (total > 0) math.max(ev, 0.0) / total else 0.0
      cum += ratio
      val vec = model.eigenvectors(i)
      val top = vec.indices.maxBy(k => (math.abs(vec(k)), -k))
      Row(i, r6(ev), r6(ratio), r6(math.min(cum, 1.0)), top, r6(vec(top)))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1),
      StructType(Seq(
        StructField("component", IntegerType, nullable = false),
        StructField("eigenvalue", DoubleType, nullable = false),
        StructField("explained_ratio", DoubleType, nullable = false),
        StructField("cum_ratio", DoubleType, nullable = false),
        StructField("top_dim", IntegerType, nullable = false),
        StructField("top_loading", DoubleType, nullable = false))))
  }

  /** Project vectors onto the top-k components (a broadcast-literal
    * codegen'd projection — k·d multiply-adds per row, no shuffle):
    * output keeps `idCol` plus `pc` = array of k scores. For the driver
    * gate use [[projectFlat]] — a top-level array column defeats the
    * canonicalizer's column sort. */
  def project(df: DataFrame, idCol: String, vecCol: String,
              model: Model, k: Int): DataFrame = {
    require(k >= 1 && k <= model.dim,
      s"project k must be in [1, ${model.dim}], got $k")
    df.select(col(idCol), array(scoreCols(col(vecCol), model, k): _*).as("pc"))
  }

  /** [[project]] with SCALAR output columns `pc_0..pc_{k-1}` (6-dp
    * rounded, like `spectrum`'s outputs) so the frame is flat and
    * sortable by any consumer,
    * including the correctness gate's canonicalizer. */
  def projectFlat(df: DataFrame, idCol: String, vecCol: String,
                  model: Model, k: Int): DataFrame = {
    require(k >= 1 && k <= model.dim,
      s"projectFlat k must be in [1, ${model.dim}], got $k")
    val comps = scoreCols(col(vecCol), model, k).zipWithIndex.map {
      case (c, i) => graft.Num.dround(c, 6).as(s"pc_$i")
    }
    df.select(col(idCol) +: comps: _*)
  }

  /** Whitened projection with SCALAR output columns: each component
    * score divides by √λ_c so every output dimension has unit variance
    * under the fitted model — the standard preprocessing before
    * isotropic-distance work (SemDedup-style cosine on decorrelated
    * axes, Mahalanobis-ish outlier scoring). A non-positive eigenvalue
    * in the requested top-k refuses at call time — whitening by a
    * clamped zero tail would emit Infinity row-by-row, the silent
    * version of the same error. 6-dp rounded like [[projectFlat]]. */
  def whitenFlat(df: DataFrame, idCol: String, vecCol: String,
                 model: Model, k: Int): DataFrame = {
    require(k >= 1 && k <= model.dim,
      s"whitenFlat k must be in [1, ${model.dim}], got $k")
    val bad = model.eigenvalues.take(k).zipWithIndex.filter(_._1 <= 0.0)
    require(bad.isEmpty,
      s"whitenFlat: component(s) ${bad.map(_._2).mkString(", ")} have " +
        "non-positive eigenvalues — whitening them divides by zero; " +
        "project fewer components or use projectFlat")
    val comps = scoreCols(col(vecCol), model, k).zipWithIndex.map {
      case (c, i) =>
        graft.Num.dround(c / lit(math.sqrt(model.eigenvalues(i))), 6)
          .as(s"pc_$i")
    }
    df.select(col(idCol) +: comps: _*)
  }

  /** The k projection-score expressions (centered dot products). */
  private def scoreCols(vec: Column, model: Model, k: Int): Seq[Column] = {
    val meanLit = array(model.mean.map(lit): _*)
    val centered = zip_with(vec, meanLit,
      (x, m) => x.cast(DoubleType) - m)
    (0 until k).map { c =>
      val w = array(model.eigenvectors(c).map(lit): _*)
      aggregate(zip_with(centered, w, (x, wi) => x * wi),
        lit(0.0), (acc, t) => acc + t)
    }
  }
}
