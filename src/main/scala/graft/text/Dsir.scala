package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Num

/** DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
  * 2023): select pre-training data that matches a TARGET distribution by
  * importance weights between two bag-of-n-grams generative models, one
  * fit on a target (trusted/domain) slice and one on the raw source.
  * Per document d with features f∈d:
  *
  *   log w(d) = Σ_f [ log p̂_target(f) − log p̂_raw(f) ]
  *
  * with Laplace-α smoothed feature probabilities p̂(f) = (c_f + α) /
  * (T + αV). The paper's features are hashed unigram+bigram counts;
  * `buckets = Some(B)` reproduces that (features = `pmod(xxhash64(gram),
  * B)`, V = B), while `buckets = None` keeps raw gram strings — the
  * estimator is identical, only the feature space is unhashed, and it is
  * what the DuckDB oracle mirrors (xxhash64 has no SQL twin; the hashed
  * lane is rows-only like every hash-keyed operator here).
  *
  * Scale shape: both count tables are vocab-bounded LM artifacts (at most
  * B rows when hashed — the paper's whole point is that B is SMALL, 10k
  * in the paper) and broadcast under `maxBroadcastFeatures`, so in the
  * intended hashed regime the corpus-sized gram stream joins against
  * broadcast maps on 8-byte keys and the only corpus-side exchange is
  * the final per-doc aggregation of partials — the [[LangModel.score]]
  * discipline. Per-gram log-ratios round to 6dp and accumulate as exact
  * decimals (the dsum rule), so weights hash identically cross-engine.
  *
  * Reference analogue: none (the reference has no text module); this is
  * the importance-weighting member of the quality-gate family (rows
  * 109/113), selecting FOR a domain rather than against noise.
  */
object Dsir {

  /** Unigram + bigram features (the paper's space), blank-safe. */
  private def gramsCol(text: Column): Column =
    filter(
      concat(TextAnalysis.ngrams(text, 1), TextAnalysis.ngrams(text, 2)),
      g => length(g) > 0)

  /** `portable = true` swaps xxhash64 for the md5-prefix fold
    * ([[graft.ops.Hll.h32]]) so an external engine recomputes the
    * feature ids — the oracle-replayable hashed lane; xxhash64 stays
    * the (faster) production default. */
  private def featCol(gram: Column, buckets: Option[Int],
                      portable: Boolean): Column =
    buckets.map { b =>
      (if (portable) pmod(graft.ops.Hll.h32(gram), lit(b.toLong))
       else pmod(xxhash64(gram), lit(b.toLong))).as("_gf_f")
    }.getOrElse(gram.as("_gf_f"))

  private def featFrame(df: DataFrame, textCol: String,
                        buckets: Option[Int], portable: Boolean): DataFrame =
    df.select(explode(gramsCol(col(textCol))).as("_gf_g"))
      .select(featCol(col("_gf_g"), buckets, portable))

  /** (idCol, n_feats, log_weight): one row per input document. Docs with
    * no features (blank text) report n_feats 0 and a null weight — no
    * evidence of domain affinity either way, the [[LangModel.score]]
    * convention. Leaves the fit's two feature-count tables cached
    * ([[logWeightsManaged]] hands their release back). */
  def logWeights(docs: DataFrame, idCol: String, textCol: String,
                 target: DataFrame, raw: DataFrame,
                 buckets: Option[Int] = None, alpha: Double = 1.0,
                 maxBroadcastFeatures: Long = 5000000L,
                 portableHash: Boolean = false): DataFrame =
    logWeightsManaged(docs, idCol, textCol, target, raw, buckets, alpha,
      maxBroadcastFeatures, portableHash).df

  /** [[logWeights]]'s frame, held with the release of the fit's two
    * feature-count tables, which stay cached for the build-side
    * aggregates and the scoring joins ([[graft.Cached]]). */
  def logWeightsManaged(docs: DataFrame, idCol: String, textCol: String,
                 target: DataFrame, raw: DataFrame,
                 buckets: Option[Int] = None, alpha: Double = 1.0,
                 maxBroadcastFeatures: Long = 5000000L,
                 portableHash: Boolean = false): graft.Cached.Held = {
    require(!portableHash || buckets.nonEmpty,
      "portableHash applies to the hashed lane — pass buckets = Some(B)")
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    buckets.foreach(b => require(b > 0, s"buckets must be > 0, got $b"))

    def counts(df: DataFrame): DataFrame =
      featFrame(df, textCol, buckets, portableHash)
        .groupBy("_gf_f").agg(count(lit(1)).as("_gf_c"))

    val tcHeld = graft.Cached.hold(counts(target))
    val rcHeld = graft.Cached.hold(counts(raw))
    val (tc, rc) = (tcHeld.df, rcHeld.df)
    // Smoothing constants — build-side 1-row aggregates (the LangModel
    // total-count eagerness). V = feature-space size: B when hashed;
    // when unhashed, the distinct gram count over target ∪ raw (the
    // support the smoother distributes mass across).
    val (tTotal, rTotal, v) = graft.Cached.guard(rcHeld, tcHeld) {
      val tTotal = Option(tc.agg(sum(col("_gf_c"))).collect()(0).get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      val rTotal = Option(rc.agg(sum(col("_gf_c"))).collect()(0).get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      require(tTotal > 0, "DSIR target slice has no features")
      require(rTotal > 0, "DSIR raw slice has no features")
      val v = buckets.map(_.toLong).getOrElse(
        tc.select("_gf_f").union(rc.select("_gf_f")).distinct().count())
      (tTotal, rTotal, v)
    }

    def sized(d: DataFrame): DataFrame = {
      val n = d.count()
      if (n <= maxBroadcastFeatures) broadcast(d) else d
    }
    val tcS = sized(tc.withColumnRenamed("_gf_c", "_gf_ct"))
    val rcS = sized(rc.withColumnRenamed("_gf_c", "_gf_cr"))

    val tDen = lit(tTotal.toDouble + alpha * v)
    val rDen = lit(rTotal.toDouble + alpha * v)
    val perGram = docs
      .select(col(idCol), explode(gramsCol(col(textCol))).as("_gf_g"))
      .select(col(idCol), featCol(col("_gf_g"), buckets, portableHash))
      .join(tcS, Seq("_gf_f"), "left")
      .join(rcS, Seq("_gf_f"), "left")
      .select(col(idCol), Num.dround(
        log((coalesce(col("_gf_ct"), lit(0L)).cast(DoubleType) + alpha) / tDen)
          - log((coalesce(col("_gf_cr"), lit(0L)).cast(DoubleType) + alpha) / rDen),
        6).as("_gf_lr"))
    val agg = perGram.groupBy(idCol).agg(
      count(lit(1)).as("n_feats"),
      Num.dround(
        sum(col("_gf_lr").cast(DecimalType(38, 6))).cast(DoubleType), 4)
        .as("log_weight"))
    val frame = docs.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        col("log_weight"))
    graft.Cached.Held(frame, () => Seq(rcHeld, tcHeld).foreach(_.release()))
  }

  /** The resampling step, deterministic form: keep the `k` documents
    * whose importance weights are highest (ties on id). The paper
    * resamples with Gumbel noise; at selection ratios well below 1 the
    * top-k is the noise-free limit and is reproducible — the property
    * every other sampler here pins. Unscoreable (null-weight) docs are
    * never selected. */
  def selectTop(weights: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    // orderBy+limit plans TakeOrderedAndProject: per-partition top-k then
    // one k-sized merge — never a single-partition window over the
    // corpus-sized weight frame.
    weights.filter(col("log_weight").isNotNull)
      .orderBy(col("log_weight").desc, col(idCol))
      .limit(k)
  }
}
