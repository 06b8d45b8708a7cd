package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Bigram language-model scoring — the CCNet-style perplexity gate of a
  * training-data pipeline (Wenzek et al., "CCNet: Extracting High Quality
  * Monolingual Datasets from Web Crawl Data", LREC 2020: corpus quality is
  * graded by LM perplexity against a trusted reference; low-probability
  * documents are gibberish/boilerplate, suspiciously HIGH-probability ones
  * are templates). The reference repo has no LM; the model here is the
  * smallest useful one — token bigrams with stupid backoff (Brants et al.
  * 2007: no normalization, backoff weight α, count-based — the standard
  * web-scale choice precisely because it needs only count tables):
  *
  *   lp(w | prev) = ln(c(prev,w) / c(prev))        bigram seen
  *                = ln(α · c(w) / T)                else, unigram seen
  *                = ln(α / T)                       else (OOV pseudo-count 1)
  *
  * A document scores avg lp over its (ntok − 1) conditioned tokens;
  * `exp(−avg)` would be perplexity, but the avg log-prob is emitted raw —
  * monotone in perplexity and one fewer libm call to keep portable.
  *
  * Spark shapes: training is two explode+count aggregates over the
  * REFERENCE corpus (bigram pairs come straight off the token array via
  * `zip_with` of two slices — no window, no per-doc shuffle); the count
  * tables are the LM artifact, vocab-bounded, not corpus-bounded. Scoring
  * joins each document's bigram pairs against the two count tables —
  * token strings are the join keys by default for oracle parity; the
  * `hashKeys` route keys the joins on `xxhash64` 8-byte hashes
  * ([[graft.dedup.LlmDedup]]'s discipline) and explicitly broadcasts
  * each count table when its type count allows. Per-token log-probs round
  * to 6dp and accumulate as exact decimals (the engine's float-parity
  * rule: single IEEE ops + order-independent decimal addition), so the
  * result is bit-identical across engines AND partitionings. */
object LangModel {

  /** `unigrams`: (_gf_w, _gf_cw). `bigrams`: (_gf_prev, _gf_w, _gf_cb).
    * `total`: reference token count (the one driver-side scalar — a 1-row
    * aggregate). Both frames cached: the LM is probed per scored batch;
    * `held` are their handles ([[graft.Cached]]), which [[release]] runs. */
  final case class Lm(unigrams: DataFrame, bigrams: DataFrame, total: Long,
                      held: Seq[graft.Cached.Held] = Nil) {
    /** Type counts, memoized: broadcast sizing and the in-memory-route
      * guard both need them, and a config-chain run scoring many corpora
      * against ONE cached LM should pay the two count jobs once, not per
      * scoring call. */
    lazy val uniTypes: Long = unigrams.count()
    lazy val biTypes: Long = bigrams.count()
    def release(): Unit = held.foreach(_.release())
  }

  private def toks(c: Column): Column = TextAnalysis.tokens(c)

  /** (prev, w) pairs off the token array — a pure projection. */
  private def bigramPairs(t: Column): Column =
    zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
      (a, b) => struct(a.as("_gf_prev"), b.as("_gf_w")))

  /** Count tables from a reference corpus (its quality defines "normal"
    * text — train on the trusted slice, score the crawl).
    *
    * ONE tokenize → explode → keyed count feeds BOTH tables (r15):
    * unigrams ride a NULL `prev` next to the bigram pairs (a token is
    * never SQL-null, so the lane marker is unambiguous), so the
    * reference corpus is read and tokenized once instead of once per
    * table — this train runs inside every curation chain. Counts are
    * identical to the former two-aggregation form: same groups, same
    * tallies (a sub-2-token doc simply contributes an empty bigram
    * list). The combined cache is dropped once the two vocab-bounded
    * count tables are materialized out of it. */
  def train(ref: DataFrame, textCol: String): Lm = {
    val base = ref.filter(length(trim(col(textCol))) > 0)
      .select(toks(col(textCol)).as("_gf_t"))
    val grams = base
      .select(explode(concat(
        transform(col("_gf_t"),
          w => struct(lit(null).cast("string").as("_gf_prev"), w.as("_gf_w"))),
        bigramPairs(col("_gf_t")))).as("_gf_bg"))
      .select(col("_gf_bg._gf_prev").as("_gf_prev"),
        col("_gf_bg._gf_w").as("_gf_w"))
      .groupBy("_gf_prev", "_gf_w").agg(count(lit(1)).as("_gf_c"))
    graft.Cached.using(grams) { grams =>
      val unigrams = graft.Cached.hold(grams.filter(col("_gf_prev").isNull)
        .select(col("_gf_w"), col("_gf_c").as("_gf_cw")))
      val bigrams = graft.Cached.hold(grams.filter(col("_gf_prev").isNotNull)
        .select(col("_gf_prev"), col("_gf_w"), col("_gf_c").as("_gf_cb")))
      graft.Cached.guard(bigrams, unigrams) {
        // sum over an EMPTY reference is SQL null — surface it as total 0
        // so score()'s require gives the real diagnosis instead of an NPE
        val total = Option(unigrams.df.agg(sum(col("_gf_cw"))).collect()(0).get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        bigrams.df.count(): Unit // materialize off the combined cache
        Lm(unigrams.df, bigrams.df, total, Seq(bigrams, unigrams))
      }
    }
  }

  /** (idCol, n_scored, avg_logprob): one row per input document.
    * `n_scored` = conditioned tokens (ntok − 1; 0 for blank or
    * single-token documents, whose `avg_logprob` is null — nothing to
    * condition on is not evidence of quality either way). `backoff` is
    * stupid-backoff's α.
    *
    * `hashKeys` is the 100 TB route: the three LM joins key on
    * `xxhash64` of the token strings (8-byte keys — [[graft.dedup
    * .LlmDedup]]'s discipline: the corpus token stream never shuffles
    * as strings), and each count table whose type count is at most
    * `maxBroadcastTypes` gets an explicit `broadcast()` hint, so in the
    * broadcast regime the only corpus-side exchange left is the final
    * doc-keyed aggregation of per-doc partials. The default keeps
    * string keys for byte-exact oracle parity; results are identical
    * under `hashKeys` barring a 64-bit hash collision inside the vocab
    * (the same accepted odds as every hash-keyed dedup operator here).
    * Type counts come off the cached tables — build-side sizing, the
    * same eagerness as any broadcast build. */
  def score(docs: DataFrame, idCol: String, textCol: String, lm: Lm,
            backoff: Double = 0.4, hashKeys: Boolean = false,
            maxBroadcastTypes: Long = 5000000L): DataFrame = {
    require(backoff > 0 && backoff <= 1, s"backoff=$backoff not in (0,1]")
    require(lm.total > 0, "LM trained on an empty reference corpus")
    val t = lit(lm.total.toDouble)
    val pairs = docs
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), toks(col(textCol)).as("_gf_t"))
      .filter(size(col("_gf_t")) >= 2)
      .select(col(idCol), explode(bigramPairs(col("_gf_t"))).as("_gf_bg"))
      .select(col(idCol), col("_gf_bg._gf_prev").as("_gf_prev"),
        col("_gf_bg._gf_w").as("_gf_w"))
    val joined =
      if (!hashKeys)
        pairs
          .join(lm.bigrams, Seq("_gf_prev", "_gf_w"), "left")
          .join(lm.unigrams.select(col("_gf_w").as("_gf_prev"),
            col("_gf_cw").as("_gf_cprev")), Seq("_gf_prev"), "left")
          .join(lm.unigrams, Seq("_gf_w"), "left")
      else {
        def sized(d: DataFrame, types: Long): DataFrame =
          if (types <= maxBroadcastTypes) broadcast(d) else d
        val bi = sized(lm.bigrams.select(
          xxhash64(col("_gf_prev"), col("_gf_w")).as("_gf_bk"),
          col("_gf_cb")), lm.biTypes)
        val prev = sized(lm.unigrams.select(
          xxhash64(col("_gf_w")).as("_gf_pk"),
          col("_gf_cw").as("_gf_cprev")), lm.uniTypes)
        val uni = sized(lm.unigrams.select(
          xxhash64(col("_gf_w")).as("_gf_wk"), col("_gf_cw")), lm.uniTypes)
        pairs
          .withColumn("_gf_bk", xxhash64(col("_gf_prev"), col("_gf_w")))
          .withColumn("_gf_pk", xxhash64(col("_gf_prev")))
          .withColumn("_gf_wk", xxhash64(col("_gf_w")))
          .drop("_gf_prev", "_gf_w")
          .join(bi, Seq("_gf_bk"), "left")
          .join(prev, Seq("_gf_pk"), "left")
          .join(uni, Seq("_gf_wk"), "left")
      }
    val scored = joined
      .withColumn("_gf_lp", graft.Num.dround(
        when(col("_gf_cb").isNotNull,
          log(col("_gf_cb").cast(DoubleType) / col("_gf_cprev").cast(DoubleType)))
          .when(col("_gf_cw").isNotNull,
            log(lit(backoff) * col("_gf_cw").cast(DoubleType) / t))
          .otherwise(log(lit(backoff) / t)), 6))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_scored"),
        sum(col("_gf_lp").cast(DecimalType(38, 6))).as("_gf_sum"))
      .select(col(idCol), col("n_scored"),
        graft.Num.dround(
          col("_gf_sum").cast(DoubleType) / col("n_scored"), 4)
          .as("avg_logprob"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        col("avg_logprob"))
  }

  /** The third scoring route: collect the count tables into in-memory
    * maps (vocab-bounded — the broadcast-build eagerness; refuse beyond
    * `maxTypes` rather than silently ballooning the plan) and score each
    * document in ONE projection via the [[graft.functions.LmScoreRow]]
    * kernel — no join, no aggregation exchange, nothing keyed by doc.
    * Operationally this is CCNet's shape (the model ships to workers);
    * structurally it is what makes the LM gate STREAMABLE, since a
    * stateless projection needs no watermark or output mode. Values are
    * identical to [[score]] (LangModelSpec pins all three routes; the
    * driver oracle re-proves it at both scales). */
  def scoreBroadcast(docs: DataFrame, idCol: String, textCol: String,
                     lm: Lm, backoff: Double = 0.4,
                     maxTypes: Long = 20000000L): DataFrame = {
    require(backoff > 0 && backoff <= 1, s"backoff=$backoff not in (0,1]")
    require(lm.total > 0, "LM trained on an empty reference corpus")
    val (uni, bi) = collectTables(lm, maxTypes)
    val s = graft.functions.LmScoreRow.lmScoreRow(
      col(textCol), uni, bi, lm.total, backoff)
    docs.select(col(idCol), s.as("_gf_s"))
      .select(col(idCol), col("_gf_s.n_scored").as("n_scored"),
        col("_gf_s.avg_logprob").as("avg_logprob"))
  }

  /** Collect the count tables into driver maps for the in-memory kernel
    * route — THE single owner of the "is this LM small enough to ship?"
    * guard, shared by [[scoreBroadcast]] and the streaming
    * [[graft.streaming.StreamOps.curationGate]] (which used to duplicate
    * the collect unguarded: an oversized reference LM must refuse with a
    * pointer to the join route, never OOM the driver). Type counts come
    * off [[Lm]]'s memoized sizes. */
  def collectTables(lm: Lm, maxTypes: Long = 20000000L)
      : (Map[String, Long], Map[(String, String), Long]) = {
    require(lm.uniTypes + lm.biTypes <= maxTypes,
      s"LM has ${lm.uniTypes + lm.biTypes} types > maxTypes=$maxTypes — " +
        "too large to ship in-memory; use score(hashKeys = true) " +
        "(broadcast joins) instead")
    val uni = lm.unigrams.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bi = lm.bigrams.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    (uni, bi)
  }

  private val Format = "graft-lm-v1"

  /** Persist a trained LM — the "train once on the trusted slice, ship
    * to every curation run" lifecycle (the [[graft.sim.Ivf.writeIndex]]
    * conventions: frames first, manifest LAST as the completeness
    * marker, format-tagged so a foreign dir refuses at open). */
  def writeModel(lm: Lm, path: String): Unit = {
    lm.unigrams.write.mode("overwrite").parquet(s"$path/unigrams")
    lm.bigrams.write.mode("overwrite").parquet(s"$path/bigrams")
    graft.Manifest.write(lm.unigrams.sparkSession, path,
      "format" -> Format, "total" -> lm.total)
  }

  /** Re-open a persisted LM without retraining. Count tables come back
    * cached (score probes them per batch — the [[train]] posture);
    * release with [[Lm.release]]. Refusals: missing manifest (an
    * incomplete write never exposes one), wrong format tag, and a
    * unigram table whose recomputed total disagrees with the manifest's
    * — a partially-copied table would otherwise open fine and then
    * either NPE in the kernel route's bigram branch (a bigram whose
    * prev unigram vanished) or silently skew every score in the join
    * route ([[graft.text.Bpe.readModel]]'s rank-count discipline; the
    * one open-time aggregate is the IvfPq persisted-index cross-check
    * precedent). */
  def readModel(spark: org.apache.spark.sql.SparkSession, path: String): Lm = {
    val total = graft.Manifest.read(spark, path, "language model", Format)
      .long("total")
    val unigrams = graft.Cached.hold(spark.read.parquet(s"$path/unigrams"))
    val bigrams = graft.Cached.hold(spark.read.parquet(s"$path/bigrams"))
    graft.Cached.guard(bigrams, unigrams) {
      val recomputed = Option(unigrams.df.agg(sum(col("_gf_cw"))).collect()(0).get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      if (recomputed != total) throw new IllegalArgumentException(
        s"$path/unigrams sums to $recomputed tokens but the manifest " +
          s"declares $total — refusing a partially-copied model")
      Lm(unigrams.df, bigrams.df, total, Seq(bigrams, unigrams))
    }
  }
}
