package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Num

/** fastText-style supervised quality classifier (Joulin et al. 2016,
  * "Bag of Tricks for Efficient Text Classification") — the linear
  * bag-of-ngrams gate CCNet and the GPT-3 pipeline used to score corpus
  * pages against a trusted reference (positives = curated text,
  * negatives = raw crawl). The model is a single linear layer over
  * averaged feature weights:
  *
  *   p(keep | d) = σ( b + (1/|F(d)|) · Σ_{f∈F(d)} w[f] )
  *
  * with F(d) the unigram+bigram stream of the document (the
  * [[Dsir]]/fastText feature space; `wordNgrams = 2`) and w either
  * string-keyed (oracle-parity lane) or hashed into `buckets` via
  * `pmod(xxhash64(gram), B)` (the paper's hashing trick — the 100 TB
  * lane, where the weight table is B-bounded no matter the vocabulary).
  *
  * Scale shape, Spark-first:
  *  - **Scoring** is one gram explode + a broadcast join against the
  *    (vocab- or B-bounded) weight table + one per-doc aggregation —
  *    [[LangModel.score]]'s discipline: corpus text never shuffles,
  *    only (id, 6dp log-ratio-style partials) move. Per-feature weights
  *    round to 6dp and accumulate as exact decimals, so scores hash
  *    identically cross-engine; the one transcendental (`exp` in the
  *    sigmoid) applies to an already-rounded activation (the
  *    ln/pow-in-the-oracle precedent).
  *  - **Training** is full-batch logistic-regression gradient descent:
  *    the corpus featurizes ONCE into a cached (id, y, 1/n_f, bucket)
  *    incidence frame; each epoch is one broadcast join against the
  *    current B-bounded weight frame + two keyed aggregations (per-doc
  *    margin, per-bucket gradient), with only the B-sized gradient and
  *    two scalars collected. No RNG anywhere (full batch, zero init) —
  *    the paper's SGD reordering noise buys nothing at this model size
  *    and would cost reproducibility.
  *
  * Reference analogue: none (the reference has no text module); this is
  * the supervised member of the quality-gate family (rows 109/113/117).
  */
object FastText {

  /** Unigram + bigram features, blank-safe — the [[Dsir]] feature space. */
  private[text] def gramsCol(text: Column): Column =
    filter(
      concat(TextAnalysis.ngrams(text, 1), TextAnalysis.ngrams(text, 2)),
      g => length(g) > 0)

  /** Score documents against a STRING-keyed weight table
    * (`weights`: (feature string, weight double)) — the oracle-parity
    * lane. Output: (idCol, n_feats, activation, score); docs with no
    * features report n_feats 0 and null activation/score (no evidence,
    * the [[LangModel.score]] convention). Absent features weigh 0 (the
    * linear model's natural missing-feature value, NOT a smoothing
    * choice). */
  def score(docs: DataFrame, idCol: String, textCol: String,
            weights: DataFrame, bias: Double,
            maxBroadcastFeatures: Long = 5000000L): DataFrame =
    scoreOn(docs, idCol, textCol,
      weights.select(col("feature").as("_gf_f"), col("weight").as("_gf_w")),
      (g: Column) => g, bias, maxBroadcastFeatures)

  /** Score against a BUCKET-keyed weight table (`weights`: (bucket long,
    * weight double)) under the hashing trick — the bounded-vocabulary
    * 100 TB lane (rows-only: xxhash64 has no SQL twin). */
  def scoreHashed(docs: DataFrame, idCol: String, textCol: String,
                  weights: DataFrame, bias: Double, buckets: Int,
                  maxBroadcastFeatures: Long = 5000000L): DataFrame = {
    require(buckets > 0, s"buckets must be > 0, got $buckets")
    scoreOn(docs, idCol, textCol,
      weights.select(col("bucket").as("_gf_f"), col("weight").as("_gf_w")),
      (g: Column) => pmod(xxhash64(g), lit(buckets.toLong)),
      bias, maxBroadcastFeatures)
  }

  private def scoreOn(docs: DataFrame, idCol: String, textCol: String,
                      weights: DataFrame, feat: Column => Column,
                      bias: Double, maxBroadcastFeatures: Long,
                      knownRows: Option[Long] = None): DataFrame = {
    // Weight-table sizing: one count job against the (bounded) table —
    // cheap relative to the corpus pass it guards. Callers that already
    // know the size (a re-opened LoadedModel counted at open time) pass
    // it to skip the job — the Lm.uniTypes memoization discipline.
    val rows = knownRows.getOrElse(weights.count())
    val w = if (rows <= maxBroadcastFeatures) broadcast(weights)
            else weights
    val perFeat = docs
      .select(col(idCol), explode(gramsCol(col(textCol))).as("_gf_g"))
      .select(col(idCol), feat(col("_gf_g")).as("_gf_f"))
      .join(w, Seq("_gf_f"), "left")
      .select(col(idCol),
        Num.dround(coalesce(col("_gf_w"), lit(0.0)), 6).as("_gf_wr"))
    val agg = perFeat.groupBy(idCol).agg(
      count(lit(1)).as("n_feats"),
      (sum(col("_gf_wr").cast(DecimalType(38, 6))).cast(DoubleType)
        / count(lit(1))).as("_gf_mean"))
    docs.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        Num.dround(lit(bias) + col("_gf_mean"), 6).as("activation"))
      .withColumn("score",
        Num.dround(lit(1.0) / (lit(1.0) + exp(-col("activation"))), 6))
  }

  /** Trained model: B-bounded weight vector + bias + the per-epoch
    * training loss trace (for convergence assertions). */
  final case class Model(weights: Array[Double], bias: Double,
                         buckets: Int, losses: Vector[Double]) {
    /** Weight table as a frame for [[scoreHashed]] (only non-zero rows —
      * zero-weight buckets score identically via the coalesce-0 path). */
    def weightFrame(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      import spark.implicits._
      weights.toIndexedSeq.zipWithIndex
        .collect { case (w, b) if w != 0.0 => (b.toLong, w) }
        .toDF("bucket", "weight")
    }
  }

  /** The third scoring route — the [[LangModel.scoreBroadcast]] shape:
    * collect the (bounded) weight table into an in-memory map that rides
    * the serialized [[graft.functions.FtScoreRow]] kernel, so each
    * document scores in ONE projection — no join, no per-doc aggregation
    * exchange. That statelessness is what makes the supervised gate
    * STREAMABLE (pinned in StreamingSpec); values are identical to
    * [[score]] (FastTextSpec pins the routes; the driver oracle proves
    * the string lane against DuckDB end-to-end). String-keyed lane. */
  def scoreBroadcast(docs: DataFrame, idCol: String, textCol: String,
                     weights: DataFrame, bias: Double,
                     maxFeatures: Long = 20000000L): DataFrame = {
    val w = collectWeightMap(weights, "feature", maxFeatures)
      .map { case (k, v) => (k.asInstanceOf[String], v) }
    project(docs, idCol,
      graft.functions.FtScoreRow.ftScoreRow(col(textCol), w, bias))
  }

  /** [[scoreBroadcast]] for a BUCKET-keyed table — value-identical to
    * [[scoreHashed]] (the kernel hashes grams with the engine's own
    * xxhash64/seed-42, so routing is bit-identical). */
  def scoreBroadcastHashed(docs: DataFrame, idCol: String, textCol: String,
                           weights: DataFrame, bias: Double, buckets: Int,
                           maxFeatures: Long = 20000000L): DataFrame = {
    require(buckets > 0, s"buckets must be > 0, got $buckets")
    val w = collectWeightMap(weights, "bucket", maxFeatures)
      .map { case (k, v) => (k.asInstanceOf[Long], v) }
    project(docs, idCol,
      graft.functions.FtScoreRow.ftScoreRowHashed(col(textCol), w, buckets, bias))
  }

  private def project(docs: DataFrame, idCol: String, s: Column): DataFrame =
    docs.select(col(idCol), s.as("_gf_s"))
      .select(col(idCol), col("_gf_s.n_feats").as("n_feats"),
        col("_gf_s.activation").as("activation"),
        col("_gf_s.score").as("score"))

  /** Guarded collect of a weight table into a driver map — the
    * [[LangModel.collectTables]] discipline: refuse above `maxFeatures`
    * with a pointer to the join route rather than ballooning the plan
    * (and every executor heap) with an unbounded serialized map. */
  private def collectWeightMap(weights: DataFrame, keyCol: String,
                               maxFeatures: Long): Map[Any, Double] = {
    val n = weights.count()
    require(n <= maxFeatures,
      s"weight table has $n rows > maxFeatures=$maxFeatures — too large " +
        "to ship in-memory; use score/scoreHashed (broadcast joins) instead")
    weights.select(col(keyCol), col("weight")).collect()
      .map(r => r.get(0) -> r.getDouble(1)).toMap
  }

  /** A persisted classifier re-opened from disk: the weight frame, its
    * key lane ("bucket" = hashed, "feature" = string), the bias, and —
    * for the hashed lane — the bucket count. [[LoadedModel.score]]
    * dispatches to the matching scoring route. */
  final case class LoadedModel(weights: DataFrame, bias: Double,
                               keyed: String, buckets: Option[Int],
                               rows: Long,
                               held: Seq[graft.Cached.Held] = Nil) {
    /** Scores through the matching join route. The open-time row count
      * rides along so repeated scoring calls against one loaded model
      * skip the per-call sizing job (the Lm.uniTypes memoization). */
    def score(docs: DataFrame, idCol: String, textCol: String): DataFrame =
      keyed match {
        case "bucket" =>
          scoreOn(docs, idCol, textCol,
            weights.select(col("bucket").as("_gf_f"), col("weight").as("_gf_w")),
            (g: Column) => pmod(xxhash64(g), lit(buckets.get.toLong)),
            bias, 5000000L, Some(rows))
        case _ =>
          scoreOn(docs, idCol, textCol,
            weights.select(col("feature").as("_gf_f"), col("weight").as("_gf_w")),
            (g: Column) => g, bias, 5000000L, Some(rows))
      }
    /** Release the cached weight table ([[graft.Cached]]) once scoring
      * plans are materialized. */
    def release(): Unit = held.foreach(_.release())
  }

  private val Format = "graft-ft-v1"

  /** Persist a TRAINED (bucket-keyed) model — the "fit the gate once on
    * labeled data, ship it to every curation run" lifecycle (the
    * [[Bpe.writeModel]]/[[LangModel.writeModel]] conventions: weights
    * first, format-tagged manifest LAST as the completeness marker,
    * non-zero row count recorded so a partially-copied weight file
    * refuses at open). */
  def writeModel(spark: org.apache.spark.sql.SparkSession, model: Model,
                 path: String): Unit = {
    val w = model.weightFrame(spark)
    w.coalesce(1).write.mode("overwrite").parquet(s"$path/weights")
    val n = model.weights.count(_ != 0.0)
    graft.Manifest.write(spark, path, "format" -> Format, "keyed" -> "bucket",
      "buckets" -> model.buckets, "bias" -> model.bias, "rows" -> n)
  }

  /** Persist a STRING-keyed weight table (a handed/exported model — the
    * oracle-parity lane). `weights`: (feature, weight). */
  def writeModelFeatures(spark: org.apache.spark.sql.SparkSession,
                         weights: DataFrame, bias: Double,
                         path: String): Unit = {
    val w = weights.select(col("feature"), col("weight"))
    w.coalesce(1).write.mode("overwrite").parquet(s"$path/weights")
    val n = w.count()
    graft.Manifest.write(spark, path, "format" -> Format, "keyed" -> "feature",
      "bias" -> bias, "rows" -> n)
  }

  /** Re-open a persisted classifier. Refusals: missing manifest (an
    * interrupted write never exposes one), foreign format tag, weight
    * row count differing from the manifest's, and — hashed lane — a
    * bucket id outside [0, buckets) (a weight table from a different B
    * would silently mis-route every feature). */
  def readModel(spark: org.apache.spark.sql.SparkSession,
                path: String): LoadedModel = {
    val m = graft.Manifest.read(spark, path, "fastText model", Format)
    val keyed = m.string("keyed")
    val bias = m.double("bias")
    val declared = m.long("rows")
    val held = graft.Cached.hold(spark.read.parquet(s"$path/weights"))
    val w = held.df
    def refuse(msg: String): Nothing = throw new IllegalArgumentException(msg)
    graft.Cached.guard(held) {
      val got = w.count()
      if (got != declared) refuse(
        s"$path/weights holds $got rows but the manifest declares " +
          s"$declared — refusing a partially-copied model")
      keyed match {
        case "bucket" =>
          val b = m.int("buckets")
          val bad = w.filter(col("bucket") < 0 || col("bucket") >= b).count()
          if (bad > 0) refuse(
            s"$path/weights holds $bad bucket ids outside [0, $b) — " +
              "weight table from a different bucket count; refusing")
          LoadedModel(w, bias, "bucket", Some(b), got, Seq(held))
        case "feature" => LoadedModel(w, bias, "feature", None, got, Seq(held))
        case other => refuse(
          s"$path manifest declares unknown key lane '$other'")
      }
    }
  }

  /** Full-batch logistic regression over hashed unigram+bigram features.
    * `labelCol` must be 0/1. Fully deterministic — no RNG, zero init,
    * fixed epoch count, and (r14) every cross-row accumulation is an
    * exact integer sum of 1e12-grid-quantized contributions (the
    * Profiler.describe powSum pattern), so the trained weights are
    * bit-identical under any
    * partition layout, core count, or shuffle merge order. The per-epoch
    * driver traffic is TWO bounded collects — the 1-row loss/stats
    * aggregate and the B-bounded gradient rows (a fused union and a
    * window-over-id single-shuffle variant were both tried in r14 and
    * measured slower; the two-collect hash-aggregate + join-back shape
    * wins at this geometry). The step size follows the paper's schedule — linear
    * decay from `lr` to 0 across the run — which is what lets a large
    * initial step (the mean-normalized features make the loss surface
    * flat) land without the tail oscillating. Unlabeled-class corner:
    * training refuses unless both classes are present (a one-class fit
    * converges to ±∞ bias).
    *
    * `minibatchFraction` < 1 is the 100 TB epoch-cost bound: each epoch
    * trains on a DETERMINISTIC hash sample of the documents
    * ([[graft.ops.Sampling.hashSample]] on a content-derived doc key,
    * seed = epoch),
    * so per-epoch join/aggregate volume is fraction-bounded while every
    * epoch still sees a different (but run-reproducible — still no RNG)
    * slice. Loss and gradients normalize by THAT epoch's sampled doc
    * count; the trace records each epoch's sampled-subset loss. An epoch
    * whose sample lands empty records NaN and moves on (no update — no
    * evidence). Full batch (the default 1.0) is byte-identical to the
    * pre-minibatch behavior. */
  def train(docs: DataFrame, textCol: String, labelCol: String,
            buckets: Int = 4096, epochs: Int = 20,
            lr: Double = 10.0, minibatchFraction: Double = 1.0): Model = {
    require(buckets > 0, s"buckets must be > 0, got $buckets")
    require(epochs >= 1, s"epochs must be >= 1, got $epochs")
    require(lr > 0, s"lr must be > 0, got $lr")
    require(minibatchFraction > 0 && minibatchFraction <= 1,
      s"minibatchFraction must be in (0, 1], got $minibatchFraction")
    val spark = docs.sparkSession
    import spark.implicits._

    val labeled = docs.select(
        monotonically_increasing_id().as("_gf_id"),
        // Sample key from CONTENT (label + text), not the synthetic id:
        // monotonically_increasing_id encodes the scan-partition layout,
        // so a mid-keyed epoch sample changed with the input split count
        // (r14: the documents scan is parallelized now, and the driver
        // benches at two core counts — the trained gate must not depend
        // on either). Identical docs share a key and sample together —
        // the doc-level sampling contract is unchanged; _gf_id stays the
        // unique per-row GROUPING key only.
        pmod(xxhash64(col(labelCol).cast(DoubleType), col(textCol)),
          lit(1000000000L)).as("_gf_sk"),
        col(labelCol).cast(DoubleType).as("_gf_y"),
        gramsCol(col(textCol)).as("_gf_gs"))
      .filter(size(col("_gf_gs")) > 0)
    // (id, sample key, y, 1/n_f, bucket) incidence rows — featurized
    // ONCE, cached for the epoch loop; text is never touched again.
    val incWide = graft.Cached.hold(labeled
      .select(col("_gf_id"), col("_gf_sk"),
        col("_gf_y"),
        (lit(1.0) / size(col("_gf_gs"))).as("_gf_inv"),
        explode(col("_gf_gs")).as("_gf_g"))
      .select(col("_gf_id"), col("_gf_sk"), col("_gf_y"), col("_gf_inv"),
        pmod(xxhash64(col("_gf_g")), lit(buckets.toLong)).as("_gf_b")))
    // Size the EPOCH-LOOP partitioning by the incidence volume, not the
    // scan's parallelism (guide §2.2 "fewer, larger partitions"): the
    // featurize pass above wants every core, but each of the ~2·epochs
    // stages that replays the cached frame pays per-task scheduling and
    // per-partition aggregate-state overhead — measured 17.4 s at 32
    // scan-width partitions vs 10.1 s at 8 for the same trainer, tiny
    // data. The ~4M-rows-per-partition target below keeps epoch tasks
    // substantial at any scale; the one-off shuffle reads the cache, so
    // featurization is never re-run.
    val nInc = graft.Cached.guard(incWide)(incWide.df.count())
    // ~4M incidence rows ≈ 160 MB per epoch partition: measured locally,
    // epoch cost is dominated by per-stage scheduling overhead down to ONE
    // partition at bench scale (0.49 s/epoch at 1 partition vs ~1 s at 3),
    // while at 100 TB the same target yields tens of thousands of
    // healthy-sized partitions.
    val epochParts = math.max(1L, math.min(nInc / 4000000L + 1L,
      spark.sparkContext.defaultParallelism.toLong * 16L)).toInt
    // HASH-partition by the doc id, not round-robin (r15): every epoch's
    // margins aggregation groups by _gf_id, so a hashpartitioning(_gf_id)
    // cache satisfies the grouping outright — the per-epoch margins
    // Exchange (and its AQE stage materialization) disappears from all
    // 2·epochs jobs. Hash repartition also skips round-robin's
    // sort-before-repartition guard, and the assignment is deterministic
    // by construction.
    val incHeld = graft.Cached.hold(
      incWide.df.repartition(epochParts, col("_gf_id")))
    val inc = incHeld.df
    val w = Array.fill(buckets)(0.0)
    var bias = 0.0
    val losses = Vector.newBuilder[Double]
    try {
      inc.count(): Unit // materialize before releasing the wide cache
      incWide.release()
      val classes = labeled.select(col("_gf_y")).distinct().collect()
        .map(_.getDouble(0)).toSet
      require(classes.subsetOf(Set(0.0, 1.0)),
        s"labels must be 0/1, got ${classes.mkString(",")}")
      require(classes == Set(0.0, 1.0),
        "training needs BOTH classes present — a one-class fit diverges")

      (1 to epochs).foreach { ep =>
        // The paper's linear lr decay (never reaching exactly 0 — the
        // last epoch still moves at lr/epochs).
        val lrT = lr * (1.0 - (ep - 1).toDouble / epochs)
        val wDf = broadcast(
          w.toIndexedSeq.zipWithIndex.map { case (v, b) => (b.toLong, v) }
            .toDF("_gf_b", "_gf_wv"))
        // Minibatch lane: a deterministic per-epoch doc sample off the
        // cached incidence via the bounded per-doc sample key.
        val epochInc =
          if (minibatchFraction >= 1.0) inc
          else graft.ops.Sampling.hashSample(inc, "_gf_sk",
            minibatchFraction, seed = ep.toLong)
        // Accumulation is exact: per-incidence contributions sum on an
        // integer grid (graft.Num.qsum). The exact total makes the margin —
        // and the whole training trajectory — independent of partition
        // layout and shuffle merge order: the documents scan is
        // multi-split and the bench runs at two core counts; raw
        // double sums would have made the trained gate a different model
        // per layout (the engine's bit-stable-under-distribution claim,
        // applied to its own trainer).
        val q12 = lit(1e12)
        // Per-doc margin + residual (p − y): one keyed aggregation,
        // cached for the epoch (read twice INSIDE one fused action) and
        // released before the next weight frame. A window-over-id
        // formulation (margin + residual in one shuffle, no join-back)
        // was ALSO tried here — it lost (22.6 s vs 13.1 s for the 12-epoch
        // trainer): two WindowExec sorts of the incidence per epoch cost
        // more than the hash-aggregate + join-back they replace.
        graft.Cached.using(epochInc.join(wDf, Seq("_gf_b"), "left")
          .groupBy(col("_gf_id"))
          .agg(first(col("_gf_y")).as("_gf_y"),
            first(col("_gf_inv")).as("_gf_inv"),
            graft.Num.qsum(coalesce(col("_gf_wv"), lit(0.0)) * col("_gf_inv"), q12)
              .as("_gf_m"))
          .select(col("_gf_id"), col("_gf_y"), col("_gf_inv"),
            (lit(1.0) / (lit(1.0) + exp(-(lit(bias) + col("_gf_m")))))
              .as("_gf_p"))
          .withColumn("_gf_r", col("_gf_p") - col("_gf_y"))) { margins =>
          // Loss + bias gradient + doc count (one 1-row collect) and the
          // per-bucket gradients (one B-bounded collect): TWO deliberate
          // collects per epoch — a fused union (loss row riding a sentinel
          // bucket) and a window-over-id single-shuffle variant were both
          // tried in r14 and measured slower (15.6 s and 22.6 s vs 13.6 s);
          // the hash-aggregate + join-back shape wins at this geometry.
          // Per-doc loss and residual terms ride the same quantized-long
          // exact sums as the margin (loss at 1e9 — its magnitude is
          // bounded by −ln 1e-12 — the rest at 1e12). Clamp ln args away
          // from 0 (a perfectly-separated fixture otherwise yields -inf).
          // Normalization is by THIS epoch's doc count.
          val statsRow = margins.agg(
            graft.Num.qsum(-(col("_gf_y") * log(greatest(col("_gf_p"), lit(1e-12)))
                + (lit(1.0) - col("_gf_y"))
                  * log(greatest(lit(1.0) - col("_gf_p"), lit(1e-12)))),
              lit(1e9)).as("_gf_loss"),
            graft.Num.qsum(col("_gf_r"), q12).as("_gf_rsum"),
            count(lit(1)).as("_gf_n"))
          // Per-bucket gradient: Σ_incidences r/n_f, B-bounded collect
          // (the join against per-doc residuals re-selects the epoch's
          // incidence subset — unsampled docs have no residual row).
          val gradRows = epochInc
            .join(margins.select(col("_gf_id"), col("_gf_r")), Seq("_gf_id"))
            .groupBy(col("_gf_b"))
            .agg(graft.Num.qsum(col("_gf_r") * col("_gf_inv"), q12).as("_gf_g"))
          val stats = statsRow.collect()(0)
          val nEpoch = stats.getLong(2).toDouble
          if (nEpoch == 0) {
            // the sample landed empty — no evidence, no update
            losses += Double.NaN
          } else {
            val rows = gradRows.collect()
            losses += stats.getDouble(0) / nEpoch
            val gradB = stats.getDouble(1) / nEpoch
            rows.foreach(r =>
              w(r.getLong(0).toInt) -= lrT * r.getDouble(1) / nEpoch)
            bias -= lrT * gradB
          }
        }
      }
    } finally Seq(incHeld, incWide).foreach(_.release())
    Model(w, bias, buckets, losses.result())
  }
}
