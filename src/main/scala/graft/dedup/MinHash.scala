package graft.dedup

import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** MinHash + LSH near-duplicate detection (SURVEY §2.3 row 46) — the
  * standard shingle → K-minhash → band → bucket-join pipeline, built
  * entirely from codegen'd higher-order array functions (no UDFs, no MLlib).
  *
  * Scale shape: per document the signature is O(K·shingles) cheap hash ops
  * computed in the projection (no shuffle); candidate generation explodes
  * only (band_id, band_hash, id) tuples — `bands` rows of 20 bytes per doc,
  * NOT the document text — and equi-joins on the band hash. The O(n²)
  * all-pairs comparison never materializes; only same-bucket pairs are
  * re-scored. This is exactly the plan that survives 100 TB: the heavy text
  * column is dropped before the only shuffle.
  */
object MinHash {

  /** Word n-gram shingles; documents shorter than `n` tokens contribute a
    * single whole-document shingle. */
  def shingles(c: Column, n: Int = 3): Column =
    shinglesOfTokens(TextAnalysis.tokens(c), n)

  /** [[shingles]] over an already-tokenized array column — multi-detector
    * callers materialize the token split once and shingle from it. */
  def shinglesOfTokens(toks: Column, n: Int): Column =
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))

  /** K-element MinHash signature as a single Column — the codegen'd
    * [[graft.functions.MinHashSig]] kernel (one generated loop per row;
    * lane-exact with the historical relational/HOF formulations, which
    * MinHashSigSpec pins). NULL/empty shingle arrays yield NULL. */
  def signature(shingleCol: Column, k: Int = 64): Column =
    graft.functions.GraftFunctions.minhashSig(shingleCol, k)

  /** Band hashes for LSH bucketing: `bands` buckets of `k/bands` signature
    * rows each. Two docs with Jaccard ~s collide in ≥1 band with
    * probability 1-(1-s^r)^b. */
  def bandHashes(sigCol: Column, k: Int, bands: Int): Column =
    Lsh(Xx, k, bands).bandKeys(sigCol)

  /** Estimated Jaccard = fraction of matching signature positions. */
  def estJaccard(sigA: Column, sigB: Column, k: Int): Column =
    aggregate(zip_with(sigA, sigB, (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast(DoubleType) / k

  /** Per-id MinHash signature frame `(id, _gf_sig)` computed RELATIONALLY:
    * shingles explode to rows, each shingle hashes once, and the K lanes
    * are K codegen'd `min(xxhash64(h, seed))` aggregates with map-side
    * partial combine (the exchange carries one combined row per doc, NOT
    * the exploded shingles). The equivalent nested higher-order-function
    * formulation is interpreted per element and re-evaluates the whole
    * tokenize->shingle->hash chain in every lane after Project collapsing
    * (measured ~40 ms/row vs <0.1 ms/row here).
    *
    * Measured note (sf0.1, 32 threads): a per-row codegen'd kernel
    * ([[graft.functions.MinHashSig]], used by [[signature]] for the
    * per-row/streaming case) was ALSO tried as this frame's body +
    * an (id, sig) repartition — it lost by ~1.8× (5.9 s vs 3.3 s for 11k
    * docs). The partial aggregate already collapses the exchange to one
    * row per doc, so the kernel saves no shuffle, and the fused
    * whole-stage HashAggregate evaluates the 64 min-lanes faster than a
    * per-row loop writing a local array. Shingling itself dominates both
    * formulations; this one adds almost nothing on top of it. */
  def signatures(df: DataFrame, textCol: String, idCol: String,
                 n: Int, k: Int): DataFrame =
    Lsh(Xx, k).signatures(df, shingles(col(textCol), n), idCol)

  /** [[signatures]] over an already-tokenized array column. */
  def signaturesOfTokens(df: DataFrame, toksCol: String, idCol: String,
                         n: Int, k: Int): DataFrame =
    Lsh(Xx, k).signatures(df, shinglesOfTokens(col(toksCol), n), idCol)

  /** What separates a MinHash lane from its twin: the shingle hash, lane
    * i's permutation of that hash, and the key of band j (of r lanes) of
    * a signature column. Everything else is [[Lsh]]. */
  private[dedup] final case class Kernel(hash: Column => Column,
                                         lane: (Column, Int) => Column,
                                         bandKey: (Column, Int, Int) => Column)

  /** The production kernel: xxhash64 throughout (fast, 64-bit, rows-only). */
  private val Xx = Kernel(
    s => xxhash64(s),
    (h, i) => xxhash64(h, lit(i)),
    (sig, j, r) => xxhash64(lit(j), slice(sig, j * r + 1, r)))

  /** The LSH core both lanes run: signature aggregation → band buckets →
    * candidate join → estimator, over `(_gf_id, _gf_sig array<bigint>)`
    * signature frames. A bare signature frame is the one-band case. */
  private[dedup] final case class Lsh(kernel: Kernel, k: Int, bands: Int = 1) {
    require(bands >= 1 && k >= 1 && k % bands == 0,
      s"k=$k must be a positive multiple of bands=$bands — k = 0 signs " +
        "every doc alike, and integer truncation would silently drop the " +
        "trailing lanes")
    private val r = k / bands

    /** The relational signature frame — see [[MinHash.signatures]]. */
    def signatures(df: DataFrame, shingleCol: Column,
                   idCol: String): DataFrame = {
      val hashed = df
        .select(col(idCol).as("_gf_id"), explode(shingleCol).as("_gf_s"))
        .select(col("_gf_id"), kernel.hash(col("_gf_s")).as("_gf_hh"))
      val lanes = (0 until k).map(i =>
        min(kernel.lane(col("_gf_hh"), i)).as(s"_gf_m$i"))
      hashed.groupBy("_gf_id").agg(lanes.head, lanes.tail: _*)
        .select(col("_gf_id"),
          array((0 until k).map(i => col(s"_gf_m$i")): _*).as("_gf_sig"))
    }

    def bandKeys(sig: Column): Column =
      array((0 until bands).map(j => kernel.bandKey(sig, j, r)): _*)

    /** (band, band_key, id-as-`idAlias`) bucket rows of a signature frame
      * — THE bucketing projection, shared by every band-join consumer.
      * Enforces (not assumes) that the stored signature length matches
      * `k`: an index built with a different k would band-hash wrong slices
      * and silently stop matching — fail loudly instead. */
    def buckets(sigs: DataFrame, idAlias: String): DataFrame = {
      // isNotNull guard: under legacy (non-ANSI) size(null) = -1 semantics
      // a null signature row would raise a misleading "length -1" error
      // here instead of being dropped by posexplode as before
      val checked = when(col("_gf_sig").isNotNull && size(col("_gf_sig")) =!= k,
          raise_error(concat(lit("graft: signature length "),
            size(col("_gf_sig")).cast("string"),
            lit(s" does not match k=$k — index and probe must use the same k")))
            .cast("array<bigint>"))
        .otherwise(col("_gf_sig"))
      sigs.select(col("_gf_id").as(idAlias),
        posexplode(bandKeys(checked)).as(Seq("_gf_band", "_gf_bh")))
    }

    /** Scores candidate pairs `(id_<a>, id_<b>, …)`: joins each `sides`
      * signature frame back by id as `_gf_sig_<tag>` (a side whose
      * signature already rides the candidates is not listed) and keeps
      * `(id_<a>, id_<b>, est_jaccard)` at or above `threshold`. */
    def scored(cand: DataFrame, a: String, b: String, threshold: Double)(
        sides: (String, DataFrame)*): DataFrame =
      sides.foldLeft(cand) { case (acc, (tag, sigs)) =>
        acc.join(sigs.select(col("_gf_id").as(s"id_$tag"),
          col("_gf_sig").as(s"_gf_sig_$tag")), Seq(s"id_$tag"))
      }.select(col(s"id_$a"), col(s"id_$b"),
          estJaccard(col(s"_gf_sig_$a"), col(s"_gf_sig_$b"), k).as("est_jaccard"))
        .filter(col("est_jaccard") >= threshold)

    /** Self-join pairs over a signature frame: (id_a < id_b, est_jaccard).
      * The band join is ID-ONLY — see [[nearDuplicatePairs]]. */
    def pairs(sigs: DataFrame, threshold: Double): DataFrame = {
      val cand = buckets(sigs, "id_a").join(buckets(sigs, "id_b"), Seq("_gf_band", "_gf_bh"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
        .distinct()
      scored(cand, "a", "b", threshold)("a" -> sigs, "b" -> sigs)
    }
  }

  /** The family's one persist point: a signature frame feeding several
    * consumers (band-bucket sides, estimator joins) runs its shingle →
    * hash → k-lane aggregation once (r14). One doc × (k+1) longs per row
    * — signature-table-sized, never corpus-sized.
    *
    * CACHE CONTRACT: the returned plans own no action, so they cannot
    * unpersist the frame, and it outlives the call. These public entry
    * points leave one behind: [[nearDuplicatePairs]], [[dedup]],
    * [[crossNearDuplicatePairs]] and [[decontaminateNear]] (one per side),
    * [[NgramJaccard.pairs]], and [[PortableMinHash.pairs]],
    * [[PortableMinHash.pairsOfTokens]], [[PortableMinHash.kept]] and
    * [[PortableMinHash.jaccardPairs]]. Long-lived sessions that call them
    * repeatedly must clear or unpersist between calls (the Verify/Bench
    * harnesses call `cacheManager.clearCache()` between queries);
    * [[graft.pipeline.Pipeline]] uses [[dedupReleasable]], which hands the
    * unpersist back. [[SimHash.pairsOverSims]] is the SimHash family's twin. */
  private[dedup] def persisted(sigs: DataFrame): DataFrame =
    sigs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Candidate near-duplicate pairs (idA < idB, est_jaccard >= threshold).
    * Returns (id_a, id_b, est_jaccard).
    *
    * The band join is ID-ONLY: each doc sends `bands` (band, hash, id)
    * tuples — ~20 bytes — through the exchange, and the K-long signature
    * (512 bytes at k=64) is joined back only for the pairs that survive
    * the bucket match and dedup, so each surviving pair pays exactly one
    * estimator. Shipping signatures with the band rows instead would
    * multiply the shuffle by bands × sigBytes/20 (~400× at defaults).
    *
    * CACHE CONTRACT: see [[persisted]]. */
  def nearDuplicatePairs(df: DataFrame, textCol: String, idCol: String,
                         n: Int = 3, k: Int = 64, bands: Int = 16,
                         threshold: Double = 0.7): DataFrame =
    Lsh(Xx, k, bands).pairs(persisted(signatures(df, textCol, idCol, n, k)),
      threshold)

  /** [[nearDuplicatePairs]] body over an already-computed signature frame
    * — callers that hold signatures (stored index, multi-use batch) skip
    * the re-shingling entirely. */
  private[graft] def sigPairs(sigs: DataFrame, k: Int, bands: Int,
                              threshold: Double): DataFrame =
    Lsh(Xx, k, bands).pairs(sigs, threshold)

  /** Cross-corpus near-duplicate pairs: for each left doc, the right docs
    * whose MinHash estimate clears `threshold` — near-dup DECONTAMINATION
    * (a paraphrased benchmark item still matches) and cross-source overlap
    * audits. Same id-only band join as [[nearDuplicatePairs]]; when
    * `right` is benchmark-sized, Catalyst broadcasts its signature side.
    * Returns (id_l, id_r, est_jaccard). CACHE CONTRACT: see [[persisted]]. */
  def crossNearDuplicatePairs(left: DataFrame, right: DataFrame,
                              textCol: String, idCol: String,
                              n: Int = 3, k: Int = 64, bands: Int = 16,
                              threshold: Double = 0.7): DataFrame = {
    val lsh = Lsh(Xx, k, bands)
    // each side feeds its band buckets AND its estimator join (r14)
    val l = persisted(signatures(left, textCol, idCol, n, k))
    val r = persisted(signatures(right, textCol, idCol, n, k))
    val cand = lsh.buckets(l, "id_l").join(lsh.buckets(r, "id_r"), Seq("_gf_band", "_gf_bh"))
      .select("id_l", "id_r")
      .distinct()
    lsh.scored(cand, "l", "r", threshold)("l" -> l, "r" -> r)
  }

  /** Incremental near-dedup: drop new-batch docs that near-match the
    * EXISTING corpus via its precomputed signature index — the continuous
    * -ingest complement of [[dedup]] (the near-dup twin of
    * `LlmDedup.incremental`). The index side is the `(id, _gf_sig)` frame
    * [[signatures]] produces — persist it once when the corpus is built;
    * this function never re-reads or re-shingles the index text, it only
    * band-hashes the stored signatures (a projection). Within-batch
    * near-dups are dropped first (greedy smaller-id-wins), then batch
    * survivors matching any index doc. */
  def incrementalNear(batch: DataFrame, indexSigs: DataFrame,
                      textCol: String, idCol: String,
                      n: Int = 3, k: Int = 64, bands: Int = 16,
                      threshold: Double = 0.7): DataFrame = {
    val lsh = Lsh(Xx, k, bands)
    // ONE signature pass over the batch: within-batch losers come from
    // the pair core on the same frame (not a nested dedup() that would
    // re-shingle), survivors' signatures are an anti-join on ids, and
    // only those survivors probe the index. The signature aggregation's
    // exchange is reused across all consumers.
    // NOT persisted (r14, measured): a persist here LOST 2.4 s at sf0.1 —
    // AQE's runtime stage reuse already shares the signature exchange
    // across this frame's consumers, and the extra cache materialization
    // costs more than the post-shuffle lane folds it saves (contrast with
    // nearDuplicatePairs/dedup, where the persist won ~2×).
    val batchSigs = signatures(batch, textCol, idCol, n, k)
    // anti-join build sides are insensitive to duplicate rows, so the
    // loser frames skip dedup entirely — only candIds dedups (each
    // surviving pair must pay exactly one estimator)
    val withinLosers = lsh.pairs(batchSigs, threshold)
      .select(col("id_b").as("_gf_loser"))
    val survivorSigs = batchSigs
      .join(withinLosers, batchSigs("_gf_id") === col("_gf_loser"), "left_anti")
    val candIds = lsh.buckets(survivorSigs, "id_b")
      .join(lsh.buckets(indexSigs, "id_i"), Seq("_gf_band", "_gf_bh"))
      .select("id_b", "id_i").distinct()
    val indexLosers = lsh.scored(candIds, "b", "i", threshold)(
        "b" -> survivorSigs, "i" -> indexSigs)
      .select(col("id_b").as("_gf_loser"))
    batch.join(withinLosers.unionByName(indexLosers),
      batch(idCol) === col("_gf_loser"), "left_anti")
  }

  /** Probe a STATIC stored signature index with incoming documents,
    * emitting every (doc, index-doc) near-match pair — the stateless,
    * STREAM-COMPATIBLE complement of [[incrementalNear]]: every step is a
    * projection, an explode, or a stream-static equi-join, so `docs` may
    * be a Structured Streaming frame (continuous-ingest dedup against
    * yesterday's corpus) as well as a batch.
    *
    * Per incoming doc the signature is the per-row codegen'd
    * [[graft.functions.MinHashSig]] kernel (no aggregation — a streaming
    * frame cannot pay a groupBy before a join), band hashes explode, and
    * candidates come from the equi-join against the index's band buckets;
    * each candidate pays one exact estimator against the stored signature.
    * The index side re-derives band buckets from the stored `(id, sig)`
    * frame — a projection of the index, never a re-read of its text — and
    * inherits [[Lsh.buckets]]' k-mismatch raise.
    *
    * Returns (id_d, id_i, est_jaccard) with est_jaccard >= threshold. On
    * a batch frame pairs are distinct. On a STREAMING frame a pair that
    * collides in several bands is emitted once per colliding band
    * (deduplicating inside would need unbounded state); follow with
    * `dropDuplicates` under a watermark when exactly-once pairs matter —
    * the flag interpretation ("this doc matches the corpus") is
    * unaffected by duplicates. */
  def probePairs(docs: DataFrame, indexSigs: DataFrame,
                 textCol: String, idCol: String,
                 n: Int = 3, k: Int = 64, bands: Int = 16,
                 threshold: Double = 0.7): DataFrame = {
    val lsh = Lsh(Xx, k, bands)
    val sigd = docs.select(col(idCol).as("id_d"),
        signature(shingles(col(textCol), n), k).as("_gf_sig_d"))
      .filter(col("_gf_sig_d").isNotNull)
    // the doc side's signature rides its band rows: a stream cannot
    // rejoin it by id
    val banded = sigd.select(col("id_d"), col("_gf_sig_d"),
      posexplode(lsh.bandKeys(col("_gf_sig_d"))).as(Seq("_gf_band", "_gf_bh")))
    val matched = lsh.scored(
        banded.join(lsh.buckets(indexSigs, "id_i"), Seq("_gf_band", "_gf_bh")),
        "d", "i", threshold)("i" -> indexSigs)
    if (docs.isStreaming) matched else matched.distinct()
  }

  /** Near-dup decontamination: drop every left doc whose MinHash estimate
    * against ANY right (benchmark) doc clears `threshold` — the fuzzy
    * complement of exact n-gram decontamination, catching paraphrased or
    * lightly-edited benchmark items that share no exact 8-gram. */
  def decontaminateNear(corpus: DataFrame, bench: DataFrame,
                        textCol: String, idCol: String,
                        n: Int = 3, k: Int = 64, bands: Int = 16,
                        threshold: Double = 0.7): DataFrame = {
    val hit = crossNearDuplicatePairs(corpus, bench, textCol, idCol,
        n, k, bands, threshold)
      .select(col("id_l").as("_gf_hit")).distinct()
    corpus.join(hit, corpus(idCol) === col("_gf_hit"), "left_anti")
  }

  /** Greedy near-dedup: drop any doc that near-matches a smaller-id doc
    * (single pass over the pair list — the standard corpus-dedup policy;
    * full connected components would need iteration).
    *
    * **Identical-signature collapse (the boilerplate mega-cluster
    * guard).** Before the band join, docs sharing an IDENTICAL signature
    * collapse to their min-id representative via one aggregation. This is
    * the skew fix AQE cannot provide: an m-doc boilerplate cluster (site
    * chrome, license headers, templated pages — every real crawl has one)
    * puts m identical band hashes in EVERY band's bucket, so the
    * candidate self-join emits bands·m²/2 pairs — OptimizeSkewedJoin can
    * split the hot partition across tasks, but the quadratic OUTPUT still
    * has to exist (m = 10⁸ at 100 TB → 10¹⁶ pairs). Aggregation, unlike a
    * join, is skew-robust (map-side partial combine), so the collapse
    * costs one combined exchange and removes the blow-up at its source:
    * the cluster enters the band join as ONE row.
    *
    * The kept set is EXACTLY the pre-collapse one:
    *  - a non-representative member is a loser both ways (identical sigs
    *    collide in every band and estimate 1.0 ≥ any threshold, and the
    *    rep's id is smaller by construction);
    *  - for cross-group pairs, est_jaccard and band collision depend only
    *    on the signatures, so (repA, repB) passes iff every (a, b) pair
    *    did, and min(A ∪ B) — the only cross-group survivor either way —
    *    is a representative by definition.
    * MinHashSpec pins collapsed ≡ pair-derived on a planted mega-cluster;
    * [[graft.MinHashSkewProbe]] measures the quadratic counterfactual.
    *
    * CACHE CONTRACT: see [[persisted]]. */
  def dedup(df: DataFrame, textCol: String, idCol: String,
            n: Int = 3, k: Int = 64, bands: Int = 16,
            threshold: Double = 0.7): DataFrame =
    dedupReleasable(df, textCol, idCol, n, k, bands, threshold)._1

  /** [[dedup]] plus the release of its persisted signature frame; call
    * the release only after the kept frame has been consumed. */
  private[graft] def dedupReleasable(df: DataFrame, textCol: String,
      idCol: String, n: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.7): (DataFrame, () => Unit) = {
    val lsh = Lsh(Xx, k, bands)
    // Multi-consumer persist (r14): sigs feeds the rep collapse, the
    // dup-loser join, AND (as repSigs) all four pair-core consumers.
    val sigs = persisted(signatures(df, textCol, idCol, n, k))
    val reps = sigs.groupBy(col("_gf_sig"))
      .agg(min(col("_gf_id")).as("_gf_rep"))
    // m×1 per signature group: skew-safe (the hot key meets ONE build row)
    val dupLosers = sigs.join(reps, Seq("_gf_sig"))
      .filter(col("_gf_id") =!= col("_gf_rep"))
      .select(col("_gf_id").as("_gf_loser"))
    val repSigs = reps.select(col("_gf_rep").as("_gf_id"), col("_gf_sig"))
    val pairLosers = lsh.pairs(repSigs, threshold)
      .select(col("id_b").as("_gf_loser"))
    (df.join(dupLosers.unionByName(pairLosers).distinct(),
      df(idCol) === col("_gf_loser"), "left_anti"), () => sigs.unpersist())
  }

  /** Persist a signature index — the state an INCREMENTAL near-dedup
    * pipeline carries between batches ([[incrementalNear]] /
    * [[probePairs]] consume it). Follows the engine's persisted-index
    * discipline ([[graft.sim.Quantize.writeSq8Index]]): refusals before
    * any write (see [[checkedFrame]]), data first, format-tagged
    * k/row-pinned manifest LAST as the completeness marker. */
  def writeSignatureIndex(sigs: DataFrame, path: String): Unit = {
    val (k, n) = checkedFrame(sigs, "writeSignatureIndex", None, path)
    sigs.select(col("_gf_id"), col("_gf_sig"))
      .write.mode("overwrite").parquet(s"$path/sigs")
    writeManifest(sigs.sparkSession, path, k, n)
  }

  /** Re-open a persisted signature index; refuses a missing/foreign
    * manifest, a row-count mismatch (partial copy), and a sampled lane
    * count that disagrees with the manifest's k. */
  def readSignatureIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String): DataFrame = {
    val (k, rows) = readManifest(spark, path,
      "nothing was persisted here, or the write was interrupted before " +
        "completion (manifest is last)")
    val sigs = spark.read.parquet(s"$path/sigs")
    val n = sigs.count()
    if (n != rows) throw new IllegalArgumentException(
      s"signature index at $path has $n rows but the manifest pinned $rows " +
        "— partial copy or torn write; restore the matching files")
    sigs.select(size(col("_gf_sig")).as("_gf_k")).limit(1).collect()
      .foreach { r =>
        if (r.getInt(0) != k) throw new IllegalArgumentException(
          s"signature index at $path stores ${r.getInt(0)}-lane signatures " +
            s"but the manifest says k=$k — the manifest does not belong to " +
            "this data")
      }
    sigs
  }

  /** Append a new batch's signatures to an existing index WITHOUT
    * rewriting it — the between-batches step of incremental near-dedup.
    * Refusals BEFORE any write: foreign/missing manifest, everything
    * [[checkedFrame]] refuses (at the index's k), and ids already in the
    * index (a document signed twice would pair with itself forever
    * after). Data appends first; the manifest is recounted from the
    * written files and overwritten LAST. Single-writer contract, as for
    * every persisted index in this engine. */
  def appendToSignatureIndex(sigs: DataFrame, path: String): Unit = {
    val spark = sigs.sparkSession
    val (k, _) = readManifest(spark, path,
      "appendToSignatureIndex needs an existing index; use " +
        "writeSignatureIndex for the first write")
    checkedFrame(sigs, "appendToSignatureIndex", Some(k), path)
    val clashes = sigs.select(col("_gf_id"))
      .join(spark.read.parquet(s"$path/sigs").select(col("_gf_id")),
        Seq("_gf_id"), "left_semi")
      .limit(5).collect().map(_.get(0))
    if (clashes.nonEmpty) throw new IllegalArgumentException(
      s"appendToSignatureIndex: ids already present in the index at $path " +
        s"(first ${clashes.length}: ${clashes.mkString(", ")})")
    sigs.select(col("_gf_id"), col("_gf_sig"))
      .write.mode("append").parquet(s"$path/sigs")
    writeManifest(spark, path, k, spark.read.parquet(s"$path/sigs").count())
  }

  private val IndexFormat = "graft-minhash-v1"

  /** One aggregate over a frame about to be persisted, refusing what no
    * index may hold: an empty frame, null signatures (they cannot be
    * probed), more than one lane count or one other than the index's `k`
    * (an index whose rows disagree on k would band-hash wrong slices and
    * silently stop matching), and an id repeated inside the frame (a
    * document signed twice pairs with itself forever after). Returns
    * (k, rows). */
  private def checkedFrame(sigs: DataFrame, op: String, want: Option[Int],
                           path: String): (Int, Long) = {
    val s = sigs.agg(count(lit(1)), count(col("_gf_sig")),
      min(size(col("_gf_sig"))), max(size(col("_gf_sig"))),
      countDistinct(col("_gf_id"))).collect()(0)
    val n = s.getLong(0)
    require(n > 0, s"$op: refusing to persist an empty signature frame")
    if (n != s.getLong(1)) throw new IllegalArgumentException(
      s"$op: ${n - s.getLong(1)} null signatures in the frame — drop them " +
        "before persisting; a null signature cannot be probed")
    val (lo, hi) = (s.getInt(2), s.getInt(3))
    want.filter(k => lo != k || hi != k).foreach(k =>
      throw new IllegalArgumentException(s"$op: batch carries a non-$k-lane " +
        s"signature — the index at $path was built at k=$k"))
    if (lo != hi) throw new IllegalArgumentException(
      s"$op: lane counts from $lo to $hi in one frame — an index must be " +
        "built at ONE k")
    if (s.getLong(4) != n) throw new IllegalArgumentException(
      s"$op: ${n - s.getLong(4)} repeated ids in the frame — each document " +
        "is signed once")
    (lo, n)
  }

  /** The manifest's (k, rows); refuses a missing (`missing` says why that
    * matters to the caller) or foreign manifest. */
  private def readManifest(spark: org.apache.spark.sql.SparkSession,
                           path: String, missing: String): (Int, Long) = {
    val mp = new org.apache.hadoop.fs.Path(s"$path/manifest.json")
    val fs = mp.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(mp)) throw new IllegalArgumentException(
      s"no signature-index manifest at $path — $missing")
    val in = fs.open(mp)
    val raw =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    if (!raw.contains("\"" + IndexFormat + "\"")) throw new IllegalArgumentException(
      s"manifest at $path is not a $IndexFormat index (got: $raw) — " +
        "refusing to probe foreign signatures")
    def num(key: String): Long =
      s""""$key":\\s*(\\d+)""".r.findFirstMatchIn(raw).map(_.group(1).toLong)
        .getOrElse(throw new IllegalArgumentException(
          s"signature-index manifest at $path is missing '$key': $raw"))
    (num("k").toInt, num("rows"))
  }

  /** Writes the manifest — callers write it LAST, as the completeness
    * marker. */
  private def writeManifest(spark: org.apache.spark.sql.SparkSession,
                            path: String, k: Int, rows: Long): Unit = {
    val mp = new org.apache.hadoop.fs.Path(s"$path/manifest.json")
    val out = mp.getFileSystem(spark.sessionState.newHadoopConf()).create(mp, true)
    try out.write(s"""{"format": "$IndexFormat", "k": $k, "rows": $rows}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }
}
