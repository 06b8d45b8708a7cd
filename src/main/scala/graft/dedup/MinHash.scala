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
  def bandHashes(sigCol: Column, k: Int, bands: Int): Column = {
    require(k % bands == 0,
      s"k=$k must be a multiple of bands=$bands — integer truncation would silently drop the trailing ${k % bands} signature lanes")
    val r = k / bands
    array((0 until bands).map(j =>
      xxhash64(lit(j), slice(sigCol, j * r + 1, r))): _*)
  }

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
    signaturesOfShingleCol(df, shingles(col(textCol), n), idCol, k)

  /** [[signatures]] over an already-tokenized array column. */
  def signaturesOfTokens(df: DataFrame, toksCol: String, idCol: String,
                         n: Int, k: Int): DataFrame =
    signaturesOfShingleCol(df, shinglesOfTokens(col(toksCol), n), idCol, k)

  private def signaturesOfShingleCol(df: DataFrame, shingleCol: Column,
                                     idCol: String, k: Int): DataFrame = {
    val hashed = df
      .select(col(idCol).as("_gf_id"), explode(shingleCol).as("_gf_s"))
      .select(col("_gf_id"), xxhash64(col("_gf_s")).as("_gf_hh"))
    hashed.groupBy("_gf_id")
      .agg(min(xxhash64(col("_gf_hh"), lit(0))).as("_gf_m0"),
        (1 until k).map(i => min(xxhash64(col("_gf_hh"), lit(i))).as(s"_gf_m$i")): _*)
      .select(col("_gf_id"),
        array((0 until k).map(i => col(s"_gf_m$i")): _*).as("_gf_sig"))
  }

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
    * CACHE CONTRACT: the returned plan persists its signature-table-sized
    * frame (multi-consumer subtree) and owns no action, so it cannot
    * unpersist it. Long-lived sessions that call this repeatedly must
    * clear or unpersist between calls (the Verify/Bench harnesses call
    * `cacheManager.clearCache()` between queries); the same applies to
    * [[SimHash.nearDuplicatePairs]] and [[PortableMinHash.pairs]]. */
  def nearDuplicatePairs(df: DataFrame, textCol: String, idCol: String,
                         n: Int = 3, k: Int = 64, bands: Int = 16,
                         threshold: Double = 0.7): DataFrame = {
    require(k % bands == 0, s"k=$k must be a multiple of bands=$bands")
    // The signature frame feeds FOUR consumers inside sigPairs (two
    // band-bucket sides + two estimator joins); persist it so the
    // shingle→hash→K-lane aggregation runs once (the PortableMinHash.pairs
    // precedent, r14). One doc × (k+1) longs per row — signature-table-
    // sized, never corpus-sized; harnesses clear caches between queries.
    val sigs = signatures(df, textCol, idCol, n, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sigPairs(sigs, k, bands, threshold)
  }

  /** (band, band_hash, id-as-`idAlias`) bucket rows of a signature frame
    * — THE bucketing projection, shared by every band-join consumer.
    * Enforces (not assumes) that the stored signature length matches `k`:
    * an index built with a different k would band-hash wrong slices and
    * silently stop matching — fail loudly instead. */
  private def bandBuckets(sigs: DataFrame, k: Int, bands: Int,
                          idAlias: String): DataFrame = {
    // isNotNull guard: under legacy (non-ANSI) size(null) = -1 semantics a
    // null signature row would raise a misleading "length -1" error here
    // instead of being dropped by posexplode as before
    val checked = when(col("_gf_sig").isNotNull && size(col("_gf_sig")) =!= k,
        raise_error(concat(lit("graft: signature length "),
          size(col("_gf_sig")).cast("string"),
          lit(s" does not match k=$k — index and probe must use the same k")))
          .cast("array<bigint>"))
      .otherwise(col("_gf_sig"))
    sigs.select(col("_gf_id").as(idAlias),
      posexplode(bandHashes(checked, k, bands)).as(Seq("_gf_band", "_gf_bh")))
  }

  /** [[nearDuplicatePairs]] body over an already-computed signature frame
    * — callers that hold signatures (stored index, multi-use batch) skip
    * the re-shingling entirely. */
  private[graft] def sigPairs(sigs: DataFrame, k: Int, bands: Int,
                              threshold: Double): DataFrame = {
    val a = bandBuckets(sigs, k, bands, "id_a")
    val b = bandBuckets(sigs, k, bands, "id_b")
    val cand = a.join(b, Seq("_gf_band", "_gf_bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    cand
      .join(sigs.select(col("_gf_id").as("id_a"), col("_gf_sig").as("_gf_sig_a")), Seq("id_a"))
      .join(sigs.select(col("_gf_id").as("id_b"), col("_gf_sig").as("_gf_sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        estJaccard(col("_gf_sig_a"), col("_gf_sig_b"), k).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Cross-corpus near-duplicate pairs: for each left doc, the right docs
    * whose MinHash estimate clears `threshold` — near-dup DECONTAMINATION
    * (a paraphrased benchmark item still matches) and cross-source overlap
    * audits. Same id-only band join as [[nearDuplicatePairs]]; when
    * `right` is benchmark-sized, Catalyst broadcasts its signature side.
    * Returns (id_l, id_r, est_jaccard). */
  def crossNearDuplicatePairs(left: DataFrame, right: DataFrame,
                              textCol: String, idCol: String,
                              n: Int = 3, k: Int = 64, bands: Int = 16,
                              threshold: Double = 0.7): DataFrame = {
    require(k % bands == 0, s"k=$k must be a multiple of bands=$bands")
    def sides(df: DataFrame, tag: String) = {
      // each side feeds its band buckets AND its estimator join (r14)
      val sigs = signatures(df, textCol, idCol, n, k)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (sigs.select(col("_gf_id").as(s"id_$tag"), col("_gf_sig").as(s"_gf_sig_$tag")),
        bandBuckets(sigs, k, bands, s"id_$tag"))
    }
    val (lSigs, lBuckets) = sides(left, "l")
    val (rSigs, rBuckets) = sides(right, "r")
    lBuckets.join(rBuckets, Seq("_gf_band", "_gf_bh"))
      .select("id_l", "id_r")
      .distinct()
      .join(lSigs, Seq("id_l"))
      .join(rSigs, Seq("id_r"))
      .select(col("id_l"), col("id_r"),
        estJaccard(col("_gf_sig_l"), col("_gf_sig_r"), k).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
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
    require(k % bands == 0, s"k=$k must be a multiple of bands=$bands")
    // ONE signature pass over the batch: within-batch losers come from
    // sigPairs on the same frame (not a nested dedup() that would
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
    val withinLosers = sigPairs(batchSigs, k, bands, threshold)
      .select(col("id_b").as("_gf_loser"))
    val survivorSigs = batchSigs
      .join(withinLosers, batchSigs("_gf_id") === col("_gf_loser"), "left_anti")
    val candIds = bandBuckets(survivorSigs, k, bands, "id_b")
      .join(bandBuckets(indexSigs, k, bands, "id_i"), Seq("_gf_band", "_gf_bh"))
      .select("id_b", "id_i").distinct()
    val indexLosers = candIds
      .join(survivorSigs.select(col("_gf_id").as("id_b"), col("_gf_sig").as("_gf_sig_b")), Seq("id_b"))
      .join(indexSigs.select(col("_gf_id").as("id_i"), col("_gf_sig").as("_gf_sig_i")), Seq("id_i"))
      .filter(estJaccard(col("_gf_sig_b"), col("_gf_sig_i"), k) >= threshold)
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
    * inherits [[bandBuckets]]' k-mismatch raise.
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
    require(k % bands == 0, s"k=$k must be a multiple of bands=$bands")
    val sigd = docs.select(col(idCol).as("id_d"),
        signature(shingles(col(textCol), n), k).as("_gf_sig_d"))
      .filter(col("_gf_sig_d").isNotNull)
    val banded = sigd.select(col("id_d"), col("_gf_sig_d"),
      posexplode(bandHashes(col("_gf_sig_d"), k, bands)).as(Seq("_gf_band", "_gf_bh")))
    val matched = banded
      .join(bandBuckets(indexSigs, k, bands, "id_i"), Seq("_gf_band", "_gf_bh"))
      .join(indexSigs.select(col("_gf_id").as("id_i"), col("_gf_sig").as("_gf_sig_i")),
        Seq("id_i"))
      .select(col("id_d"), col("id_i"),
        estJaccard(col("_gf_sig_d"), col("_gf_sig_i"), k).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
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
    * CACHE CONTRACT: as [[nearDuplicatePairs]] — the persisted signature
    * frame outlives the call. [[graft.pipeline.Pipeline]] uses
    * [[dedupReleasable]] instead, which hands the unpersist back. */
  def dedup(df: DataFrame, textCol: String, idCol: String,
            n: Int = 3, k: Int = 64, bands: Int = 16,
            threshold: Double = 0.7): DataFrame =
    dedupReleasable(df, textCol, idCol, n, k, bands, threshold)._1

  /** [[dedup]] plus the release of its persisted signature frame; call
    * the release only after the kept frame has been consumed. */
  private[graft] def dedupReleasable(df: DataFrame, textCol: String,
      idCol: String, n: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.7): (DataFrame, () => Unit) = {
    require(k % bands == 0, s"k=$k must be a multiple of bands=$bands")
    // Multi-consumer persist (r14): sigs feeds the rep collapse, the
    // dup-loser join, AND (as repSigs) all four sigPairs consumers.
    val sigs = signatures(df, textCol, idCol, n, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val reps = sigs.groupBy(col("_gf_sig"))
      .agg(min(col("_gf_id")).as("_gf_rep"))
    // m×1 per signature group: skew-safe (the hot key meets ONE build row)
    val dupLosers = sigs.join(reps, Seq("_gf_sig"))
      .filter(col("_gf_id") =!= col("_gf_rep"))
      .select(col("_gf_id").as("_gf_loser"))
    val repSigs = reps.select(col("_gf_rep").as("_gf_id"), col("_gf_sig"))
    val pairLosers = sigPairs(repSigs, k, bands, threshold)
      .select(col("id_b").as("_gf_loser"))
    (df.join(dupLosers.unionByName(pairLosers).distinct(),
      df(idCol) === col("_gf_loser"), "left_anti"), () => sigs.unpersist())
  }

  /** Persist a signature index — the state an INCREMENTAL near-dedup
    * pipeline carries between batches ([[incrementalNear]] /
    * [[probePairs]] consume it). Follows the engine's persisted-index
    * discipline ([[graft.sim.Quantize.writeSq8Index]]): refusals before
    * any write (empty frame, null signatures, MIXED k — an index whose
    * rows disagree on lane count would band-hash wrong slices and
    * silently stop matching), data first, format-tagged k/row-pinned
    * manifest LAST as the completeness marker. */
  def writeSignatureIndex(sigs: DataFrame, path: String): Unit = {
    val spark = sigs.sparkSession
    require(sigs.limit(1).collect().nonEmpty,
      "writeSignatureIndex: refusing to persist an empty signature frame")
    sigs.select(col("_gf_id"), col("_gf_sig"))
      .write.mode("overwrite").parquet(s"$path/sigs")
    val written = spark.read.parquet(s"$path/sigs")
    val stats = written.agg(
      count(lit(1)).as("n"), count(col("_gf_sig")).as("ns"),
      countDistinct(size(col("_gf_sig"))).as("nk"),
      first(size(col("_gf_sig")), ignoreNulls = true).as("k")).collect()(0)
    if (stats.getLong(0) != stats.getLong(1))
      throw new IllegalArgumentException(
        s"writeSignatureIndex: ${stats.getLong(0) - stats.getLong(1)} null " +
          "signatures in the frame — drop them before persisting; a null " +
          "signature cannot be probed")
    if (stats.getLong(2) != 1L)
      throw new IllegalArgumentException(
        s"writeSignatureIndex: ${stats.getLong(2)} distinct lane counts in " +
          "one frame — an index must be built at ONE k")
    val k = stats.getInt(3); val n = stats.getLong(0)
    val json = s"""{"format": "graft-minhash-v1", "k": $k, "rows": $n}"""
    val mp = new org.apache.hadoop.fs.Path(s"$path/manifest.json")
    val fs = mp.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(mp, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Re-open a persisted signature index; refuses a missing/foreign
    * manifest, a row-count mismatch (partial copy), and a sampled lane
    * count that disagrees with the manifest's k. */
  def readSignatureIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String): DataFrame = {
    val mp = new org.apache.hadoop.fs.Path(s"$path/manifest.json")
    val fs = mp.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(mp)) throw new IllegalArgumentException(
      s"no signature-index manifest at $path — nothing was persisted here, " +
        "or the write was interrupted before completion (manifest is last)")
    val in = fs.open(mp)
    val raw =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    def num(key: String): Long =
      s""""$key":\\s*(\\d+)""".r.findFirstMatchIn(raw).map(_.group(1).toLong)
        .getOrElse(throw new IllegalArgumentException(
          s"signature-index manifest at $path is missing '$key': $raw"))
    if (!raw.contains("\"graft-minhash-v1\"")) throw new IllegalArgumentException(
      s"manifest at $path is not a graft-minhash-v1 index (got: $raw) — " +
        "refusing to probe foreign signatures")
    val k = num("k"); val rows = num("rows")
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
    * Refusals BEFORE any write: foreign/missing manifest, empty batch,
    * lane-count mismatch with the index's k, id collisions (a document
    * signed twice would pair with itself forever after). Data appends
    * first; the manifest is recounted from the written files and
    * overwritten LAST. Single-writer contract, as for every persisted
    * index in this engine. */
  def appendToSignatureIndex(sigs: DataFrame, path: String): Unit = {
    val spark = sigs.sparkSession
    val mp = new org.apache.hadoop.fs.Path(s"$path/manifest.json")
    val fs = mp.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(mp)) throw new IllegalArgumentException(
      s"no signature-index manifest at $path — appendToSignatureIndex needs " +
        "an existing index; use writeSignatureIndex for the first write")
    val in = fs.open(mp)
    val raw =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    if (!raw.contains("\"graft-minhash-v1\"")) throw new IllegalArgumentException(
      s"manifest at $path is not a graft-minhash-v1 index (got: $raw)")
    val k = """"k":\s*(\d+)""".r.findFirstMatchIn(raw).map(_.group(1).toInt)
      .getOrElse(throw new IllegalArgumentException(
        s"signature-index manifest at $path is missing 'k': $raw"))
    require(sigs.limit(1).collect().nonEmpty,
      "appendToSignatureIndex: refusing to append an empty frame")
    val badK = sigs.filter(col("_gf_sig").isNull || size(col("_gf_sig")) =!= k)
      .limit(1).collect()
    if (badK.nonEmpty) throw new IllegalArgumentException(
      s"appendToSignatureIndex: batch carries a null or non-$k-lane " +
        s"signature — the index at $path was built at k=$k")
    val existing = spark.read.parquet(s"$path/sigs")
    val clashes = sigs.select(col("_gf_id"))
      .join(existing.select(col("_gf_id")), Seq("_gf_id"), "left_semi")
      .limit(5).collect().map(_.get(0))
    if (clashes.nonEmpty) throw new IllegalArgumentException(
      s"appendToSignatureIndex: ids already present in the index at $path " +
        s"(first ${clashes.length}: ${clashes.mkString(", ")})")
    sigs.select(col("_gf_id"), col("_gf_sig"))
      .write.mode("append").parquet(s"$path/sigs")
    val n = spark.read.parquet(s"$path/sigs").count()
    val json = s"""{"format": "graft-minhash-v1", "k": $k, "rows": $n}"""
    val out = fs.create(mp, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }
}
