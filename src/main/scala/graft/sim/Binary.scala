package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.GraftFunctions

/** 1-bit (sign) binary quantization for embedding columns — the 32× end
  * of the vector-compression ladder (float32 → SQ8 4× ([[Quantize]]) →
  * PQ ([[Pq]]) → binary), the FAISS `IndexBinaryFlat` search shape and
  * the "binary quantization" route of modern vector stores.
  *
  * Encoding: bit i is set iff x_i > 0 (zeros and negatives clear), packed
  * MSB-first into ceil(d/8) bytes — dimension i lands in byte i/8, and a
  * full byte reads as the base-2 number of its 8 dims in order. Distance
  * is Hamming via the [[graft.functions.BinHamming]] popcount kernel: a
  * scan touches ceil(d/8) bytes per row instead of 4·d, and each
  * XOR+popcount covers 8 dimensions per instruction — at 100 TB this is
  * the cheapest first-pass shortlist the engine has, with exact cosine
  * reranking ([[hammingRerank]]) recovering float-precision order on the
  * shortlist only (the IVFADC+R two-stage discipline at 1/32 the scan
  * bytes).
  *
  * Oracle parity: Hamming counts are INTEGERS — the DuckDB oracle
  * recomputes them from the raw float signs (never seeing the packed
  * layout), so a hash match proves the pack/XOR/popcount pipeline exactly
  * equals the semantic definition. The rerank stage reuses VecCosine's
  * established bit-exact parity with `list_dot_product`.
  */
object Binary {

  /** Binarize: (id, n_dims, codes BINARY, n_pos). Null/empty vectors get
    * null codes (no geometry — probes drop them, the persist path refuses
    * them, matching the SQ8 discipline). Packing runs through codegen'd
    * builtins (`transform`/`slice`/`aggregate` — byte values ≤ 255, no
    * overflow under ANSI) + the [[graft.functions.PackBytes]] kernel;
    * `n_pos` is read back from the PACKED word via
    * [[graft.functions.BinPopcount]], so the audit observes the stored
    * representation, not the pre-pack array. */
  def encodeBinary(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol)
    df.select(
      col(idCol),
      when(v.isNull, lit(null).cast("int")).otherwise(size(v)).as("n_dims"),
      codesColumn(v).as("codes"))
      .withColumn("n_pos", GraftFunctions.binPopcount(col("codes")))
  }

  /** The packed sign-bit word of a vector column — ceil(d/8) byte slots;
    * byte j folds dims [8j, 8j+8) MSB-first. A tail byte with m<8 dims
    * keeps its bits in the LOW m positions — consistent across
    * equal-dimension vectors, which BinHamming enforces (unequal byte
    * lengths throw). Null/empty vectors → null word. */
  private[graft] def codesColumn(v: Column): Column = {
    val d = size(v)
    val byteCodes = transform(
      sequence(lit(0), floor((d - lit(1)).cast("double") / 8.0).cast("int")),
      j => aggregate(
        slice(v, j * lit(8) + lit(1), lit(8)),
        lit(0),
        (acc, x) => acc * lit(2) + when(x > lit(0), lit(1)).otherwise(lit(0))))
    when(v.isNull || d === 0, lit(null).cast("binary"))
      .otherwise(GraftFunctions.packBytes(byteCodes))
  }

  /** Top-k nearest by Hamming distance over the binarized corpus.
    * Queries binarize on the fly and broadcast (small by contract); the
    * coded corpus streams once through the crossJoin — no shuffle, no
    * float reads. Ties rank by neighbor id. Output:
    * (query_id, neighbor_id, rank, hamming). */
  def hammingTopK(coded: DataFrame, codedId: String,
                  queries: DataFrame, queryId: String, queryVec: String,
                  k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val q = encodeBinary(queries, queryId, queryVec)
      .filter(col("codes").isNotNull)
      .select(col(queryId).as("_gf_qid"), col("codes").as("_gf_qcodes"))
    val w = Window.partitionBy("_gf_qid")
      .orderBy(col("_gf_ham").asc, col(codedId))
    coded.filter(col("codes").isNotNull)
      .crossJoin(broadcast(q))
      .withColumn("_gf_ham", GraftFunctions.binHamming(col("codes"), col("_gf_qcodes")))
      .withColumn("_gf_rank", row_number().over(w))
      .filter(col("_gf_rank") <= k)
      .select(col("_gf_qid").as("query_id"), col(codedId).as("neighbor_id"),
        col("_gf_rank").as("rank"), col("_gf_ham").as("hamming"))
  }

  /** Two-stage search: Hamming shortlist of `m` over the coded corpus,
    * then exact-cosine rerank of the shortlist against the FLOAT vectors
    * (fetched by id — only m·|queries| rows ever read floats; the
    * corpus-wide scan stays on the byte codes). Final ties rank by
    * neighbor id. Output: (query_id, neighbor_id, rank, cosine, hamming). */
  def hammingRerank(coded: DataFrame, codedId: String,
                    corpus: DataFrame, corpusId: String, corpusVec: String,
                    queries: DataFrame, queryId: String, queryVec: String,
                    m: Int = 50, k: Int = 10): DataFrame = {
    require(m >= k, s"shortlist m ($m) must be >= k ($k)")
    val shortlist = hammingTopK(coded, codedId, queries, queryId, queryVec, m)
    // The shortlist is m·|queries| rows — broadcast it so the float fetch
    // is one corpus stream through a broadcast hash join, not a shuffle.
    val cand = broadcast(shortlist)
      .join(corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("_gf_cv")),
        Seq("neighbor_id"))
      .join(broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("_gf_qv"))),
        Seq("query_id"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("_gf_cos").desc, col("neighbor_id"))
    cand
      .withColumn("_gf_cos", Similarity.cosine(col("_gf_cv"), col("_gf_qv")))
      .withColumn("_gf_rank", row_number().over(w))
      .filter(col("_gf_rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("_gf_rank").as("rank"), graft.Num.dround(col("_gf_cos"), 6).as("cosine"),
        col("hamming"))
  }

  /** Band substrings of a code word, remainder-spread: base = len/bands
    * bytes per band with the first len%bands bands one byte wider, so
    * every band is NON-EMPTY whenever len ≥ bands. (The previous
    * ceil(len/bands) width left trailing bands as empty substrings
    * whenever len mod bands was small — e.g. 5-byte codes, 4 bands → band
    * 3 empty for EVERY row — and an all-rows-equal band degenerates the
    * candidate equi-join toward all-pairs; recall was unaffected, cost
    * blew up.) Words shorter than `bands` bytes raise: a zero-width band
    * would silently recreate the degenerate bucket. */
  private[graft] def bandSlices(codes: Column, bands: Int): Column = {
    val len = length(codes)
    val base = floor(len.cast("double") / bands).cast("int")
    val rem = (len % lit(bands)).cast("int")
    val guarded = when(len >= lit(bands), codes)
      .otherwise(raise_error(concat(
        lit("graft.sim.Binary: code word of "), len.cast("string"),
        lit(s" bytes cannot split into $bands non-empty bands — lower " +
          "bands or widen the codes"))).cast("binary"))
    transform(sequence(lit(0), lit(bands - 1)), b =>
      guarded.substr(b * base + least(b, rem) + lit(1),
        base + when(b < rem, lit(1)).otherwise(lit(0))))
  }

  /** All pairs within Hamming distance `maxDist`, by bit-sampling LSH
    * with an EXACTNESS GUARANTEE: the code word splits into `bands`
    * byte-ranges and candidates come from an EQUI-join on (band, bytes);
    * by pigeonhole, two words differing in ≤ maxDist < bands bits agree
    * on at least one whole band, so recall is EXACTLY 1 — unlike MinHash
    * banding, whose recall is probabilistic, this pair set is the true
    * threshold set and therefore ORACLE-CHECKABLE. Precision is then
    * restored by the exact [[graft.functions.BinHamming]] filter.
    *
    * Scale shape: band rows are (id, 8-byte word, band bytes) — no text,
    * no floats, no all-pairs; bucket sizes are bounded by sign-pattern
    * collisions (zero natural collisions measured on the synthetic
    * corpus; a degenerate corpus of near-constant-sign vectors would
    * concentrate buckets, the same caveat MinHash banding documents). */
  def hammingPairs(coded: DataFrame, idCol: String,
                   maxDist: Int, bands: Int = 4): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(bands > maxDist,
      s"the pigeonhole guarantee needs bands ($bands) > maxDist ($maxDist) " +
        "— with fewer bands a qualifying pair can disagree in every band " +
        "and silently vanish; raise bands or lower maxDist")
    val c = coded.filter(col("codes").isNotNull)
      .select(col(idCol).as("_gf_id"), col("codes"))
    val banded = c.select(col("_gf_id"), col("codes"),
      posexplode(bandSlices(col("codes"), bands)))
    val a = banded.select(col("_gf_id").as("id_a"), col("codes").as("_gf_ca"),
      col("pos").as("_gf_band"), col("col").as("_gf_bb"))
    val b = banded.select(col("_gf_id").as("id_b"), col("codes").as("_gf_cb"),
      col("pos").as("_gf_band"), col("col").as("_gf_bb"))
    a.join(b, Seq("_gf_band", "_gf_bb"))
      .filter(col("id_a") < col("id_b"))
      // a close pair collides in several bands — dedup BEFORE the exact
      // distance so each surviving pair pays one kernel call
      .select(col("id_a"), col("id_b"), col("_gf_ca"), col("_gf_cb"))
      .distinct()
      .withColumn("hamming",
        GraftFunctions.binHamming(col("_gf_ca"), col("_gf_cb")))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Streaming lane of [[hammingPairs]]: probe incoming (binarized)
    * documents against a STATIC coded index — the banded equi-join is
    * stream-static (streamable unchanged), the exact kernel filter is
    * stateless, so continuous near-dup screening over 8-byte codes runs
    * the SAME plan as batch (StreamingSpec pins stream ≡ batch). The
    * pigeonhole guarantee carries over: every index row within `maxDist`
    * of a probe IS emitted. A probe may emit once per colliding band —
    * the dedupWithinWatermark/downstream-distinct trade the MinHash
    * stream probe documents (a blocking distinct has no place in an
    * append stream). */
  def hammingProbe(probes: DataFrame, probeId: String,
                   index: DataFrame, indexId: String,
                   maxDist: Int, bands: Int = 4): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(bands > maxDist,
      s"the pigeonhole guarantee needs bands ($bands) > maxDist ($maxDist)")
    def banded(df: DataFrame, id: String, idOut: String, codesOut: String) = {
      df.filter(col("codes").isNotNull)
        .select(col(id).as(idOut), col("codes").as(codesOut),
          posexplode(bandSlices(col("codes"), bands)))
        .withColumnsRenamed(Map("pos" -> "_gf_band", "col" -> "_gf_bb"))
    }
    banded(probes, probeId, "probe_id", "_gf_pc")
      .join(banded(index, indexId, "index_id", "_gf_ic"), Seq("_gf_band", "_gf_bb"))
      .withColumn("hamming",
        GraftFunctions.binHamming(col("_gf_pc"), col("_gf_ic")))
      .filter(col("hamming") <= maxDist)
      .select(col("probe_id"), col("index_id"), col("hamming"))
  }

  /** IVF + binary probe (the FAISS `IndexBinaryIVF` shape — binary codes
    * at 100 TB): the coarse quantizer prunes to `nprobe` cells (and, on a
    * persisted cid-partitioned index, to those cells' FILES), the pruned
    * cells scan as 8-bytes-per-vector Hamming words through the popcount
    * kernel, and exact cosine reranks only the m-row shortlist. Probe
    * selection reuses [[Ivf.collectProbes]] — the single-collect subplan
    * both IVF routes share — so dim validation and the static IN pruning
    * filter come for free. Rows-only at the gate (k-means seeds are
    * engine-specific); BinarySpec pins full-probe ≡ whole-corpus
    * [[hammingRerank]] (the IvfPq full-probe ≡ full-scan precedent). */
  def ivfHammingTopK(index: Ivf.IvfIndex, queries: DataFrame,
                     queryId: String, queryVec: String,
                     k: Int = 10, nprobe: Int = 2, m: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(m >= k, s"shortlist m ($m) must be >= k ($k)")
    val spark = queries.sparkSession
    val (probeRows, probeSchema) =
      Ivf.collectProbes(index, queries, queryId, queryVec, nprobe)
    val cidIdx = probeSchema.fieldIndex("_gf_cid")
    val probedCids = probeRows.map(_.getLong(cidIdx)).distinct.toSeq
    val probesLocal = spark.createDataFrame(
        java.util.Arrays.asList(probeRows: _*), probeSchema)
      .withColumn("_gf_qcodes", codesColumn(col("_gf_qv")))
    val coded = index.indexed.select(col("_gf_cid"), col("_gf_id"),
        codesColumn(col("_gf_v")).as("_gf_codes"))
      .filter(col("_gf_codes").isNotNull)
    val pruned =
      if (probedCids.isEmpty) coded.filter(lit(false))
      else coded.filter(col("_gf_cid").isin(probedCids: _*))
    val wH = Window.partitionBy("_gf_qid")
      .orderBy(col("_gf_ham").asc, col("_gf_id"))
    val shortlist = pruned
      .join(broadcast(probesLocal.select(
        col("_gf_cid"), col("_gf_qid"), col("_gf_qcodes"))), Seq("_gf_cid"))
      .withColumn("_gf_ham",
        GraftFunctions.binHamming(col("_gf_codes"), col("_gf_qcodes")))
      .withColumn("_gf_hrank", row_number().over(wH))
      .filter(col("_gf_hrank") <= m)
      .select(col("_gf_qid"), col("_gf_id"), col("_gf_ham"))
    // exact rerank: floats fetched by id for the shortlist only
    val wC = Window.partitionBy("_gf_qid")
      .orderBy(col("_gf_cos").desc, col("_gf_id"))
    broadcast(shortlist)
      .join(index.indexed.select(col("_gf_id"), col("_gf_v")), Seq("_gf_id"))
      .join(broadcast(probesLocal
        .select(col("_gf_qid"), col("_gf_qv")).distinct()), Seq("_gf_qid"))
      .withColumn("_gf_cos", Similarity.cosine(col("_gf_v"), col("_gf_qv")))
      .withColumn("_gf_rank", row_number().over(wC))
      .filter(col("_gf_rank") <= k)
      .select(col("_gf_qid").as("query_id"), col("_gf_id").as("neighbor_id"),
        col("_gf_rank").as("rank"), graft.Num.dround(col("_gf_cos"), 6).as("cosine"),
        col("_gf_ham").as("hamming"))
  }

  /** Persist the binarized corpus ([[Quantize.writeSq8Index]] conventions:
    * refuse empties and null code words before touching disk, data first,
    * format-tagged row-pinned manifest LAST as the completeness marker). */
  def writeBinaryIndex(coded: DataFrame, path: String): Unit = {
    val spark = coded.sparkSession
    require(coded.limit(1).collect().nonEmpty,
      "writeBinaryIndex: refusing to persist an empty coded corpus")
    coded.write.mode("overwrite").parquet(s"$path/codes")
    val written = spark.read.parquet(s"$path/codes")
    val stats = written.agg(
      count(lit(1)).as("n"), count(col("codes")).as("nc"),
      first(col("n_dims"), ignoreNulls = true).as("d")).collect()(0)
    if (stats.getLong(0) != stats.getLong(1))
      throw new IllegalArgumentException(
        s"writeBinaryIndex: ${stats.getLong(0) - stats.getLong(1)} null code " +
          "words in the coded corpus (null/empty source vectors) — drop " +
          "them before persisting; a null code word cannot be probed")
    val dim = stats.getInt(2)
    val n = stats.getLong(0)
    graft.Manifest.write(spark, path, "format" -> "graft-bin-v1", "dim" -> dim,
      "rows" -> n)
  }

  /** Re-open a persisted binary index; refuses a missing/foreign manifest,
    * a row-count mismatch (partial copy), and a code word whose byte
    * length disagrees with ceil(dim/8) (the manifest does not belong to
    * this data). */
  def readBinaryIndex(spark: SparkSession, path: String): DataFrame = {
    val m = graft.Manifest.read(spark, path, "binary index", "graft-bin-v1")
    val dim = m.long("dim"); val rows = m.long("rows")
    val expectBytes = ((dim + 7) / 8).toInt
    val codes = spark.read.parquet(s"$path/codes")
    val n = codes.count()
    if (n != rows) throw new IllegalArgumentException(
      s"binary index at $path has $n code rows but the manifest pinned $rows " +
        "— partial copy or torn write; restore the matching files")
    codes.filter(col("codes").isNotNull)
      .select(length(col("codes")).as("_gf_len")).limit(1).collect()
      .foreach { r =>
        if (r.getInt(0) != expectBytes) throw new IllegalArgumentException(
          s"binary index at $path stores ${r.getInt(0)}-byte code words but " +
            s"the manifest says dim=$dim (${expectBytes} bytes) — the " +
            "manifest does not belong to this data")
      }
    codes
  }
}
