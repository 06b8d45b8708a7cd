package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Num.dround

/** Int8 scalar quantization for embedding columns — the standard 4×
  * vector-store compression (per-vector affine min/max codes, the "SQ8"
  * of the FAISS family; Jégou et al.'s PQ sibling already lives in
  * [[Pq]]): an error AUDIT (quantize→dequantize→reconstruction error, so
  * a pipeline can decide whether SQ8 suffices or PQ's 32× is needed) and
  * the SEARCH route over the coded corpus.
  *
  * Both evaluate through fused native kernels
  * ([[graft.functions.Sq8Audit]] / [[graft.functions.Sq8Encode]]): the
  * HOF composites kept below as the spec's equivalence oracles
  * re-materialize the cast array per element after project collapsing
  * (O(d²) array builds) and run the exact-decimal fold in interpreted
  * eval — the scale ladder measured them at ~7 ms/vector; the kernels
  * are linear passes with primitive accumulators (the TextQuality
  * measure-then-fuse precedent), bit-identical by construction and
  * pinned so in QuantizeSpec.
  *
  * Float parity with the DuckDB oracles: float→double casts are exact;
  * mn/mx are selections; scale, codes, and errors are chains of single
  * IEEE ops on identical operands; the MSE accumulates 12-dp-rounded
  * squared errors exactly (integer-valued terms in a long ≡ the
  * DECIMAL(30,12) sum) — bit-identical across engines and partitionings.
  */
object Quantize {

  /** Per-vector audit: (id, n_dims, vmin, scale, max_abs_err, mse).
    * `vmin`/`scale` are the code book (x ≈ vmin + code·scale); constant
    * vectors get scale 1 and all-zero codes (error 0). One codegen'd
    * projection — no shuffle, no join, no UDF. */
  def int8Audit(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol),
      graft.functions.GraftFunctions.sq8Audit(col(vecCol)).as("_gf_a"))
      .select(col(idCol), col("_gf_a.n_dims").as("n_dims"),
        col("_gf_a.vmin").as("vmin"), col("_gf_a.scale").as("scale"),
        col("_gf_a.max_abs_err").as("max_abs_err"), col("_gf_a.mse").as("mse"))

  /** SQ8-coded corpus: (id, n_dims, vmin, scale, codes BINARY, sum_c,
    * sum_c2) — one byte per dimension (4× smaller than float32 on disk,
    * in shuffle, and in scan), plus the two code moments that let the
    * search path reconstruct the dequantized norm WITHOUT touching the
    * codes twice: ‖x̂‖² = d·vmin² + 2·vmin·scale·Σc + scale²·Σc². */
  def encodeSq8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol),
      graft.functions.GraftFunctions.sq8Encode(col(vecCol)).as("_gf_e"))
      .select(col(idCol), col("_gf_e.n_dims").as("n_dims"),
        col("_gf_e.vmin").as("vmin"), col("_gf_e.scale").as("scale"),
        col("_gf_e.codes").as("codes"), col("_gf_e.sum_c").as("sum_c"),
        col("_gf_e.sum_c2").as("sum_c2"))

  /** Exact top-k cosine over the SQ8-CODED corpus — the FAISS
    * `IndexScalarQuantizer` search shape: the scan reads byte codes, not
    * floats, and each (query, row) pair costs d table adds
    * ([[graft.functions.PqAdcSum]] with ks=256 and the per-query LUT
    * lut[d·256+c] = q_d·c, so Σ lut hits = Σ q_d·c_d) plus closed-form
    * affine algebra:
    *   q·x̂ = vmin·Σq + scale·Σ q_d·c_d,  ‖x̂‖² from the stored moments.
    * Queries broadcast with their LUTs (d·256 doubles each — queries are
    * small by contract); the corpus streams once, no shuffle. Zero-norm
    * rows/queries are skipped (cosine undefined). Ties rank by id. */
  def topKSq8(coded: DataFrame, codedId: String,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val qvd = transform(col(queryVec), x => x.cast(DoubleType))
    val q = queries.select(
      col(queryId).as("_gf_qid"),
      flatten(transform(qvd, x =>
        transform(sequence(lit(0), lit(255)), c => x * c.cast(DoubleType))))
        .as("_gf_lut"),
      aggregate(qvd, lit(0.0), (acc, x) => acc + x).as("_gf_sq"),
      aggregate(qvd, lit(0.0), (acc, x) => acc + x * x).as("_gf_nq2"))
    val adc = graft.functions.GraftFunctions.pqAdcSum(
      col("codes"), col("_gf_lut"), 256)
    val dotQ = col("vmin") * col("_gf_sq") + col("scale") * adc
    val nDq2 = col("n_dims").cast(DoubleType) * (col("vmin") * col("vmin")) +
      lit(2.0) * col("vmin") * col("scale") * col("sum_c") +
      col("scale") * col("scale") * col("sum_c2")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_gf_qid").orderBy(col("_gf_cos").desc, col(codedId))
    coded.crossJoin(broadcast(q))
      // null code words (null/empty source vectors) carry no geometry —
      // their NULL cosine would rank engine-dependently, so drop them
      .filter(col("codes").isNotNull)
      .filter(col("_gf_nq2") > 0)
      .withColumn("_gf_ndq2", nDq2)
      .filter(col("_gf_ndq2") > 0)
      .withColumn("_gf_cos", dotQ / (sqrt(col("_gf_nq2")) * sqrt(col("_gf_ndq2"))))
      .withColumn("_gf_rank", row_number().over(w))
      .filter(col("_gf_rank") <= k)
      .select(col("_gf_qid").as("query_id"), col(codedId).as("neighbor_id"),
        col("_gf_rank").as("rank"), graft.Num.dround(col("_gf_cos"), 6).as("cosine"))
  }

  /** Persist the SQ8-coded corpus (the [[Pq.writeIndex]] conventions:
    * data first, format-tagged manifest LAST as the completeness marker,
    * row count pinned for open-time validation). */
  def writeSq8Index(coded: DataFrame, path: String): Unit = {
    val spark = coded.sparkSession
    // ONE encode pass: write first, then read dim/rows back from the
    // written files (re-encoding the corpus just to count it would
    // double the quantization work).
    // refuse BEFORE touching disk: overwriting an existing index with an
    // empty frame would wipe its codes and leave a dangling manifest
    // (the next open would die in the parquet read, not our refusal)
    require(coded.limit(1).collect().nonEmpty,
      "writeSq8Index: refusing to persist an empty coded corpus")
    coded.write.mode("overwrite").parquet(s"$path/codes")
    // dim/rows come from the WRITTEN files — re-encoding the corpus just
    // to count it would double the quantization work. Null code words
    // (null/empty source vectors encode to a null struct) refuse here:
    // they would rank nondeterministically in every later probe.
    val written = spark.read.parquet(s"$path/codes")
    val stats = written.agg(
      count(lit(1)).as("n"), count(col("codes")).as("nc"),
      first(col("n_dims"), ignoreNulls = true).as("d")).collect()(0)
    if (stats.getLong(0) != stats.getLong(1))
      throw new IllegalArgumentException(
        s"writeSq8Index: ${stats.getLong(0) - stats.getLong(1)} null code " +
          "words in the coded corpus (null/empty source vectors) — drop " +
          "them before persisting; a null code word cannot be probed")
    val dim = stats.getLong(2)
    val n = stats.getLong(0)
    graft.Manifest.write(spark, path, "format" -> "graft-sq8-v1", "dim" -> dim,
      "rows" -> n)
  }

  /** Re-open a persisted SQ8 index; refuses a missing/foreign manifest, a
    * row-count mismatch (partial copy — the Bpe.readModel check), and a
    * code word whose byte length disagrees with the manifest dim (the
    * manifest does not belong to this data). */
  def readSq8Index(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val m = graft.Manifest.read(spark, path, "SQ8 index", "graft-sq8-v1")
    val dim = m.long("dim"); val rows = m.long("rows")
    val codes = spark.read.parquet(s"$path/codes")
    val n = codes.count()
    if (n != rows) throw new IllegalArgumentException(
      s"SQ8 index at $path has $n code rows but the manifest pinned $rows — " +
        "partial copy or torn write; restore the matching files")
    // sample a NON-NULL code word (a tampered file could hold nulls the
    // write path refuses — length(NULL) would NPE the getInt here)
    codes.filter(col("codes").isNotNull)
      .select(length(col("codes")).as("_gf_len")).limit(1).collect()
      .foreach { r =>
        if (r.getInt(0) != dim) throw new IllegalArgumentException(
          s"SQ8 index at $path stores ${r.getInt(0)}-byte code words but the " +
            s"manifest says dim=$dim — the manifest does not belong to this data")
      }
    codes
  }

  // ---- HOF composites: retained as the kernels' equivalence oracles ----

  /** The original column-composite audit (QuantizeSpec pins kernel ≡
    * composite on fixtures and the real corpus). */
  private[graft] def int8AuditColumns(df: DataFrame, idCol: String,
                                      vecCol: String): DataFrame = {
    val xd = transform(col(vecCol), x => x.cast(DoubleType))
    val mn = array_min(xd)
    val mx = array_max(xd)
    val scale = when(mx > mn, (mx - mn) / 255.0).otherwise(lit(1.0))
    val codes = transform(xd, x =>
      least(lit(255.0), greatest(lit(0.0), floor((x - mn) / scale + 0.5))))
    val errs = zip_with(xd, codes, (x, q) => x - (mn + q * scale))
    df.select(col(idCol),
      size(col(vecCol)).cast("long").as("n_dims"),
      mn.as("vmin"),
      scale.as("scale"),
      dround(array_max(transform(errs, e => abs(e))), 7).as("max_abs_err"),
      dround(
        // precision 30, not 38: the add (30,12)+(30,12) → (31,12) stays
        // under Spark's 38-digit cap, so every accumulation step is EXACT
        // and the cast back to (30,12) is lossless (values ≪ 10¹⁸); at
        // (38,12) Spark caps the add to (38,11), rounding per step.
        aggregate(errs, lit(0).cast(DecimalType(30, 12)),
          (acc, e) => (acc + dround(e * e, 12).cast(DecimalType(30, 12)))
            .cast(DecimalType(30, 12)))
          .cast(DoubleType) / size(col(vecCol)).cast(DoubleType), 10)
        .as("mse"))
  }

  /** The original column-composite encode (equivalence oracle). */
  private[graft] def encodeSq8Columns(df: DataFrame, idCol: String,
                                      vecCol: String): DataFrame = {
    val xd = transform(col(vecCol), x => x.cast(DoubleType))
    val mn = array_min(xd)
    val mx = array_max(xd)
    val scale = when(mx > mn, (mx - mn) / 255.0).otherwise(lit(1.0))
    val codesInt = transform(xd, x =>
      least(lit(255.0), greatest(lit(0.0), floor((x - mn) / scale + 0.5)))
        .cast("int"))
    val cd = transform(codesInt, c => c.cast(DoubleType))
    df.select(col(idCol),
      size(col(vecCol)).cast("long").as("n_dims"),
      mn.as("vmin"), scale.as("scale"),
      graft.functions.GraftFunctions.packBytes(codesInt).as("codes"),
      aggregate(cd, lit(0.0), (acc, c) => acc + c).as("sum_c"),
      aggregate(cd, lit(0.0), (acc, c) => acc + c * c).as("sum_c2"))
  }
}
