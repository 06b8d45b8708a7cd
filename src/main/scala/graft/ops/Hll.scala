package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Portable HyperLogLog (Flajolet, Fusy, Gandouet & Meunier 2007) —
  * approximate distinct counting whose REGISTER TABLE is cross-engine
  * exact, the CountMin treatment applied to cardinality: Spark's own
  * `approx_count_distinct` is a fine estimator but its xxhash64-based
  * sketch is unverifiable outside Spark (SURVEY §2 row 44's rows-only
  * reason). This sketch hashes with the md5-prefix fold (byte-identical
  * in every engine) and keeps every downstream step in integer
  * arithmetic, so an external SQL engine recomputes registers AND
  * estimate verbatim — collisions, corrections and all.
  *
  *   - 32-bit hash h = first 8 md5 hex chars; bucket = top p bits
  *     (integer div), w = low 32−p bits (mod);
  *   - ρ(w) = leading-zero count + 1 inside the (32−p)-bit word =
  *     (32−p) − bitlen(w) + 1, with bitlen computed by an integer
  *     CASE ladder (no log2 float anywhere); w = 0 → ρ = 32−p+1;
  *   - register[j] = max ρ over the bucket's keys — one map-side-combined
  *     groupBy, ≤ m = 2^p combined rows per partition through the
  *     exchange, sketches merge by register-wise max (the streaming /
  *     per-shard combination law);
  *   - the harmonic sum Σ 2^−reg is computed in INTEGER units of
  *     2^−(32−p+1): term = 2^(ρmax−reg) is a BIGINT, empty registers
  *     contribute 2^ρmax, and only the FINAL estimate performs float ops
  *     (α_m·m²·2^ρmax / S_int — literals both engines parse identically,
  *     one divide, dround);
  *   - small-range correction (linear counting E = m·ln(m/V) when
  *     E ≤ 2.5m and V > 0) mirrored exactly; the 32-bit large-range
  *     correction is out of scope for corpus-shard cardinalities and
  *     deliberately omitted (documented, refused at nothing — it only
  *     matters past ~100M distinct per group where a 64-bit-hash sketch
  *     should be used instead).
  *
  * 100 TB posture: state is m registers per group regardless of corpus
  * size; the explode-free single aggregation reads the corpus once, and
  * per-shard register tables combine by max — the property that makes
  * HLL the standard distributed-cardinality primitive.
  */
object Hll {

  private val HashBits = 32

  /** Portable 32-bit key hash (strings or any castable type). */
  def h32(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long")

  /** Integer bit-length ladder for a value in [0, 2^maxBits): bitlen(0)=0,
    * bitlen(w)=floor(log2 w)+1 — built as exact BIGINT compares. */
  def bitlen(w: Column, maxBits: Int): Column =
    // ascending fold so the OUTERMOST when tests the largest power
    (0 until maxBits).foldLeft(lit(0)) { case (elseBranch, k) =>
      when(w >= (1L << k), lit(k + 1)).otherwise(elseBranch)
    }

  /** Register table: one row per (groupCols, bucket) with the max ρ.
    * Only populated buckets appear (an absent bucket IS register 0). */
  def registers(df: DataFrame, keyCol: String, groupCols: Seq[String],
                p: Int = 8): DataFrame = {
    require(p >= 7 && p <= 12, s"precision p must be in [7, 12], got $p")
    val wBits = HashBits - p
    val gs = groupCols.map(col)
    val pre = df.where(col(keyCol).isNotNull)
      .select(gs :+ h32(col(keyCol)).as("_h"): _*)
    val w = pmod(col("_h"), lit(1L << wBits))
    val rho = when(w === 0, lit(wBits + 1))
      .otherwise(lit(wBits) - bitlen(w, wBits) + 1)
    pre
      .select(gs :+ expr(s"_h div ${1L << wBits}").as("bucket")
        :+ rho.as("rho"): _*)
      .groupBy(gs :+ col("bucket"): _*)
      .agg(max("rho").as("max_rho"))
  }

  /** α_m for m = 2^p registers (Flajolet et al. §4, m ≥ 128). */
  def alphaM(p: Int): Double = 0.7213 / (1.0 + 1.079 / (1L << p))

  /** Per-group distinct estimate: (groupCols, n_nonzero, v_zero,
    * est_distinct). The raw estimate and the linear-counting correction
    * are both replayed exactly by the SQL mirror. */
  def estimate(df: DataFrame, keyCol: String, groupCols: Seq[String],
               p: Int = 8): DataFrame =
    estimateFromRegisters(registers(df, keyCol, groupCols, p), groupCols, p)

  /** The estimator stage alone, over any (groupCols, bucket, max_rho)
    * register frame — reused by [[overlap]], whose pair-union registers
    * are derived relationally rather than from raw keys. */
  def estimateFromRegisters(regs: DataFrame, groupCols: Seq[String],
                            p: Int): DataFrame = {
    require(p >= 7 && p <= 12, s"precision p must be in [7, 12], got $p")
    val m = 1L << p
    val rhoMax = HashBits - p + 1
    val gs = groupCols.map(col)
    val agg = regs.groupBy(gs: _*)
      .agg(count(lit(1)).as("n_nonzero"),
        // Σ 2^(ρmax − reg) in exact BIGINTs — the harmonic sum in
        // integer units of 2^−ρmax.
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $rhoMax - max_rho)"))
          .as("s_pop"))
    val sInt = col("s_pop") + (lit(m) - col("n_nonzero")) * lit(1L << rhoMax)
    val eRaw = lit(alphaM(p) * m * m * (1L << rhoMax).toDouble) / sInt.cast("double")
    val vZero = lit(m) - col("n_nonzero")
    val est = when(eRaw <= lit(2.5 * m) && vZero > 0,
      lit(m.toDouble) * log(lit(m.toDouble) / vZero.cast("double")))
      .otherwise(eRaw)
    agg.select(gs :+ col("n_nonzero") :+ vZero.as("v_zero") :+
      graft.Num.dround(est, 4).as("est_distinct"): _*)
  }

  /** 64-bit-hash register lane — removes the 32-bit lane's documented
    * >100M-distinct/group ceiling (the omitted large-range correction
    * only matters past ~2³²/30 ≈ 143M distinct; with a 64-bit hash the
    * analogous threshold sits past 10¹⁷, structurally out of reach).
    * Same register-verbatim portability: hash = first 16 md5 hex chars,
    * carried as two 32-bit BIGINT halves so every step stays in exact
    * BIGINT range (a single 64-bit word can exceed signed-long range):
    *   - bucket = top p bits — from the HIGH half alone (hi div 2^(32−p));
    *   - w = low 64−p bits = (hi mod 2^(32−p))·2³² + lo, < 2^56 for p ≥ 8;
    *   - ρ = (64−p) − bitlen(w) + 1 on the same integer CASE ladder.
    * Merge law and scale posture identical to [[registers]]. */
  def registers64(df: DataFrame, keyCol: String, groupCols: Seq[String],
                  p: Int = 8): DataFrame = {
    require(p >= 8 && p <= 12, s"precision p must be in [8, 12], got $p")
    val wBits = 64 - p
    val hiBits = 32 - p
    val gs = groupCols.map(col)
    val hexed = md5(col(keyCol).cast("string"))
    val pre = df.where(col(keyCol).isNotNull)
      .select(gs
        :+ conv(substring(hexed, 1, 8), 16, 10).cast("long").as("_hi")
        :+ conv(substring(hexed, 9, 8), 16, 10).cast("long").as("_lo"): _*)
    val w = pmod(col("_hi"), lit(1L << hiBits)) * lit(1L << 32) + col("_lo")
    val rho = when(w === 0, lit(wBits + 1))
      .otherwise(lit(wBits) - bitlen(w, wBits) + 1)
    pre
      .select(gs :+ expr(s"_hi div ${1L << hiBits}").as("bucket")
        :+ rho.as("rho"): _*)
      .groupBy(gs :+ col("bucket"): _*)
      .agg(max("rho").as("max_rho"))
  }

  /** Estimator over 64-bit registers. The harmonic sum's integer units
    * are 2^−(64−p+1): single terms fit BIGINT (≤ 2^56) but the m-register
    * sum can reach 2^65, so it accumulates as exact DECIMAL(38,0) (both
    * engines sum it exactly; only the one final divide is float). No
    * large-range branch — that is the point of the lane. */
  def estimate64(df: DataFrame, keyCol: String, groupCols: Seq[String],
                 p: Int = 8): DataFrame =
    estimateFromRegisters64(registers64(df, keyCol, groupCols, p), groupCols, p)

  /** The 64-bit estimator stage alone (the [[estimateFromRegisters]]
    * twin over a (groupCols, bucket, max_rho) frame from [[registers64]]). */
  def estimateFromRegisters64(regs: DataFrame, groupCols: Seq[String],
                              p: Int): DataFrame = {
    require(p >= 8 && p <= 12, s"precision p must be in [8, 12], got $p")
    val m = 1L << p
    val rhoMax = 64 - p + 1
    val gs = groupCols.map(col)
    val agg = regs.groupBy(gs: _*)
      .agg(count(lit(1)).as("n_nonzero"),
        sum(expr(s"CAST(shiftleft(CAST(1 AS BIGINT), $rhoMax - max_rho)" +
          " AS DECIMAL(38,0))")).as("s_pop"))
    val sInt = col("s_pop") +
      (lit(m) - col("n_nonzero")).cast("decimal(38,0)") * lit(1L << rhoMax)
    val eRaw = lit(alphaM(p) * m * m * math.pow(2.0, rhoMax)) /
      sInt.cast("double")
    val vZero = lit(m) - col("n_nonzero")
    val est = when(eRaw <= lit(2.5 * m) && vZero > 0,
      lit(m.toDouble) * log(lit(m.toDouble) / vZero.cast("double")))
      .otherwise(eRaw)
    agg.select(gs :+ col("n_nonzero") :+ vZero.as("v_zero") :+
      graft.Num.dround(est, 4).as("est_distinct"): _*)
  }

  /** Pairwise set-overlap estimates between the values of `pairCol` —
    * inclusion–exclusion over merged sketches: |A ∩ B| ≈ Ê(A) + Ê(B) −
    * Ê(A ∪ B), where the union sketch is the register-wise MAX of the two
    * group sketches (exact for HLL — no rescan of the data). The
    * cross-shard / cross-source contamination estimator at 100 TB: no
    * join of the corpora, just m-register arithmetic per pair. Ordered
    * pairs (a < b); `est_jaccard` clamps the (noisy, possibly negative)
    * intersection at 0 before the ratio. The register frame feeds every
    * estimate and both union sides; the returned plan leaves it cached
    * ([[graft.Cached]]). */
  def overlap(df: DataFrame, keyCol: String, pairCol: String,
              p: Int = 8): DataFrame = {
    val regs = graft.Cached.hold(registers(df, keyCol, Seq(pairCol), p)).df
    val ests = estimateFromRegisters(regs, Seq(pairCol), p)
      .select(col(pairCol), col("est_distinct"))
    val pairs = ests.select(col(pairCol).as("id_a"))
      .join(ests.select(col(pairCol).as("id_b")), col("id_a") < col("id_b"))
    val ua = pairs.join(regs.withColumnRenamed(pairCol, "id_a"), "id_a")
      .select(col("id_a"), col("id_b"), col("bucket"), col("max_rho"))
    val ub = pairs.join(regs.withColumnRenamed(pairCol, "id_b"), "id_b")
      .select(col("id_a"), col("id_b"), col("bucket"), col("max_rho"))
    val unionRegs = ua.unionByName(ub)
      .groupBy("id_a", "id_b", "bucket").agg(max("max_rho").as("max_rho"))
    val estU = estimateFromRegisters(unionRegs, Seq("id_a", "id_b"), p)
      .select(col("id_a"), col("id_b"), col("est_distinct").as("est_union"))
    val out = estU
      .join(ests.select(col(pairCol).as("id_a"), col("est_distinct").as("est_a")), "id_a")
      .join(ests.select(col(pairCol).as("id_b"), col("est_distinct").as("est_b")), "id_b")
    val inter = graft.Num.dround(col("est_a") + col("est_b") - col("est_union"), 4)
    out.select(col("id_a"), col("id_b"), col("est_a"), col("est_b"),
      col("est_union"), inter.as("est_intersect"),
      graft.Num.dround(
        greatest(inter, lit(0.0)) / col("est_union"), 6).as("est_jaccard"))
  }

  /** DuckDB mirror of [[estimateFromRegisters]] over register relation
    * `regsRel` keyed by `keyCols` — single owner for every HLL-estimate
    * oracle. Emits (keyCols, n_nonzero, v_zero, est_distinct). */
  def sqlEstimateFromRegs(regsRel: String, keyCols: Seq[String], p: Int): String = {
    val m = 1L << p
    val rhoMax = HashBits - p + 1
    val numer = alphaM(p) * m * m * (1L << rhoMax).toDouble
    val keys = keyCols.mkString(", ")
    s"""SELECT $keys, n_nonzero, v_zero,
           floor((CASE WHEN e_raw <= ${2.5 * m} AND v_zero > 0
                  THEN ${m.toDouble} * ln(${m.toDouble} / CAST(v_zero AS DOUBLE))
                  ELSE e_raw END) * 1e4 + 0.5) / 1e4 AS est_distinct
       FROM (SELECT $keys, n_nonzero, ($m - n_nonzero) AS v_zero,
               $numer / CAST(s_pop + ($m - n_nonzero) * ${1L << rhoMax} AS DOUBLE)
                 AS e_raw
             FROM (SELECT $keys, count(*) AS n_nonzero,
                     sum(CAST(1 AS BIGINT) << ($rhoMax - max_rho)) AS s_pop
                   FROM $regsRel GROUP BY $keys) hll_sums) hll_raw"""
  }

  /** DuckDB fragment: the 32-bit portable hash of `key`. */
  def sqlH32(key: String): String =
    s"CAST(CAST(concat('0x', substring(md5(CAST($key AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT)"

  /** DuckDB fragment: the HIGH/LOW 32-bit halves of the 64-bit hash. */
  def sqlH64Hi(key: String): String = sqlH32(key)
  def sqlH64Lo(key: String): String =
    s"CAST(CAST(concat('0x', substring(md5(CAST($key AS VARCHAR)), 9, 8)) AS UBIGINT) AS BIGINT)"

  /** DuckDB mirror of [[estimateFromRegisters64]] — HUGEINT harmonic sum
    * (DuckDB's exact twin of the Spark side's DECIMAL(38,0) lane), same
    * one final float divide and linear-counting branch. */
  def sqlEstimateFromRegs64(regsRel: String, keyCols: Seq[String], p: Int): String = {
    val m = 1L << p
    val rhoMax = 64 - p + 1
    val numer = alphaM(p) * m * m * math.pow(2.0, rhoMax)
    val keys = keyCols.mkString(", ")
    s"""SELECT $keys, n_nonzero, v_zero,
           floor((CASE WHEN e_raw <= ${2.5 * m} AND v_zero > 0
                  THEN ${m.toDouble} * ln(${m.toDouble} / CAST(v_zero AS DOUBLE))
                  ELSE e_raw END) * 1e4 + 0.5) / 1e4 AS est_distinct
       FROM (SELECT $keys, n_nonzero, ($m - n_nonzero) AS v_zero,
               $numer / CAST(s_pop + CAST(($m - n_nonzero) AS HUGEINT)
                 * (CAST(1 AS BIGINT) << $rhoMax) AS DOUBLE)
                 AS e_raw
             FROM (SELECT $keys, count(*) AS n_nonzero,
                     sum(CAST(CAST(1 AS BIGINT) << ($rhoMax - max_rho) AS HUGEINT))
                       AS s_pop
                   FROM $regsRel GROUP BY $keys) hll_sums) hll_raw"""
  }

  /** DuckDB fragment mirroring [[bitlen]]. */
  def sqlBitlen(w: String, maxBits: Int): String = {
    val whens = (maxBits - 1 to 0 by -1)
      .map(k => s"WHEN $w >= ${1L << k} THEN ${k + 1}").mkString(" ")
    s"(CASE $whens ELSE 0 END)"
  }

  /** DuckDB fragment: ρ from the low-bits word. */
  def sqlRho(w: String, wBits: Int): String =
    s"(CASE WHEN $w = 0 THEN ${wBits + 1} " +
      s"ELSE $wBits - ${sqlBitlen(w, wBits)} + 1 END)"
}
