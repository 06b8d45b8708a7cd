package graft.dedup

import graft.text.TextAnalysis
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-engine-verifiable SimHash — row 47's portable lane (the
  * [[PortableMinHash]] treatment applied to the Hamming family): the
  * production 64-bit lane rides xxhash64, so its fingerprints can only be
  * GRADED externally; this 32-bit twin hashes tokens with the md5-prefix
  * fold, so an external SQL engine recomputes every fingerprint bit, the
  * pigeonhole block join, and every Hamming distance verbatim:
  *
  *   - token hash h = [[graft.ops.Hll.h32]] (md5 prefix, byte-identical
  *     everywhere);
  *   - bit b of the fingerprint is set iff Σ over tokens of
  *     (+1 if bit b of h else −1) is POSITIVE (ties → 0) — 32 conditional
  *     integer sums, one map-side-combined aggregation (the
  *     [[SimHash.simhashes]] shape);
  *   - candidates via the same pigeonhole rule: `blocks` equal bit
  *     segments, any pair within Hamming < blocks shares ≥ 1 exact
  *     block; Hamming itself is `bit_count(xor(a, b))` — exact integer
  *     ops both engines own.
  *
  * Charikar 2002 (SimHash); Manku, Jain & Das Sarma 2007 (the block
  * permutation trick). Production stays on the 64-bit xxhash64 lane
  * ([[SimHash]]); this lane pins the decision procedure. Reference
  * behavior: analyst_toolkit src/analyst_toolkit/m03_duplicates. */
object PortableSimHash {

  private val Bits = 32

  /** Per-id 32-bit fingerprint frame `(_gf_id, _gf_sim)` — the
    * [[SimHash.simhashes]] frame over the md5-prefix token hash. */
  def simhashes(df: DataFrame, textCol: String, idCol: String): DataFrame =
    SimHash.fingerprints(df, TextAnalysis.tokens(col(textCol)), idCol, Bits,
      graft.ops.Hll.h32)

  /** Fingerprint table `(id, sig)` — the dump the oracle recomputes. */
  def signatureTable(df: DataFrame, textCol: String, idCol: String): DataFrame =
    simhashes(df, textCol, idCol)
      .select(col("_gf_id").as(idCol), col("_gf_sim").as("sig"))

  /** Pairs within `maxDist` Hamming bits (id_a < id_b, complete for
    * maxDist < blocks): (id_a, id_b, hamming). Leaves its fingerprint
    * frame cached ([[SimHash.pairsOverSims]]). */
  def pairs(df: DataFrame, textCol: String, idCol: String,
            maxDist: Int = 7, blocks: Int = 8): DataFrame =
    SimHash.pairsOverSims(simhashes(df, textCol, idCol), Bits, maxDist, blocks)

  // ---- DuckDB mirrors ----------------------------------------------------

  /** CTE chain ending in `sim(doc_id, sig)` over `corpusRel(doc_id,
    * text)` — tokenize, md5-hash, 32 signed bit sums, threshold. */
  def sqlSimCte(corpusRel: String): String = {
    val bitSums = (0 until Bits)
      .map(b => s"sum(CASE WHEN (h // ${1L << b}) % 2 = 1 THEN 1 ELSE -1 END) AS b$b")
      .mkString(",\n                 ")
    val sig = (0 until Bits)
      .map(b => s"CASE WHEN b$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END")
      .mkString(" + ")
    s"""ptk AS (SELECT doc_id,
              unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
            FROM $corpusRel WHERE text IS NOT NULL),
        ph AS (SELECT doc_id, ${graft.ops.Hll.sqlH32("t")} AS h FROM ptk),
        psums AS (SELECT doc_id,
                 $bitSums
                FROM ph GROUP BY doc_id),
        sim AS (SELECT doc_id, $sig AS sig FROM psums)"""
  }

  /** CTE chain `sim` → the pair set (id_a, id_b, hamming <= maxDist). */
  def sqlPairsSelect(maxDist: Int, blocks: Int): String = {
    val width = Bits / blocks
    val bk = (0 until blocks).map { j =>
      s"SELECT doc_id, $j AS block, (sig // ${1L << (j * width)}) % ${1L << width} AS bv FROM sim"
    }.mkString("\n          UNION ALL ")
    s"""pbk AS (
          $bk),
        pcand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM pbk a JOIN pbk b ON a.block = b.block AND a.bv = b.bv
          WHERE a.doc_id < b.doc_id)
        SELECT id_a, id_b, bit_count(xor(sa.sig, sb.sig)) AS hamming
        FROM pcand
        JOIN sim sa ON sa.doc_id = pcand.id_a
        JOIN sim sb ON sb.doc_id = pcand.id_b
        WHERE bit_count(xor(sa.sig, sb.sig)) <= $maxDist"""
  }
}
