package graft.dedup

import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SimHash near-duplicate detection (SURVEY §2.3 row 47): 64-bit
  * sign-aggregated token-hash fingerprints; near-dups = small Hamming
  * distance. Candidate generation uses the pigeonhole block trick: the 64
  * bits split into `blocks` exact-match segments — any pair within Hamming
  * distance < blocks shares at least one identical block, so an equi-join
  * on (block_id, block_value) finds all such pairs without O(n²). All
  * expressions are native (xxhash64 / shifts / bit_count) — codegen'd.
  */
object SimHash {

  /** 64-bit SimHash of the token stream. For each bit b: sum +1/-1 over
    * token hashes; bit set iff the sum is positive. Variable bit positions
    * are addressed through a literal bitmask array (element_at) because
    * shift functions take only static shift amounts. */
  def simhash(c: Column): Column =
    simhashOfHashes(transform(TextAnalysis.tokens(c), t => xxhash64(t)))

  /** Bit fold over an already-materialized token-hash array column —
    * callers should project the hash array into its own column first so
    * tokenization+hashing runs once, not once per bit. */
  def simhashOfHashes(hashes: Column): Column = {
    val powers = lit((0 until 64).map(1L << _).toArray)
    aggregate(sequence(lit(0), lit(63)), lit(0L), (acc, b) =>
      acc + when(
        aggregate(hashes, lit(0L), (s, h) =>
          s + when(h.bitwiseAND(element_at(powers, b + 1)) =!= 0L, 1L)
            .otherwise(-1L)) > 0,
        element_at(powers, b + 1)).otherwise(0L))
  }

  /** Hamming distance between two simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** 16-bit block values used as LSH keys. */
  def blockValue(sim: Column, blockId: Int, blocks: Int = 4): Column =
    bitBlock(sim, blockId, 64 / blocks)

  private def bitBlock(sim: Column, j: Int, width: Int): Column =
    shiftrightunsigned(sim, j * width).bitwiseAND((1L << width) - 1)

  /** Per-id simhash frame `(id, _gf_sim)` computed RELATIONALLY: tokens
    * explode to rows, and the 64 bit-sums are codegen'd conditional `sum`
    * aggregates (map-side combine). The nested higher-order-function fold
    * is interpreted per element per bit — orders of magnitude slower (see
    * MinHash.signatures for the same lesson). */
  def simhashes(df: DataFrame, textCol: String, idCol: String): DataFrame =
    fingerprints(df, TextAnalysis.tokens(col(textCol)), idCol, 64, xxhash64(_))

  /** [[simhashes]] over an already-tokenized array column. */
  def simhashesOfTokens(df: DataFrame, toksCol: String,
                        idCol: String): DataFrame =
    fingerprints(df, col(toksCol), idCol, 64, xxhash64(_))

  /** The fingerprint core both lanes run: `bits` signed sums of the token
    * hashes' bits, one map-side-combined aggregation; bit b is set iff
    * its sum is POSITIVE (ties → 0). */
  private[dedup] def fingerprints(df: DataFrame, toks: Column, idCol: String,
                                  bits: Int, hash: Column => Column): DataFrame = {
    val hashed = df
      .select(col(idCol).as("_gf_id"), explode(toks).as("_gf_t"))
      .select(col("_gf_id"), hash(col("_gf_t")).as("_gf_hh"))
    val bitSums = (0 until bits).map(b =>
      sum(when(col("_gf_hh").bitwiseAND(1L << b) =!= 0L, 1L).otherwise(-1L))
        .as(s"_gf_b$b"))
    hashed.groupBy("_gf_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("_gf_id"),
        (0 until bits).map(b =>
          when(col(s"_gf_b$b") > 0, lit(1L << b)).otherwise(0L)).reduce(_ + _)
          .as("_gf_sim"))
  }

  /** Candidate pairs within `maxDist` Hamming bits (idA < idB).
    * Complete for maxDist < blocks (pigeonhole), which is enforced.
    * Leaves its fingerprint frame cached ([[pairsOverSims]]). */
  def nearDuplicatePairs(df: DataFrame, textCol: String, idCol: String,
                         maxDist: Int = 3, blocks: Int = 4): DataFrame =
    pairsOverSims(simhashes(df, textCol, idCol), 64, maxDist, blocks)

  /** [[nearDuplicatePairs]] over an already-tokenized array column. */
  def nearDuplicatePairsOfTokens(df: DataFrame, toksCol: String,
                                 idCol: String, maxDist: Int,
                                 blocks: Int): DataFrame =
    pairsOverSims(simhashesOfTokens(df, toksCol, idCol), 64, maxDist, blocks)

  /** The block self-join both lanes run over a `bits`-bit fingerprint
    * frame: (id_a, id_b, hamming <= maxDist), id_a < id_b. Refuses blocks
    * that do not split `bits` evenly and `maxDist >= blocks`, where the
    * pigeonhole rule no longer guarantees a shared block.
    *
    * The family's one cache point: the fingerprint frame feeds BOTH
    * sides of the self-join, and uncached the tokenize → hash → bit-fold
    * subtree executes twice (r14). One (id, long) row per doc — never
    * corpus-sized. The returned plan leaves it cached ([[graft.Cached]]). */
  private[dedup] def pairsOverSims(simFrame: DataFrame, bits: Int,
                                   maxDist: Int, blocks: Int): DataFrame = {
    require(blocks >= 1 && bits % blocks == 0,
      s"blocks=$blocks must divide $bits")
    require(maxDist < blocks,
      s"pigeonhole completeness needs maxDist < blocks, got $maxDist >= $blocks")
    val sims = graft.Cached.hold(simFrame).df
    val buckets = sims.select(col("_gf_id"), col("_gf_sim"),
      posexplode(array((0 until blocks).map(j =>
        bitBlock(col("_gf_sim"), j, bits / blocks)): _*)).as(Seq("_gf_block", "_gf_bv")))
    val a = buckets.select(col("_gf_block"), col("_gf_bv"),
      col("_gf_id").as("id_a"), col("_gf_sim").as("_gf_sim_a"))
    val b = buckets.select(col("_gf_block"), col("_gf_bv"),
      col("_gf_id").as("id_b"), col("_gf_sim").as("_gf_sim_b"))
    // a pair sharing several blocks joins once per block; its distance is
    // a function of the pair, so distinct rows are distinct pairs
    a.join(b, Seq("_gf_block", "_gf_bv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming(col("_gf_sim_a"), col("_gf_sim_b")).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }
}
