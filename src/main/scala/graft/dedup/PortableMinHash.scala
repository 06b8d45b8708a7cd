package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-engine-verifiable MinHash — the portable lane of SURVEY §2 rows
  * 46/47 (the `sketch_hll`/`sketch_cms` treatment applied to near-dedup):
  * [[MinHash]]'s production path rides xxhash64, which no external engine
  * can replay, so its keep/drop decision could only be GRADED
  * (dedup_recall) — never recomputed. This lane swaps the hash kernel for
  * arithmetic every SQL engine executes bit-identically, so an external
  * oracle recomputes the signature table, the band join, every estimated
  * Jaccard, and the kept set verbatim:
  *
  *   - shingle hash h = first 8 md5 hex chars as a 32-bit integer (the
  *     [[graft.ops.Hll.h32]] fold — md5 is byte-identical everywhere);
  *   - lane i = min over shingles of (aᵢ·(h mod P) + bᵢ) mod P with
  *     P = 2³¹−1 (Mersenne prime): the classic universal-hash permutation
  *     family (Broder 1997; Carter & Wegman 1979). Keeping operands under
  *     2³¹ bounds every product below 2⁶² — exact BIGINT arithmetic in
  *     both engines, no overflow even under ANSI;
  *   - band key = the comma-joined decimal rendering of the band's r lane
  *     values (the raw values ARE the key — no second hash to mirror);
  *   - est Jaccard = matching lanes / k with k a power of two, so the
  *     single divide is exact binary and needs no rounding contract.
  *
  * Scale shape is [[MinHash]]'s: signatures are one map-side-combined
  * aggregation (the exchange carries one combined row per doc, not the
  * exploded shingles), the band join ships (band, key, id) tuples only,
  * and the kept set is an anti-join — no window, no collect. The
  * production lane stays xxhash64 (faster, 64-bit); THIS lane exists so
  * the decision procedure itself is oracle-pinned, and its per-row cost
  * (one md5 per shingle) prices it for audit runs, not the 100 TB hot
  * path. Reference behavior: analyst_toolkit src/analyst_toolkit/
  * m03_duplicates/dups_detection.py flags duplicates single-node;
  * this is its distributed, externally-replayable near-dup form.
  */
object PortableMinHash {

  /** Mersenne prime 2³¹−1 — the lane-hash modulus. */
  val P: Long = 2147483647L

  private val MulA = 2654435761L // Knuth's 2³²/φ multiplier
  private val MulB = 2284105051L

  /** Lane-i multiplier/offset, both in (0, P): fixed literals derived by
    * integer arithmetic so the SQL mirror regenerates them exactly. */
  def laneA(i: Int): Long = ((i + 1).toLong * MulA) % P
  def laneB(i: Int): Long = ((i + 1).toLong * MulB) % P

  /** The portable kernel: shingle hash `h32(s) % P`, lane
    * `(aᵢ·h + bᵢ) % P`, band key the decimal comma-join of the band's
    * lanes. */
  private val Md5 = MinHash.Kernel(
    s => graft.ops.Hll.h32(s) % P,
    (h, i) => (h * laneA(i) + laneB(i)) % P,
    (sig, j, r) => concat_ws(",", slice(sig, j * r + 1, r).cast("array<string>")))

  /** Per-doc signature frame `(_gf_id, _gf_sig array<bigint>)` — the
    * [[MinHash.signatures]] frame under this lane's kernel. */
  def signatures(df: DataFrame, textCol: String, idCol: String,
                 n: Int, k: Int): DataFrame =
    MinHash.Lsh(Md5, k).signatures(df, MinHash.shingles(col(textCol), n), idCol)

  /** [[signatures]] over an already-tokenized array column. */
  def signaturesOfTokens(df: DataFrame, toksCol: String, idCol: String,
                         n: Int, k: Int): DataFrame =
    MinHash.Lsh(Md5, k).signatures(df,
      MinHash.shinglesOfTokens(col(toksCol), n), idCol)

  /** Signature table melted to `(id, lane, sig)` — the dump the oracle
    * recomputes row for row (nested outputs are refused by the gate). */
  def signatureTable(df: DataFrame, textCol: String, idCol: String,
                     n: Int, k: Int): DataFrame =
    signatures(df, textCol, idCol, n, k)
      .select(col("_gf_id").as(idCol),
        posexplode(col("_gf_sig")).as(Seq("lane", "sig")))

  /** Candidate pairs surviving the band join and the estimator:
    * (id_a, id_b, est_jaccard), id_a < id_b, est >= threshold.
    * Leaves its signature frame cached ([[MinHash.held]]). */
  def pairs(df: DataFrame, textCol: String, idCol: String,
            n: Int = 5, k: Int = 32, bands: Int = 16,
            threshold: Double = 0.5): DataFrame =
    MinHash.Lsh(Md5, k, bands).pairs(
      MinHash.held(signatures(df, textCol, idCol, n, k)), threshold)

  /** [[pairs]] over an already-tokenized array column. */
  def pairsOfTokens(df: DataFrame, toksCol: String, idCol: String,
                    n: Int, k: Int, bands: Int,
                    threshold: Double): DataFrame =
    MinHash.Lsh(Md5, k, bands).pairs(
      MinHash.held(signaturesOfTokens(df, toksCol, idCol, n, k)), threshold)

  /** Exact n-gram Jaccard over portable-band candidates — row 48's
    * verifiable lane ([[NgramJaccard.pairs]] with this lane's candidate
    * generator): candidates from [[pairs]] at `threshold − 0.2` (the
    * production pre-filter margin), then the exact |A∩B| / |A∪B| over
    * DISTINCT shingle strings, 4-dp dround'd. Every stage — candidate
    * bands, gram sets, intersection counts, the ratio — is replayed by
    * the SQL mirror. */
  def jaccardPairs(df: DataFrame, textCol: String, idCol: String,
                   n: Int = 5, k: Int = 32, bands: Int = 16,
                   threshold: Double = 0.5): DataFrame =
    NgramJaccard.pairsOverCandidates(df,
      pairs(df, textCol, idCol, n, k, bands, math.max(0.0, threshold - 0.2))
        .select("id_a", "id_b"),
      textCol, idCol, n, threshold)

  /** Greedy keep set ([[MinHash.dedup]]'s policy): drop any doc whose
    * estimate against a smaller-id doc clears the threshold. */
  def kept(df: DataFrame, textCol: String, idCol: String,
           n: Int = 5, k: Int = 32, bands: Int = 16,
           threshold: Double = 0.5): DataFrame = {
    val losers = pairs(df, textCol, idCol, n, k, bands, threshold)
      .select(col("id_b").as("_gf_loser")).distinct()
    df.join(losers, df(idCol) === col("_gf_loser"), "left_anti")
      .select(idCol)
  }

  // ---- DuckDB mirrors ----------------------------------------------------

  /** Word n-gram shingles of token array `l`, with [[MinHash.shingles]]'
    * short-doc fallback (fewer than n tokens → one whole-doc shingle). */
  def sqlShingles(l: String, n: Int): String = {
    val joined = (0 until n).map(i => s"$l[i + $i]").mkString(" || ' ' || ")
    s"""CASE WHEN len($l) < $n THEN [array_to_string($l, ' ')]
        ELSE list_transform(generate_series(1, len($l) - ${n - 1}), i -> $joined)
        END"""
  }

  /** CTE chain ending in `{pfx}sig(doc_id, p0 … p{k-1})` over relation
    * `corpusRel(doc_id, text)`. `pfx` prefixes every CTE name so the
    * chain can compose into WITH blocks that already use `sig`/`tk`
    * (the Gopher audit fragment owns `sig` in the composed curation
    * oracle). */
  def sqlSigCte(corpusRel: String, n: Int, k: Int,
                pfx: String = ""): String = {
    val lanes = (0 until k)
      .map(i => s"min((${laneA(i)} * hp + ${laneB(i)}) % $P) AS p$i")
      .mkString(",\n                 ")
    s"""${pfx}tk AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS l
               FROM $corpusRel WHERE text IS NOT NULL),
        ${pfx}sh AS (SELECT doc_id, unnest(${sqlShingles("l", n)}) AS s FROM ${pfx}tk),
        ${pfx}hp AS (SELECT doc_id, ${graft.ops.Hll.sqlH32("s")} % $P AS hp FROM ${pfx}sh),
        ${pfx}sig AS (SELECT doc_id,
                 $lanes
                FROM ${pfx}hp GROUP BY doc_id)"""
  }

  /** Melt `sig` to `(doc_id, lane, sig)` — the [[signatureTable]] mirror. */
  def sqlMelt(k: Int): String =
    (0 until k)
      .map(i => s"SELECT doc_id, $i AS lane, p$i AS sig FROM sig")
      .mkString("\n          UNION ALL ")

  /** CTE chain `{pfx}sig` → `{pfx}pr(id_a, id_b, est_jaccard)` (threshold
    * applied). `pfx` as in [[sqlSigCte]]. */
  def sqlPairsCte(k: Int, bands: Int, threshold: Double,
                  pfx: String = ""): String = {
    val r = k / bands
    val bk = (0 until bands).map { j =>
      val key = (j * r until (j + 1) * r)
        .map(i => s"CAST(p$i AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, $j AS band, $key AS key FROM ${pfx}sig"
    }.mkString("\n          UNION ALL ")
    val matches = (0 until k)
      .map(i => s"CASE WHEN sa.p$i = sb.p$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""${pfx}bk AS (
          $bk),
        ${pfx}cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM ${pfx}bk a JOIN ${pfx}bk b ON a.band = b.band AND a.key = b.key
          WHERE a.doc_id < b.doc_id),
        ${pfx}est AS (
          SELECT id_a, id_b,
                 CAST($matches AS DOUBLE) / $k AS est_jaccard
          FROM ${pfx}cand
          JOIN ${pfx}sig sa ON sa.doc_id = ${pfx}cand.id_a
          JOIN ${pfx}sig sb ON sb.doc_id = ${pfx}cand.id_b),
        ${pfx}pr AS (SELECT * FROM ${pfx}est WHERE est_jaccard >= $threshold)"""
  }

  /** Final SELECT mirroring [[jaccardPairs]] — expects the [[sqlSigCte]]
    * chain (for `tk`) and a [[sqlPairsCte]] chain (for `pr`, built at
    * `threshold − 0.2`) to precede it. */
  def sqlJaccardSelect(n: Int, threshold: Double): String = s"""
        g AS (SELECT DISTINCT doc_id, gram FROM (
                SELECT doc_id, unnest(${sqlShingles("l", n)}) AS gram FROM tk)),
        sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nsh FROM g GROUP BY 1),
        pint AS (SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_int
                 FROM pr
                 JOIN g ga ON ga.doc_id = pr.id_a
                 JOIN g gb ON gb.doc_id = pr.id_b AND ga.gram = gb.gram
                 GROUP BY 1, 2)
        SELECT id_a, id_b, jaccard FROM (
          SELECT id_a, id_b,
                 floor((CAST(n_int AS DOUBLE) /
                        CAST(sa.nsh + sb.nsh - n_int AS DOUBLE)) * 1e4 + 0.5)
                   / 1e4 AS jaccard
          FROM pint
          JOIN sz sa ON sa.doc_id = pint.id_a
          JOIN sz sb ON sb.doc_id = pint.id_b) t
        WHERE jaccard >= $threshold"""
}
