package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003 —
  * the MOSS local-fingerprinting algorithm) and the overlap-candidate
  * pairs built on them: the GUARANTEED-detection complement of MinHash.
  * Winnowing selects, from every window of `w` consecutive word-k-gram
  * hashes, the minimum hash (rightmost on ties — "robust winnowing"),
  * which provably fingerprints ANY shared substring of at least
  * k + w − 1 tokens — a local, position-aware guarantee MinHash's
  * whole-document signatures cannot give (a 30-token plagiarized passage
  * in an otherwise-novel document moves a MinHash signature barely;
  * winnowing selects at least one identical fingerprint from it).
  *
  * Cross-engine exactness: the gram hash is the md5-prefix fold (md5 is
  * byte-identical in every engine; the first 8 hex chars parse to a
  * 32-bit value), and the tie rule is encoded ARITHMETICALLY so one
  * window `min` implements "min hash, rightmost position": each gram
  * encodes as code = h·2³¹ + (2³¹−1−pos) — min code ⟺ (min h, then max
  * pos) — over exact BIGINTs (max value 2⁶³−1, no overflow). The oracle
  * replays the identical encode/select/decode.
  *
  * 100 TB posture: everything is per-document until the final distinct —
  * posexplode + one partition-local window sort per doc (bounded by doc
  * length), no corpus-wide shuffle until the (doc, fingerprint) dedup,
  * which is a map-side-combinable aggregate. The pair builder applies the
  * containment/MinHash df-cap lesson: fingerprints shared by more than
  * `maxDf` docs are dropped BEFORE the self-join (a boilerplate
  * fingerprint in m docs would emit m² join-output rows no partition
  * split absorbs — and that common a fingerprint identifies boilerplate,
  * not copying).
  */
object Winnow {

  /** 2³¹ — position slot of the (hash, pos) arithmetic code. */
  val PosBase: Long = 2147483648L
  /** 2³¹ − 1 — largest encodable 0-based gram position. */
  val PosMask: Long = 2147483647L

  /** Selected fingerprints: one row per (idCol, fp_pos, fp_hash), where
    * fp_pos is the 0-based token position of the selected k-gram. Docs
    * shorter than k tokens emit nothing; docs with fewer than w grams
    * emit the min over what they have (the single partial window). */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 5, w: Int = 4): DataFrame =
    fingerprintsOfGramCol(df, TextAnalysis.ngrams(col(textCol), k), idCol, k, w)

  /** [[fingerprints]] over an already-tokenized array column. */
  def fingerprintsOfTokens(df: DataFrame, idCol: String, toksCol: String,
                           k: Int, w: Int): DataFrame =
    fingerprintsOfGramCol(df, TextAnalysis.ngramsOfTokens(col(toksCol), k),
      idCol, k, w)

  private def fingerprintsOfGramCol(df: DataFrame,
                                    gramCol: org.apache.spark.sql.Column,
                                    idCol: String,
                                    k: Int, w: Int): DataFrame = {
    require(k >= 2 && k <= 12, s"gram size k must be in [2, 12], got $k")
    require(w >= 2 && w <= 64, s"window w must be in [2, 64], got $w")
    val grams = df
      .select(col(idCol), posexplode(gramCol).as(Seq("pos", "gram")))
      .where(length(col("gram")) > 0)
      .select(col(idCol), col("pos").cast("long").as("pos"),
        (graft.ops.Hll.h32(col("gram")) * PosBase + (lit(PosMask) - col("pos")))
          .as("code"))
    val sel = Window.partitionBy(idCol).orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    val n = Window.partitionBy(idCol)
    grams
      .select(col(idCol), col("pos"),
        min("code").over(sel).as("wmin"),
        count(lit(1)).over(n).as("n_grams"))
      // window starts: pos 0..n−w (full windows); a doc with n < w grams
      // keeps its pos-0 partial window so it still fingerprints.
      .where(col("pos") <= col("n_grams") - w || col("pos") === 0)
      .select(col(idCol),
        expr(s"wmin div $PosBase").as("fp_hash"),
        (lit(PosMask) - pmod(col("wmin"), lit(PosBase))).as("fp_pos"))
      .distinct()
  }

  /** Overlap-candidate pairs: unordered doc pairs sharing at least
    * `minShared` distinct fingerprint hashes, after dropping fingerprints
    * present in more than `maxDf` docs (the join-output-explosion cap —
    * part of the semantics, mirrored by the oracle). */
  def overlapPairs(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 5, w: Int = 4,
                   minShared: Int = 2, maxDf: Int = 16): DataFrame =
    overlapPairsOfFps(fingerprints(df, idCol, textCol, k, w), idCol,
      minShared, maxDf)

  /** [[overlapPairs]] over an already-tokenized array column. */
  def overlapPairsOfTokens(df: DataFrame, idCol: String, toksCol: String,
                           k: Int, w: Int,
                           minShared: Int, maxDf: Int): DataFrame =
    overlapPairsOfFps(fingerprintsOfTokens(df, idCol, toksCol, k, w), idCol,
      minShared, maxDf)

  private def overlapPairsOfFps(fpFrame: DataFrame, idCol: String,
                                minShared: Int, maxDf: Int): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    val fps = fpFrame.select(col(idCol), col("fp_hash")).distinct()
    val kept = fps.groupBy("fp_hash").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf)
      .select("fp_hash")
    val pruned = fps.join(kept, "fp_hash")
    val a = pruned.select(col("fp_hash"), col(idCol).as("id_a"))
    val b = pruned.select(col("fp_hash"), col(idCol).as("id_b"))
    a.join(b, "fp_hash")
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** DuckDB fragment: the (hash, pos) arithmetic code of a gram. `h` must
    * be the md5-prefix BIGINT ([[graft.ops.Hll.sqlH32]]), `pos` the
    * 0-based gram position. */
  def sqlCode(h: String, pos: String): String =
    s"$h * $PosBase + ($PosMask - $pos)"
}
