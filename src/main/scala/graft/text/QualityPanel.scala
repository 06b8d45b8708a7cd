package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unified per-document quality audit — the "why was this document
  * dropped" view a curation operator actually debugs with. One frame,
  * one row per corpus document, with the verdict of each of the three
  * modern quality gates side by side:
  *
  *   - `gopher_keep` — [[GopherRules]]' seven structural rules
  *     (Rae et al. 2021 §A1.1), evaluated as a per-row projection;
  *   - `avg_logprob` / `lm_keep` — the CCNet-style bigram-LM score
  *     ([[LangModel]], Wenzek et al. 2020) against a trusted reference
  *     corpus, with the gate's threshold applied;
  *   - `overlap_frac` / `decon_keep` — the graded benchmark-contamination
  *     fraction ([[CorpusOps.overlapFraction]], Brown et al. 2020
  *     appendix C), thresholded.
  *
  * `keep` is the conjunction. A document with NO LM evidence (blank or
  * single-token: `avg_logprob` null) fails `lm_keep` — absence of
  * quality evidence is not a pass, matching the curation chain's gate.
  *
  * Scale shape: gate 1 adds zero exchanges (a scan-level projection on
  * the corpus row). Gates 2 and 3 each reduce to a per-doc aggregate
  * keyed by the 8-byte id (their internal exchanges — LM count joins,
  * gram equi-join — carry hashes/grams, never full text; `hashKeys`
  * forwards [[LangModel.score]]'s broadcast route). The two left joins
  * back to the corpus key on the id column only, so the panel's own
  * shuffles move (id, verdict) pairs — at 100 TB the wide text column
  * rides only the initial scans.
  *
  * Reference analogue: the per-rule audit frames of quality/Rules.scala
  * and audit/FinalAudit.scala (the reference reports per-check verdicts,
  * not just a drop count) extended to corpus-text gates.
  */
object QualityPanel {

  /** @param corpus  documents to audit: idCol + textCol
    * @param bench   benchmark suite for the contamination gate
    * @param lmRef   trusted reference slice the bigram LM trains on
    * @param minLmLogprob  LM gate: drop below this avg conditioned
    *                      log-prob (null = drop)
    * @param maxOverlapFrac  contamination gate: drop above this fraction
    *                        of benchmark-overlapping n-grams
    * @param n       contamination n-gram order
    * @param hashKeys  route LM joins over 8-byte hashed keys with
    *                  broadcast count tables ([[LangModel.score]]) */
  def audit(corpus: DataFrame, bench: DataFrame, lmRef: DataFrame,
            idCol: String, textCol: String,
            gopherCfg: GopherRules.Config = GopherRules.Config(),
            minLmLogprob: Double = -6.0,
            maxOverlapFrac: Double = 0.1,
            n: Int = 8,
            hashKeys: Boolean = false): DataFrame =
    auditManaged(corpus, bench, lmRef, idCol, textCol, gopherCfg,
      minLmLogprob, maxOverlapFrac, n, hashKeys).df

  /** [[audit]]'s frame, held with the release of the bigram LM the audit
    * trained (its count tables stay cached for the scoring joins) — the
    * route for callers auditing many corpora in one session. Release
    * once the frame is materialized ([[graft.Cached]]). */
  def auditManaged(corpus: DataFrame, bench: DataFrame, lmRef: DataFrame,
                   idCol: String, textCol: String,
                   gopherCfg: GopherRules.Config = GopherRules.Config(),
                   minLmLogprob: Double = -6.0,
                   maxOverlapFrac: Double = 0.1,
                   n: Int = 8,
                   hashKeys: Boolean = false): graft.Cached.Held = {
    val base = corpus.select(col(idCol),
      GopherRules.keepFlag(col(textCol), gopherCfg).cast("int").as("gopher_keep"))
    val lm = LangModel.train(lmRef, textCol)
    val scored = LangModel.score(corpus.select(idCol, textCol), idCol, textCol,
        lm, hashKeys = hashKeys)
      .select(col(idCol), col("avg_logprob"))
    val overlap = CorpusOps.overlapFraction(corpus, bench, idCol, textCol, n)
    val frame = base
      .join(scored, Seq(idCol), "left")
      .join(overlap, Seq(idCol), "left")
      .select(col(idCol), col("gopher_keep"), col("avg_logprob"),
        when(col("avg_logprob").isNotNull &&
          col("avg_logprob") >= minLmLogprob, lit(1)).otherwise(lit(0))
          .as("lm_keep"),
        col("n_grams"), col("n_overlap"), col("overlap_frac"),
        when(col("overlap_frac") <= maxOverlapFrac, lit(1)).otherwise(lit(0))
          .as("decon_keep"))
      .withColumn("keep",
        (col("gopher_keep") === 1 && col("lm_keep") === 1 &&
          col("decon_keep") === 1).cast("int"))
    graft.Cached.Held(frame, () => lm.release())
  }
}
