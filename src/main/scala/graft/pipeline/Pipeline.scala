package graft.pipeline

import graft.dedup.{Duplicates, LlmDedup}
import graft.impute.{ImputeStrategy, Imputer}
import graft.normalize.{NormalizeConfig, Normalizer}
import graft.ops.{Quota, Sampling}
import graft.outliers.{DetectMethod, HandleStrategy, Outliers}
import graft.quality.{Rule, Validator}
import graft.text.{CorpusOps, GopherRules, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LeafNode
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.storage.StorageLevel

/** One pipeline stage — the typed counterpart of a reference module
  * invocation in `run_toolkit_pipeline.py` (each m0X module consumes the
  * previous module's frame and a config block). */
sealed trait Stage { def name: String }
final case class NormalizeStage(cfg: NormalizeConfig) extends Stage { val name = "normalize" }
final case class ImputeStage(strategies: Map[String, ImputeStrategy]) extends Stage { val name = "impute" }
final case class DedupStage(subset: Seq[String], keep: Duplicates.Keep,
                            tiebreak: Seq[Column]) extends Stage { val name = "dedup" }
final case class OutlierStage(specs: Map[String, DetectMethod],
                              strategies: Map[String, HandleStrategy]) extends Stage { val name = "outliers" }
/** Non-destructive: contributes a report, passes the frame through. */
final case class ValidateStage(rules: Seq[Rule]) extends Stage { val name = "validate" }
// Corpus-curation stages (SURVEY §2.3): the LLM-pipeline operators behind
// the same config-driven chain the reference modules use.
final case class TextFilterStage(textCol: String, minQuality: Double,
                                 langs: Seq[String]) extends Stage { val name = "text_filter" }
final case class PiiRedactStage(textCol: String) extends Stage { val name = "pii_redact" }
final case class ExactDedupStage(textCol: String, idCol: String) extends Stage { val name = "exact_dedup" }
final case class DecontaminateStage(textCol: String, idCol: String,
    benchPath: String, n: Int, fpp: Double) extends Stage { val name = "decontaminate" }
/** CCNet-style LM gate: docs whose avg conditioned log-prob against a
  * reference-trained bigram model falls below the threshold are dropped
  * (and reported); unscoreable docs (blank / single-token: nothing to
  * condition on) are dropped too — no quality evidence is not a pass. */
final case class LmFilterStage(textCol: String, idCol: String,
    refPath: String, minLogprob: Double,
    backoff: Double) extends Stage { val name = "lm_filter" }
/** fastText classifier gate (Joulin et al. 2016 — the CCNet/GPT-3 shape):
  * docs whose sigmoid keep-score under a PERSISTED classifier
  * ([[graft.text.FastText.readModel]] — trained offline on labeled data,
  * shipped to every curation run) falls below the threshold are dropped
  * and reported; no-feature docs (null score) are dropped too — no
  * quality evidence is not a pass (the lm_filter convention). */
final case class FtFilterStage(textCol: String, idCol: String,
    modelPath: String, minScore: Double) extends Stage { val name = "ft_filter" }
/** Gopher rule gate (Rae et al. §A1.1): docs failing any structural rule
  * are dropped; the report carries every dropped doc's full signal + rule
  * audit so a curation run can see WHICH rule fired, not just that one
  * did. The keep path is a single zero-shuffle scan predicate. */
final case class GopherFilterStage(textCol: String, idCol: String,
    cfg: GopherRules.Config) extends Stage { val name = "gopher_filter" }
final case class NearDedupStage(textCol: String, idCol: String,
    threshold: Double) extends Stage { val name = "near_dedup" }
/** Encoding-hygiene gate (SURVEY row 128): docs carrying mojibake
  * markers, replacement chars, or stray C0 control chars are dropped;
  * the report carries every dropped doc's per-class artifact counts. The
  * keep path is a single zero-shuffle scan predicate. */
final case class MojibakeFilterStage(textCol: String,
    idCol: String) extends Stage { val name = "mojibake_filter" }
/** Exact substring dedup (SURVEY row 102): duplicated n-token spans are
  * cut in place; the frame keeps flowing with `textCol` replaced by the
  * cleaned text (whitespace-normalized) and all other columns intact. */
final case class SpanDedupStage(textCol: String, idCol: String,
    n: Int) extends Stage { val name = "span_dedup" }
/** Re-shapes the corpus: documents become (id, chunk_id, chunk_text,
  * n_tokens) chunk rows — the context-window prep step right after dedup
  * in a curation chain. Metadata columns flow onto every chunk of their
  * document (a per-row projection, not a join); `textCol` is REPLACED by
  * `chunk_text`, so a downstream text stage must name the new column. */
final case class ChunkingStage(textCol: String, idCol: String,
    maxTokens: Int, overlap: Int) extends Stage { val name = "chunking" }
/** Non-destructive embedding audit: contributes the per-(group, dim)
  * centroid + variance report, passes the frame through. */
final case class EmbeddingCentroidsStage(groupCol: String,
    vecCol: String) extends Stage { val name = "embedding_centroids" }
final case class SampleStage(keyCol: String, fraction: Double,
                             seed: Long) extends Stage { val name = "sample" }
final case class ShardAssignStage(keyCol: String,
                                  nShards: Int) extends Stage { val name = "shard_assign" }
final case class QuotaStage(groupCol: String, keyCol: String,
                            quota: Int, seed: Long = 0L) extends Stage { val name = "quota" }

/** Config-driven module chain — Spark-native counterpart of the
  * reference's `run_toolkit_pipeline.py`. Each stage is lazy plan
  * composition: `run` launches no job over the pipeline input, and Spark
  * fuses the narrow stages into the same whole-stage-codegen spans; the
  * work runs only when the result is consumed.
  *
  * Stages whose kept frame joins back to a per-row result computed from
  * their own input — `near_dedup` (signatures → anti-join), `lm_filter`
  * and `ft_filter` (scores → semi-join), `decontaminate` (Bloom hits →
  * anti-join) and `span_dedup` (cleaned text → join) — read that input
  * twice. Left as one plan, each such stage doubles the recomputation of
  * everything upstream of it, so `run` persists their input
  * (MEMORY_AND_DISK, still lazy: the cache fills during the caller's
  * first action) and the whole chain runs once. Stages that read their
  * input a second time only through a one-row aggregate (outliers,
  * impute) or a report (validate, the gopher/mojibake audits,
  * `embedding_centroids`) stay uncached: there a cache costs more than
  * the re-read. A leaf input (a file scan, a checkpoint) is not cached
  * either; an input the caller already cached is reused, and stays the
  * caller's to release.
  *
  * Build sides are eager the way any broadcast build is: `decontaminate`
  * builds its Bloom filter (two benchmark-sized jobs plus the bench
  * parquet read), `lm_filter` trains its count tables on the reference,
  * `ft_filter` opens its persisted model.
  */
object Pipeline {

  /** `release()` unpersists what `run` cached: the stage inputs named
    * above, `near_dedup`'s signature frame and the build-side state of
    * `lm_filter`/`ft_filter`. Call it AFTER `df` and every report you
    * need are materialized — the frames stay correct afterwards (they
    * recompute on access), but the caching benefit is gone. A caller
    * that never calls it keeps those caches until the session's
    * `catalog.clearCache()`. Idempotent; a no-op for pipelines with
    * nothing cached. */
  final case class Result(df: DataFrame, reports: Map[String, DataFrame],
                          release: () => Unit = () => ())

  def run(df: DataFrame, stages: Seq[Stage]): Result = {
    val reports = Map.newBuilder[String, DataFrame]
    val releasables = Seq.newBuilder[() => Unit]
    /** The stage input a kept frame joins back to, persisted once. A
      * leaf input (a file scan, a checkpoint) has no upstream work to
      * save, and a cached one is already read once. */
    def joinedBack(input: DataFrame): DataFrame =
      if (input.queryExecution.logical.isInstanceOf[LeafNode] ||
          input.storageLevel != StorageLevel.NONE) input
      else {
        val cached = input.persist(StorageLevel.MEMORY_AND_DISK)
        releasables += (() => cached.unpersist())
        cached
      }
    val out = stages.zipWithIndex.foldLeft(df) { case (in, (stage, i)) =>
      val acc = stage match {
        case _: NearDedupStage | _: SpanDedupStage | _: LmFilterStage |
             _: FtFilterStage | _: DecontaminateStage => joinedBack(in)
        case _ => in
      }
      stage match {
        case NormalizeStage(cfg) =>
          val (next, log) = Normalizer(acc, cfg)
          reports += s"$i:normalize" -> log
          next
        case ImputeStage(strategies) =>
          reports += s"$i:impute" -> Imputer.changelog(acc, strategies)
          Imputer.impute(acc, strategies)
        case DedupStage(subset, keep, tiebreak) =>
          Duplicates.drop(acc, subset, keep, tiebreak)
        case OutlierStage(specs, strategies) =>
          val det = Outliers.detect(acc, specs)
          reports += s"$i:outliers" -> Outliers.log(det)
          Outliers.handle(det, strategies)
        case ValidateStage(rules) =>
          reports += s"$i:validate" -> Validator.summary(acc, rules)
          acc
        case TextFilterStage(textCol, minQ, langs) =>
          val langOk =
            if (langs.isEmpty) lit(true)
            else TextAnalysis.languageId(col(textCol)).isin(langs: _*)
          acc.filter(TextAnalysis.qualityScore(col(textCol)) >= minQ && langOk)
        case PiiRedactStage(textCol) =>
          acc.withColumn(textCol, CorpusOps.redact(col(textCol)))
        case ExactDedupStage(textCol, idCol) =>
          LlmDedup.exact(acc, textCol, idCol)
        case GopherFilterStage(textCol, idCol, cfg) =>
          reports += s"$i:gopher_filter" ->
            GopherRules.audit(acc.select(col(idCol), col(textCol)),
              idCol, textCol, cfg).filter(!col("keep"))
          GopherRules.filterDocs(acc, textCol, cfg)
        case MojibakeFilterStage(textCol, idCol) =>
          reports += s"$i:mojibake_filter" ->
            TextAnalysis.encodingAudit(acc.select(col(idCol), col(textCol)),
              idCol, textCol).filter(!col("is_clean"))
          // keep path re-states the verdict as a scan predicate so the
          // surviving frame never joins back to the audit; isCleanText is
          // the shared owner, so null-text rows drop here AND appear in
          // the report above (is_clean false, never null)
          acc.filter(TextAnalysis.isCleanText(col(textCol)))
        case NearDedupStage(textCol, idCol, threshold) =>
          val (kept, releaseSigs) = graft.dedup.MinHash.dedupReleasable(
            acc, textCol, idCol, threshold = threshold)
          releasables += releaseSigs
          kept
        case SpanDedupStage(textCol, idCol, n) =>
          val cleaned = CorpusOps.dedupeSpans(
            acc.select(col(idCol), col(textCol)), idCol, textCol, n)
          reports += s"$i:span_dedup" -> cleaned
            .filter(col("n_removed_tokens") > 0)
            .select(col(idCol), col("n_removed_tokens"))
          acc.drop(textCol).join(
            cleaned.select(col(idCol), col("clean_text").as(textCol)),
            Seq(idCol))
        case LmFilterStage(textCol, idCol, refPath, minLp, backoff) =>
          // reference read + count-table build are eager like any
          // broadcast build side; the corpus-side plan stays lazy
          val ref = acc.sparkSession.read.parquet(refPath)
          val lm = graft.text.LangModel.train(ref, textCol)
          releasables += (() => lm.release())
          val scored = graft.text.LangModel.score(
            acc.select(col(idCol), col(textCol)), idCol, textCol, lm, backoff)
          val keep = scored.filter(col("avg_logprob") >= minLp)
          reports += s"$i:lm_filter" ->
            scored.join(keep.select(idCol), Seq(idCol), "left_anti")
          acc.join(keep.select(idCol), Seq(idCol), "left_semi")
        case FtFilterStage(textCol, idCol, modelPath, minScore) =>
          // model open (one manifest read + a bounded count) is eager
          // like any broadcast build side; the scoring plan stays lazy
          val model = graft.text.FastText.readModel(acc.sparkSession, modelPath)
          releasables += (() => model.release())
          val scored = model.score(
            acc.select(col(idCol), col(textCol)), idCol, textCol)
          val keep = scored.filter(col("score") >= minScore)
          reports += s"$i:ft_filter" ->
            scored.join(keep.select(idCol), Seq(idCol), "left_anti")
          acc.join(keep.select(idCol), Seq(idCol), "left_semi")
        case DecontaminateStage(textCol, idCol, benchPath, n, fpp) =>
          // benchmark suite read per the reference's path-driven configs;
          // the Bloom path is value-identical to exact decontamination
          val bench = acc.sparkSession.read.parquet(benchPath)
          val hits = CorpusOps.decontaminateBloom(acc, bench, idCol, textCol, n, fpp)
          reports += s"$i:decontaminate" -> hits
          acc.join(hits.select(idCol), Seq(idCol), "left_anti")
        case ChunkingStage(textCol, idCol, maxTokens, overlap) =>
          val carry = acc.columns.toSeq.filterNot(c => c == textCol || c == idCol)
          graft.text.Chunking.chunk(acc, idCol, textCol, maxTokens, overlap, carry)
        case EmbeddingCentroidsStage(groupCol, vecCol) =>
          reports += s"$i:embedding_centroids" ->
            graft.sim.EmbeddingStats.centroids(acc, groupCol, vecCol)
          acc
        case SampleStage(keyCol, fraction, seed) =>
          Sampling.hashSample(acc, keyCol, fraction, seed)
        case ShardAssignStage(keyCol, nShards) =>
          // pure transform: the export write stays the caller's sink step
          acc.withColumn("shard",
            graft.ops.Sharding.shardId(org.apache.spark.sql.functions.col(keyCol), nShards))
        case QuotaStage(groupCol, keyCol, quota, seed) =>
          Quota.capPerGroup(acc, groupCol, keyCol, quota, seed)
      }
    }
    // downstream first: an upstream unpersist re-plans cached frames
    // that read it and have not filled yet
    val rel = releasables.result().reverse
    Result(out, reports.result(), () => rel.foreach(_.apply()))
  }
}
