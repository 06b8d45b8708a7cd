package graft.pipeline

import graft.dedup.Duplicates
import graft.text.GopherRules
import graft.impute.{Constant, ImputeStrategy, Mean, Median, Mode}
import graft.normalize.{FuzzySpec, NormalizeConfig}
import graft.outliers._
import graft.quality._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.yaml.snakeyaml.{LoaderOptions, Yaml}
import org.yaml.snakeyaml.constructor.SafeConstructor

import scala.jdk.CollectionConverters._

/** Config-artifact-driven pipeline runner — the counterpart of the
  * reference's YAML entry point (`run_toolkit_pipeline.py:62-208` +
  * `m00_utils/config_loader.py:11-25` + `pipeline_config_validation.py`):
  * parse a YAML (or JSON — YAML superset) document, validate it strictly,
  * and produce the same typed `Seq[Stage]` a hand-built pipeline uses, so
  * `Pipeline.run` stays the single execution path.
  *
  * Config shape (own design, not the reference's schema — the reference
  * splits per-module files; here one document holds the ordered chain,
  * which is the natural Spark shape since the whole chain composes
  * lazily — see [[Pipeline]]):
  *
  * {{{
  * run_id: demo
  * stages:
  *   - module: normalize
  *     rename_columns: {old: new}
  *     standardize_text: [c]
  *     value_mappings: {c: {F: FINISHED, "null": UNKNOWN}}
  *     fuzzy: {c: {master_list: [a, b], cutoff: 90.0}}
  *     parse_datetimes: {c: ["yyyy-MM-dd"]}
  *     coerce_types: {c: double}
  *   - module: impute
  *     strategies: {c: median}          # mean|median|mode|constant:<v>
  *   - module: dedup
  *     subset: [a, b]
  *     keep: first                      # first|last|none
  *     tiebreak: [a]
  *   - module: outliers
  *     detect: {c: {method: iqr, multiplier: 3.0}}   # or zscore+threshold
  *     handle: {c: clip}                # clip|mean|median|drop|constant:<v>
  *   - module: validate
  *     rules:
  *       - {rule: not_null, column: c}
  *       - {rule: in_range, column: c, min: 0, max: 10}
  *   # corpus-curation stages (LLM-pipeline operators, same chain):
  *   - module: text_filter
  *     text_column: text
  *     min_quality: 0.3                 # optional, default 0
  *     languages: [en]                  # optional, default any
  *   - module: gopher_filter
  *     text_column: text
  *     id_column: doc_id                # optional: min_words, max_words,
  *                                      #   min/max_mean_word_len, max_symbol_ratio,
  *                                      #   max_bullet_frac, max_ellipsis_frac,
  *                                      #   min_alpha_frac, min_stop_hits
  *   - module: pii_redact
  *     text_column: text
  *   - module: exact_dedup
  *     text_column: text
  *     id_column: doc_id
  *   - module: near_dedup
  *     text_column: text
  *     id_column: doc_id                      # optional threshold: 0.7
  *   - module: decontaminate
  *     text_column: text
  *     id_column: doc_id
  *     bench_path: /data/benchmarks.parquet   # optional ngram: 8, fpp: 0.01
  *   - module: lm_filter
  *     text_column: text
  *     id_column: doc_id
  *     ref_path: /data/trusted.parquet        # bigram LM training slice
  *     min_logprob: -6.0                      # optional backoff: 0.4
  *   - module: ft_filter
  *     text_column: text
  *     id_column: doc_id
  *     model_path: /models/quality-ft         # persisted FastText.writeModel dir
  *     min_score: 0.5                         # sigmoid keep threshold, (0,1)
  *   - module: chunking
  *     text_column: text
  *     id_column: doc_id
  *     max_tokens: 512                        # optional overlap: 0
  *   - module: embedding_centroids
  *     group_column: label
  *     vector_column: embedding               # report-only
  *   - module: quota
  *     group_column: source
  *     key_column: doc_id
  *     n: 20
  *   - module: sample
  *     key_column: doc_id
  *     fraction: 0.8                    # optional seed: 0 <= long < 1000000
  * }}}
  *
  * Execution is [[Pipeline.run]]'s: the chain composes lazily, and the
  * stages that read their input more than once (`outliers`, `impute`,
  * `near_dedup`, `lm_filter`, `ft_filter`, `decontaminate`,
  * `span_dedup`) cache it for the caller's first action; call the
  * result's `release()` once its frames are consumed.
  *
  * Validation is strict: unknown modules, unknown keys inside a stage,
  * unknown strategy/rule names, and missing required keys all throw
  * [[ConfigError]] with the offending path — a config typo must fail the
  * run, not silently no-op (the failure mode of permissive dict lookups).
  */
object ConfigPipeline {

  final class ConfigError(path: String, msg: String)
      extends IllegalArgumentException(s"pipeline config: $path: $msg")

  final case class PipelineSpec(runId: String, stages: Seq[Stage])

  def load(path: String): PipelineSpec = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try parse(src.mkString) finally src.close()
  }

  def run(df: DataFrame, yamlText: String): Pipeline.Result =
    Pipeline.run(df, parse(yamlText).stages)

  def parse(yamlText: String): PipelineSpec = {
    val yaml = new Yaml(new SafeConstructor(new LoaderOptions()))
    val root = asMap(yaml.load[Any](yamlText), "<root>")
    requireKeys(root, "<root>", required = Set("run_id", "stages"), optional = Set.empty)
    val runId = asString(root("run_id"), "run_id")
    val stages = asList(root("stages"), "stages").zipWithIndex.map { case (raw, i) =>
      parseStage(asMap(raw, s"stages[$i]"), s"stages[$i]")
    }
    if (stages.isEmpty) fail("stages", "at least one stage required")
    PipelineSpec(runId, stages)
  }

  private def parseStage(m: Map[String, Any], path: String): Stage = {
    val module = asString(
      m.getOrElse("module", fail(path, "missing required key 'module'")), s"$path.module")
    module match {
      case "normalize" =>
        requireKeys(m, path, required = Set("module"),
          optional = Set("rename_columns", "standardize_text", "value_mappings",
            "fuzzy", "parse_datetimes", "coerce_types"))
        NormalizeStage(NormalizeConfig(
          renameColumns = optStrMap(m, "rename_columns", path),
          standardizeTextColumns = optStrList(m, "standardize_text", path),
          valueMappings = m.get("value_mappings").map(v =>
            asMap(v, s"$path.value_mappings").map { case (c, mm) =>
              c -> asMap(mm, s"$path.value_mappings.$c").map { case (k, vv) =>
                k -> asString(vv, s"$path.value_mappings.$c.$k") }
            }).getOrElse(Map.empty),
          fuzzyMatching = m.get("fuzzy").map(v =>
            asMap(v, s"$path.fuzzy").map { case (c, raw) =>
              val fm = asMap(raw, s"$path.fuzzy.$c")
              requireKeys(fm, s"$path.fuzzy.$c",
                required = Set("master_list"), optional = Set("cutoff"))
              c -> FuzzySpec(
                asList(fm("master_list"), s"$path.fuzzy.$c.master_list")
                  .map(asString(_, s"$path.fuzzy.$c.master_list")),
                fm.get("cutoff").map(asDouble(_, s"$path.fuzzy.$c.cutoff")).getOrElse(90.0))
            }).getOrElse(Map.empty),
          parseDatetimes = m.get("parse_datetimes").map(v =>
            asMap(v, s"$path.parse_datetimes").map { case (c, fmts) =>
              c -> asList(fmts, s"$path.parse_datetimes.$c")
                .map(asString(_, s"$path.parse_datetimes.$c")) }).getOrElse(Map.empty),
          coerceTypes = optStrMap(m, "coerce_types", path)))

      case "impute" =>
        requireKeys(m, path, required = Set("module", "strategies"), optional = Set.empty)
        ImputeStage(asMap(m("strategies"), s"$path.strategies").map { case (c, s) =>
          c -> imputeStrategy(asString(s, s"$path.strategies.$c"), s"$path.strategies.$c")
        })

      case "dedup" =>
        requireKeys(m, path, required = Set("module", "subset", "keep"),
          optional = Set("tiebreak"))
        val keep = asString(m("keep"), s"$path.keep") match {
          case "first" => Duplicates.KeepFirst
          case "last"  => Duplicates.KeepLast
          case "none"  => Duplicates.KeepNone
          case other   => fail(s"$path.keep", s"unknown keep '$other' (first|last|none)")
        }
        DedupStage(optStrList(m, "subset", path), keep,
          optStrList(m, "tiebreak", path).map(col))

      case "outliers" =>
        requireKeys(m, path, required = Set("module", "detect", "handle"),
          optional = Set.empty)
        val detect = asMap(m("detect"), s"$path.detect").map { case (c, raw) =>
          val dm = asMap(raw, s"$path.detect.$c")
          val method = asString(
            dm.getOrElse("method", fail(s"$path.detect.$c", "missing 'method'")),
            s"$path.detect.$c.method")
          c -> (method match {
            case "iqr" =>
              requireKeys(dm, s"$path.detect.$c", required = Set("method"),
                optional = Set("multiplier"))
              Iqr(dm.get("multiplier").map(asDouble(_, s"$path.detect.$c.multiplier"))
                .getOrElse(1.5))
            case "zscore" =>
              requireKeys(dm, s"$path.detect.$c", required = Set("method"),
                optional = Set("threshold"))
              ZScore(dm.get("threshold").map(asDouble(_, s"$path.detect.$c.threshold"))
                .getOrElse(3.0))
            case "mad" =>
              requireKeys(dm, s"$path.detect.$c", required = Set("method"),
                optional = Set("threshold"))
              Mad(dm.get("threshold").map(asDouble(_, s"$path.detect.$c.threshold"))
                .getOrElse(3.5))
            case other => fail(s"$path.detect.$c.method", s"unknown method '$other' (iqr|zscore|mad)")
          })
        }
        val handle = asMap(m("handle"), s"$path.handle").map { case (c, s) =>
          c -> handleStrategy(asString(s, s"$path.handle.$c"), s"$path.handle.$c")
        }
        OutlierStage(detect, handle)

      case "validate" =>
        requireKeys(m, path, required = Set("module", "rules"), optional = Set.empty)
        ValidateStage(asList(m("rules"), s"$path.rules").zipWithIndex.map {
          case (raw, i) => parseRule(asMap(raw, s"$path.rules[$i]"), s"$path.rules[$i]")
        })

      case "text_filter" =>
        requireKeys(m, path, required = Set("module", "text_column"),
          optional = Set("min_quality", "languages"))
        val minQ = m.get("min_quality").map(asDouble(_, s"$path.min_quality")).getOrElse(0.0)
        // negated form so NaN fails too; scores are always 0-1, so a
        // percent-scale typo (30) would otherwise silently empty the corpus
        if (!(minQ >= 0 && minQ <= 1))
          fail(s"$path.min_quality", s"min_quality $minQ not in [0,1] (quality scores are 0-1)")
        val langs = optStrList(m, "languages", path)
        val known = graft.text.TextAnalysis.stopwords.map(_._1).toSet + "unknown"
        langs.filterNot(known).foreach(l => fail(s"$path.languages",
          s"unknown language '$l' (classifier emits: ${known.toSeq.sorted.mkString(", ")})"))
        TextFilterStage(asString(m("text_column"), s"$path.text_column"), minQ, langs)

      case "pii_redact" =>
        requireKeys(m, path, required = Set("module", "text_column"), optional = Set.empty)
        PiiRedactStage(asString(m("text_column"), s"$path.text_column"))

      case "mojibake_filter" =>
        requireKeys(m, path, required = Set("module", "text_column", "id_column"),
          optional = Set.empty)
        MojibakeFilterStage(
          asString(m("text_column"), s"$path.text_column"),
          asString(m("id_column"), s"$path.id_column"))

      case "exact_dedup" =>
        requireKeys(m, path, required = Set("module", "text_column", "id_column"),
          optional = Set.empty)
        ExactDedupStage(
          asString(m("text_column"), s"$path.text_column"),
          asString(m("id_column"), s"$path.id_column"))

      case "gopher_filter" =>
        requireKeys(m, path, required = Set("module", "text_column", "id_column"),
          optional = Set("min_words", "max_words", "min_mean_word_len",
            "max_mean_word_len", "max_symbol_ratio", "max_bullet_frac",
            "max_ellipsis_frac", "min_alpha_frac", "min_stop_hits"))
        def dOpt(k: String, dv: Double) =
          m.get(k).map(asDouble(_, s"$path.$k")).getOrElse(dv)
        def lOpt(k: String, dv: Long) =
          m.get(k).map(asLong(_, s"$path.$k")).getOrElse(dv)
        val minW = lOpt("min_words", 50L)
        val maxW = lOpt("max_words", 100000L)
        if (minW < 0 || maxW < minW || maxW > Int.MaxValue)
          fail(s"$path.min_words",
            s"word-count window invalid: [$minW, $maxW] (need 0 <= min <= max <= ${Int.MaxValue})")
        val minL = dOpt("min_mean_word_len", 3.0)
        val maxL = dOpt("max_mean_word_len", 10.0)
        // negated form catches .nan like the other numeric keys
        if (!(minL >= 0 && maxL >= minL))
          fail(s"$path.min_mean_word_len",
            s"mean-word-length window invalid: [$minL, $maxL]")
        val sym = dOpt("max_symbol_ratio", 0.1)
        val bul = dOpt("max_bullet_frac", 0.9)
        val ell = dOpt("max_ellipsis_frac", 0.3)
        if (!(sym >= 0 && bul >= 0 && ell >= 0))
          fail(s"$path.max_symbol_ratio",
            s"ratio thresholds must be non-negative, got [$sym, $bul, $ell]")
        val alp = dOpt("min_alpha_frac", 0.8)
        if (!(alp >= 0 && alp <= 1))
          fail(s"$path.min_alpha_frac", s"min_alpha_frac $alp not in [0,1]")
        val stop = lOpt("min_stop_hits", 2L)
        if (stop < 0 || stop > GopherRules.stopwords.size)
          fail(s"$path.min_stop_hits",
            s"min_stop_hits must be in [0, ${GopherRules.stopwords.size}] " +
              s"(only ${GopherRules.stopwords.size} signature stopwords exist " +
              "— a higher bar silently drops everything), got " + stop)
        GopherFilterStage(
          asString(m("text_column"), s"$path.text_column"),
          asString(m("id_column"), s"$path.id_column"),
          GopherRules.Config(minW.toInt, maxW.toInt, minL, maxL,
            sym, bul, ell, alp, stop.toInt))

      case "near_dedup" =>
        requireKeys(m, path, required = Set("module", "text_column", "id_column"),
          optional = Set("threshold"))
        val t = m.get("threshold").map(asDouble(_, s"$path.threshold")).getOrElse(0.7)
        // negated form catches .nan like the other numeric keys
        if (!(t > 0 && t <= 1))
          fail(s"$path.threshold", s"threshold $t not in (0,1]")
        NearDedupStage(
          asString(m("text_column"), s"$path.text_column"),
          asString(m("id_column"), s"$path.id_column"), t)

      case "span_dedup" =>
        requireKeys(m, path, required = Set("module", "text_column", "id_column"),
          optional = Set("ngram"))
        val n = m.get("ngram").map(asLong(_, s"$path.ngram")).getOrElse(16L)
        if (n < 2 || n > 64) fail(s"$path.ngram", s"ngram must be in [2,64], got $n")
        SpanDedupStage(
          asString(m("text_column"), s"$path.text_column"),
          asString(m("id_column"), s"$path.id_column"), n.toInt)

      case "decontaminate" =>
        requireKeys(m, path,
          required = Set("module", "text_column", "id_column", "bench_path"),
          optional = Set("ngram", "fpp"))
        val n = m.get("ngram").map(asLong(_, s"$path.ngram")).getOrElse(8L)
        if (n < 1 || n > 64) fail(s"$path.ngram", s"ngram must be in [1,64], got $n")
        val fpp = m.get("fpp").map(asDouble(_, s"$path.fpp")).getOrElse(0.01)
        // negated form catches .nan, same as the sample fraction check
        if (!(fpp > 0 && fpp < 1)) fail(s"$path.fpp", s"fpp $fpp not in (0,1)")
        DecontaminateStage(
          asString(m("text_column"), s"$path.text_column"),
          asString(m("id_column"), s"$path.id_column"),
          asString(m("bench_path"), s"$path.bench_path"), n.toInt, fpp)

      case "lm_filter" =>
        requireKeys(m, path,
          required = Set("module", "text_column", "id_column", "ref_path",
            "min_logprob"),
          optional = Set("backoff"))
        val minLp = asDouble(m("min_logprob"), s"$path.min_logprob")
        // log-probs are strictly negative (every branch is ln of a value
        // < 1); a min of 0 or above drops the whole corpus — the classic
        // perplexity-instead-of-logprob sign typo, refused with its path
        if (!(minLp < 0))
          fail(s"$path.min_logprob",
            s"min_logprob $minLp must be negative (avg log-probs are; " +
              "a threshold >= 0 drops every document)")
        val bo = m.get("backoff").map(asDouble(_, s"$path.backoff")).getOrElse(0.4)
        if (!(bo > 0 && bo <= 1))
          fail(s"$path.backoff", s"backoff $bo not in (0,1]")
        LmFilterStage(
          asString(m("text_column"), s"$path.text_column"),
          asString(m("id_column"), s"$path.id_column"),
          asString(m("ref_path"), s"$path.ref_path"), minLp, bo)

      case "ft_filter" =>
        requireKeys(m, path,
          required = Set("module", "text_column", "id_column", "model_path",
            "min_score"),
          optional = Set.empty)
        val minS = asDouble(m("min_score"), s"$path.min_score")
        // the score is a sigmoid in (0,1): a threshold at/below 0 keeps
        // everything (the gate no-ops), at/above 1 drops the whole
        // corpus — both are config typos, refused with their path
        // (negated form catches .nan, the fpp-check convention)
        if (!(minS > 0 && minS < 1))
          fail(s"$path.min_score",
            s"min_score $minS must be in (0,1) — the classifier emits " +
              "sigmoid scores")
        FtFilterStage(
          asString(m("text_column"), s"$path.text_column"),
          asString(m("id_column"), s"$path.id_column"),
          asString(m("model_path"), s"$path.model_path"), minS)

      case "chunking" =>
        requireKeys(m, path,
          required = Set("module", "text_column", "id_column", "max_tokens"),
          optional = Set("overlap"))
        val maxT = asLong(m("max_tokens"), s"$path.max_tokens")
        // upper bound: a budget beyond any real context window is a typo
        // (e.g. characters instead of tokens), and Int-wrap would be worse
        if (maxT < 1 || maxT > 1000000)
          fail(s"$path.max_tokens", s"max_tokens must be in [1, 1000000], got $maxT")
        val ov = m.get("overlap").map(asLong(_, s"$path.overlap")).getOrElse(0L)
        if (ov < 0 || ov >= maxT)
          fail(s"$path.overlap",
            s"overlap must be in [0, max_tokens=$maxT) to leave a positive stride, got $ov")
        ChunkingStage(
          asString(m("text_column"), s"$path.text_column"),
          asString(m("id_column"), s"$path.id_column"), maxT.toInt, ov.toInt)

      case "embedding_centroids" =>
        requireKeys(m, path,
          required = Set("module", "group_column", "vector_column"),
          optional = Set.empty)
        EmbeddingCentroidsStage(
          asString(m("group_column"), s"$path.group_column"),
          asString(m("vector_column"), s"$path.vector_column"))

      case "sample" =>
        requireKeys(m, path, required = Set("module", "key_column", "fraction"),
          optional = Set("seed"))
        val fraction = asDouble(m("fraction"), s"$path.fraction")
        // negated form: `.nan` in YAML passes `< 0 || > 1` and would only
        // blow up later without the config path
        if (!(fraction >= 0 && fraction <= 1))
          fail(s"$path.fraction", s"fraction $fraction not in [0,1]")
        SampleStage(
          asString(m("key_column"), s"$path.key_column"), fraction,
          parseSeed(m, path))

      case "shard_assign" =>
        requireKeys(m, path, required = Set("module", "key_column", "n_shards"),
          optional = Set.empty)
        val n = asLong(m("n_shards"), s"$path.n_shards")
        if (n < 1 || n > Int.MaxValue)
          fail(s"$path.n_shards", s"n_shards must be in [1, ${Int.MaxValue}], got $n")
        ShardAssignStage(asString(m("key_column"), s"$path.key_column"), n.toInt)

      case "quota" =>
        requireKeys(m, path, required = Set("module", "group_column", "key_column", "n"),
          optional = Set("seed"))
        val n = asLong(m("n"), s"$path.n")
        // upper bound too: a Long beyond Int range would .toInt-wrap to an
        // arbitrary (possibly tiny or negative) cap
        if (n < 1 || n > Int.MaxValue)
          fail(s"$path.n", s"quota must be in [1, ${Int.MaxValue}], got $n")
        QuotaStage(
          asString(m("group_column"), s"$path.group_column"),
          asString(m("key_column"), s"$path.key_column"), n.toInt,
          parseSeed(m, path))

      case other =>
        fail(s"$path.module",
          s"unknown module '$other' (normalize|impute|dedup|outliers|validate|" +
            "text_filter|gopher_filter|pii_redact|exact_dedup|near_dedup|span_dedup|" +
            "decontaminate|lm_filter|ft_filter|chunking|embedding_centroids|sample|" +
            "shard_assign|quota)")
    }
  }

  /** Optional `seed` key, validated at CONFIG time against the hash's own
    * bound — otherwise a previously-fine large seed surfaces later as a
    * bare require() inside stage execution with no `$path` context. */
  private def parseSeed(m: Map[String, Any], path: String): Long = {
    val seed = m.get("seed").map(asLong(_, s"$path.seed")).getOrElse(0L)
    if (seed < 0 || seed >= graft.ops.Sampling.MaxSeed)
      fail(s"$path.seed",
        s"seed must be in [0, ${graft.ops.Sampling.MaxSeed}), got $seed")
    seed
  }

  private def imputeStrategy(s: String, path: String): ImputeStrategy = s match {
    case "mean"   => Mean
    case "median" => Median
    case "mode"   => Mode
    case c if c.startsWith("constant:") => Constant(c.stripPrefix("constant:"))
    case other => fail(path, s"unknown strategy '$other' (mean|median|mode|constant:<v>)")
  }

  private def handleStrategy(s: String, path: String): HandleStrategy = s match {
    case "clip"   => Clip
    case "mean"   => ReplaceMean
    case "median" => ReplaceMedian
    case "drop"   => DropRows
    case c if c.startsWith("constant:") =>
      ReplaceConstant(try c.stripPrefix("constant:").toDouble
      catch { case _: NumberFormatException => fail(path, s"non-numeric constant in '$c'") })
    case other => fail(path, s"unknown strategy '$other' (clip|mean|median|drop|constant:<v>)")
  }

  private def parseRule(m: Map[String, Any], path: String): Rule = {
    val rule = asString(
      m.getOrElse("rule", fail(path, "missing required key 'rule'")), s"$path.rule")
    def str(k: String) = asString(
      m.getOrElse(k, fail(path, s"missing required key '$k'")), s"$path.$k")
    def dbl(k: String) = asDouble(
      m.getOrElse(k, fail(path, s"missing required key '$k'")), s"$path.$k")
    def strs(k: String) = asList(
      m.getOrElse(k, fail(path, s"missing required key '$k'")), s"$path.$k")
      .map(asString(_, s"$path.$k"))
    rule match {
      case "not_null" =>
        requireKeys(m, path, Set("rule", "column"), Set.empty); NotNull(str("column"))
      case "in_range" =>
        requireKeys(m, path, Set("rule", "column", "min", "max"), Set.empty)
        InRange(str("column"), dbl("min"), dbl("max"))
      case "in_set" =>
        requireKeys(m, path, Set("rule", "column", "allowed"), Set.empty)
        InSet(str("column"), strs("allowed"))
      case "matches_regex" =>
        requireKeys(m, path, Set("rule", "column", "pattern"), Set.empty)
        MatchesRegex(str("column"), str("pattern"))
      case "expected_columns" =>
        requireKeys(m, path, Set("rule", "columns"), Set.empty)
        ExpectedColumns(strs("columns"))
      case "expected_type" =>
        requireKeys(m, path, Set("rule", "column", "dtype"), Set.empty)
        ExpectedType(str("column"), str("dtype"))
      case "unique_key" =>
        requireKeys(m, path, Set("rule", "columns"), Set.empty)
        UniqueKey(strs("columns"))
      case other => fail(s"$path.rule", s"unknown rule '$other'")
    }
  }

  // ---- YAML shape helpers (snakeyaml SafeConstructor yields java types) ----

  private def fail(path: String, msg: String): Nothing = throw new ConfigError(path, msg)

  private def requireKeys(m: Map[String, Any], path: String,
                          required: Set[String], optional: Set[String]): Unit = {
    val missing = required -- m.keySet
    if (missing.nonEmpty) fail(path, s"missing required key(s): ${missing.toSeq.sorted.mkString(", ")}")
    val unknown = m.keySet -- required -- optional
    if (unknown.nonEmpty)
      fail(path, s"unknown key(s): ${unknown.toSeq.sorted.mkString(", ")} " +
        s"(allowed: ${(required ++ optional).toSeq.sorted.mkString(", ")})")
  }

  private def asMap(v: Any, path: String): Map[String, Any] = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, vv) => String.valueOf(k) -> (vv: Any) }.toMap
    case null  => fail(path, "expected a mapping, got null")
    case other => fail(path, s"expected a mapping, got ${other.getClass.getSimpleName}")
  }

  private def asList(v: Any, path: String): Seq[Any] = v match {
    case l: java.util.List[_] => l.asScala.toSeq
    case null  => fail(path, "expected a list, got null")
    case other => fail(path, s"expected a list, got ${other.getClass.getSimpleName}")
  }

  private def asString(v: Any, path: String): String = v match {
    case s: String => s
    case n: java.lang.Number => n.toString
    case b: java.lang.Boolean => b.toString
    case null  => fail(path, "expected a string, got null")
    case other => fail(path, s"expected a string, got ${other.getClass.getSimpleName}")
  }

  private def asDouble(v: Any, path: String): Double = v match {
    case n: java.lang.Number => n.doubleValue()
    case other => fail(path, s"expected a number, got ${String.valueOf(other)}")
  }

  private def asLong(v: Any, path: String): Long = v match {
    case n: java.lang.Number if n.doubleValue() == n.longValue() => n.longValue()
    case other => fail(path, s"expected an integer, got ${String.valueOf(other)}")
  }

  private def optStrMap(m: Map[String, Any], k: String, path: String): Map[String, String] =
    m.get(k).map(v => asMap(v, s"$path.$k").map { case (kk, vv) =>
      kk -> asString(vv, s"$path.$k.$kk") }).getOrElse(Map.empty)

  private def optStrList(m: Map[String, Any], k: String, path: String): Seq[String] =
    m.get(k).map(v => asList(v, s"$path.$k").map(asString(_, s"$path.$k"))).getOrElse(Nil)
}
