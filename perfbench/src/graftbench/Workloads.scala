package graftbench

import graft.audit.{FinalAudit, HealthScore}
import graft.dedup.MinHash
import graft.dict.DataDictionary
import graft.drift.Drift
import graft.outliers.{Iqr, Outliers}
import graft.pipeline._
import graft.profile.Profiler
import graft.quality.{InRange, InSet, NotNull, Rule}
import graft.sim.EmbeddingStats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File

/** Per-stage accounting from the stepwise run: `kept + dropped` must
  * equal `input` (counted on distinct document ids). */
final case class StageCount(stage: String, input: Long, kept: Long, dropped: Long)

/** What one stepwise run reports beside its written tables. */
final case class Stepwise(stages: Seq[StageCount], extras: Map[String, Double])

/** One benchmark workload. `run` is the user path, timed with tracing
  * off; `stepwise` does the same work one layer call at a time under a
  * [[Tracer]]. Both write the same tables under their output directory,
  * which is how the benchmark checks that they agree. */
trait Workload {
  def name: String
  def generate(spark: SparkSession, seed: Long, dir: String): Gen.Inputs
  /** Registers the inputs; callable again. */
  def setup(spark: SparkSession, in: Gen.Inputs): Unit
  def run(spark: SparkSession, in: Gen.Inputs, out: String): Unit
  def stepwise(spark: SparkSession, in: Gen.Inputs, out: String,
               tr: Tracer): Stepwise
  /** Written tables, name -> parquet path. */
  def outputs(out: String): Seq[(String, String)]
  /** (rows in, rows out) of the written result. */
  def rowsInOut(spark: SparkSession, in: Gen.Inputs, out: String): (Long, Long)
}

object Workloads {

  val all: Seq[Workload] = Seq(QaTabular, CurationBatch)

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))

  /** The graft package a pipeline stage's operator lives in. */
  def layerOf(stage: Stage): String = stage match {
    case _: NormalizeStage => "normalize"
    case _: ValidateStage => "quality"
    case _: DedupStage | _: ExactDedupStage | _: NearDedupStage => "dedup"
    case _: OutlierStage => "outliers"
    case _: ImputeStage => "impute"
    case _: ShardAssignStage | _: SampleStage | _: QuotaStage => "ops"
    case _ => "text"
  }

  /** Materializes `df` with its lineage cut, so a later call pays only
    * for its own work, and records its row count on the open span. */
  private[graftbench] def persisted(tr: Tracer, df: DataFrame): DataFrame = {
    val p = df.localCheckpoint(eager = true)
    tr.rowsOut(p.count())
    p
  }

  /** Runs a parsed chain one stage per `Pipeline.run` call, each output
    * materialized and counted before the next stage reads it. Reports are
    * materialized too when the workload writes them (`withReports`); their
    * keys keep the stage's index in the whole chain. */
  private[graftbench] def stagewise(tr: Tracer, input: DataFrame, stages: Seq[Stage],
      idCol: Option[String], withReports: Boolean)
      : (Pipeline.Result, Seq[StageCount], Seq[DataFrame]) = {
    val reports = Seq.newBuilder[(String, DataFrame)]
    val counts = Seq.newBuilder[StageCount]
    val frames = Seq.newBuilder[DataFrame]
    val releases = Seq.newBuilder[() => Unit]
    val out = stages.zipWithIndex.foldLeft(input) { case (acc, (stage, i)) =>
      val next = tr.span(layerOf(stage)) {
        val r = tr.timed("pipeline", "pipeline.compose_s")(Pipeline.run(acc, Seq(stage)))
        releases += r.release
        val n = persisted(tr, r.df)
        if (withReports) r.reports.toSeq.sortBy(_._1).foreach { case (k, df) =>
          reports += s"$i:${k.dropWhile(_ != ':').drop(1)}" -> persisted(tr, df)
        }
        n
      }
      frames += next
      idCol.foreach { id =>
        counts += tr.span("check")(stageCount(stage.name, acc, next, id))
      }
      next
    }
    val rel = releases.result()
    (Pipeline.Result(out, reports.result().toMap, () => rel.foreach(_())),
      counts.result(), frames.result())
  }

  private[graftbench] def stageCount(stage: String, in: DataFrame, out: DataFrame,
                         id: String): StageCount = {
    val ins = in.select(col(id)).distinct()
    val outs = out.select(col(id)).distinct()
    val stray = outs.join(ins, Seq(id), "left_anti").count()
    require(stray == 0, s"stage $stage emitted $stray ids it was never given")
    StageCount(stage, ins.count(), outs.count(), ins.join(outs, Seq(id), "left_anti").count())
  }

  def deleteTree(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(new File(path))
  }

  private[graftbench] def ratio(num: Long, den: Long): Double =
    if (den == 0) 0.0 else num.toDouble / den
}

/** Reference-parity data QA over a dirty `lineitem`. */
object QaTabular extends Workload {
  val name = "qa_tabular"

  val Yaml: String = """
    |run_id: qa_tabular
    |stages:
    |  - module: normalize
    |    standardize_text: [l_returnflag, l_linestatus]
    |    value_mappings:
    |      l_returnflag: {a: A, n: N, r: R}
    |      l_linestatus: {f: F, o: O}
    |  - module: validate
    |    rules:
    |      - {rule: not_null, column: l_quantity}
    |      - {rule: not_null, column: l_returnflag}
    |      - {rule: in_set, column: l_returnflag, allowed: [A, N, R]}
    |      - {rule: in_set, column: l_linestatus, allowed: [F, O]}
    |      - {rule: in_range, column: l_discount, min: 0, max: 0.1}
    |  - module: dedup
    |    subset: []
    |    keep: first
    |    tiebreak: [l_orderkey]
    |  - module: outliers
    |    detect:
    |      l_extendedprice: {method: iqr, multiplier: 3.0}
    |      l_quantity: {method: zscore, threshold: 3.0}
    |    handle: {l_extendedprice: clip, l_quantity: clip}
    |  - module: impute
    |    strategies: {l_quantity: median, l_discount: mean}
    |""".stripMargin

  private val Rules: Seq[Rule] = Seq(NotNull("l_quantity"), NotNull("l_returnflag"),
    InSet("l_returnflag", Seq("A", "N", "R")), InSet("l_linestatus", Seq("F", "O")),
    InRange("l_discount", 0.0, 0.1))
  private val NullCols = Seq("l_quantity", "l_discount", "l_returnflag", "l_linestatus")
  private val DupKey = Seq("l_orderkey", "l_linenumber")
  private val OutlierSpecs = Map("l_extendedprice" -> Iqr(3.0))

  private val ReportNames = Seq("schema", "describe", "high_cardinality",
    "duplicates", "certify", "null_audit", "health", "dictionary",
    "schema_drift", "numeric_drift")

  def generate(spark: SparkSession, seed: Long, dir: String): Gen.Inputs =
    Gen.qaTabular(spark, seed, dir)

  def setup(spark: SparkSession, in: Gen.Inputs): Unit = {
    val n = spark.read.parquet(in.path("lineitem")).count()
    require(n == in.rows, s"lineitem has $n rows, generator wrote ${in.rows}")
  }

  private def profileTables(input: DataFrame): Seq[(String, DataFrame)] = Seq(
    "schema" -> Profiler.schemaProfile(input),
    "describe" -> Profiler.describe(input),
    "high_cardinality" -> Profiler.highCardinality(input),
    "duplicates" -> Profiler.duplicateSummary(input))

  private def auditTables(cleaned: DataFrame): Seq[(String, DataFrame)] = Seq(
    "certify" -> FinalAudit.certify(cleaned, Rules),
    "null_audit" -> FinalAudit.nullAudit(cleaned, NullCols),
    "health" -> HealthScore.compute(cleaned, NullCols, Rules, DupKey,
      Outliers.detect(cleaned, OutlierSpecs).flagged))

  private def driftTables(input: DataFrame, cleaned: DataFrame): Seq[(String, DataFrame)] = {
    val (schema, numeric) = Drift.compare(input, cleaned)
    Seq("schema_drift" -> schema, "numeric_drift" -> numeric)
  }

  def run(spark: SparkSession, in: Gen.Inputs, out: String): Unit = {
    val input = spark.read.parquet(in.path("lineitem"))
    val result = ConfigPipeline.run(input, Yaml)
    Artifacts.write(spark, result, out, "qa")
    val cleaned = Artifacts.readCleaned(spark, out, "qa")
    Reports.writeBundle(spark, profileTables(input) ++ auditTables(cleaned) ++
      Seq("dictionary" -> DataDictionary.build(cleaned)) ++ driftTables(input, cleaned),
      out, "qa_reports")
    result.release()
  }

  def stepwise(spark: SparkSession, in: Gen.Inputs, out: String,
               tr: Tracer): Stepwise = {
    import Workloads.persisted
    val input = tr.span("scan")(persisted(tr, spark.read.parquet(in.path("lineitem"))))
    val spec = tr.timed("pipeline", "pipeline.compose_s")(ConfigPipeline.parse(Yaml))
    val (result, _, _) = Workloads.stagewise(tr, input, spec.stages, None, withReports = true)
    val cleaned = result.df
    def each(layer: String, ts: Seq[(String, DataFrame)]) =
      tr.span(layer)(ts.map { case (k, df) => k -> persisted(tr, df) })
    val tables = each("profile", profileTables(input)) ++ each("audit", auditTables(cleaned)) ++
      each("dict", Seq("dictionary" -> DataDictionary.build(cleaned))) ++
      each("drift", driftTables(input, cleaned))
    tr.span("pipeline") {
      Artifacts.write(spark, result, out, "qa")
      Reports.writeBundle(spark, tables, out, "qa_reports")
    }
    result.release()
    Stepwise(Nil, Map.empty)
  }

  def outputs(out: String): Seq[(String, String)] = {
    val base = Artifacts.bundleDir(out, "qa")
    val reports = Option(new File(s"$base/reports").listFiles()).toSeq.flatten
      .map(_.getName).sorted
    ("cleaned" -> s"$base/cleaned") +: reports.map(r => s"report:$r" -> s"$base/reports/$r") ++:
      ReportNames.map(r => r -> s"${Artifacts.bundleDir(out, "qa_reports")}/reports/$r")
  }

  def rowsInOut(spark: SparkSession, in: Gen.Inputs, out: String): (Long, Long) =
    (in.rows, Artifacts.readCleaned(spark, out, "qa").count())
}

/** The YAML curation chain over a seeded corpus: sharded output written,
  * then the embedding geometry of what was written audited per shard. */
object CurationBatch extends Workload {
  val name = "curation_batch"

  def yaml(benchPath: String, refPath: String): String = s"""
    |run_id: curation_batch
    |stages:
    |  - module: text_filter
    |    text_column: text
    |    min_quality: 0.5
    |    languages: [en]
    |  - module: mojibake_filter
    |    text_column: text
    |    id_column: doc_id
    |  - module: gopher_filter
    |    text_column: text
    |    id_column: doc_id
    |    min_words: 20
    |  - module: pii_redact
    |    text_column: text
    |  - module: exact_dedup
    |    text_column: text
    |    id_column: doc_id
    |  - module: near_dedup
    |    text_column: text
    |    id_column: doc_id
    |    threshold: 0.7
    |  - module: lm_filter
    |    text_column: text
    |    id_column: doc_id
    |    ref_path: "$refPath"
    |    min_logprob: -6.5
    |  - module: decontaminate
    |    text_column: text
    |    id_column: doc_id
    |    bench_path: "$benchPath"
    |    ngram: 8
    |  - module: chunking
    |    text_column: text
    |    id_column: doc_id
    |    max_tokens: 64
    |    overlap: 8
    |  - module: shard_assign
    |    key_column: doc_id
    |    n_shards: 8
    |""".stripMargin

  private val TextGates = Set("text_filter", "mojibake_filter", "gopher_filter",
    "lm_filter", "decontaminate")

  def generate(spark: SparkSession, seed: Long, dir: String): Gen.Inputs =
    Gen.curationBatch(spark, seed, dir)

  def setup(spark: SparkSession, in: Gen.Inputs): Unit =
    Seq("corpus", "bench", "lm_ref").foreach { t =>
      val n = spark.read.parquet(in.path(t)).count()
      val want = in.tables.find(_.name == t).get.rows
      require(n == want, s"$t has $n rows, generator wrote $want")
    }

  private def writeShards(result: Pipeline.Result, out: String): Unit =
    result.df.write.mode("overwrite").partitionBy("shard").parquet(s"$out/shards")

  private def centroids(spark: SparkSession, out: String): DataFrame =
    EmbeddingStats.centroids(spark.read.parquet(s"$out/shards"), "shard", "embedding")

  private def writeAudit(spark: SparkSession, table: DataFrame, out: String): Unit =
    Reports.writeBundle(spark, Seq("embedding_centroids" -> table), out, "curation_audit")

  def run(spark: SparkSession, in: Gen.Inputs, out: String): Unit = {
    val docs = spark.read.parquet(in.path("corpus"))
    val result = ConfigPipeline.run(docs, yaml(in.path("bench"), in.path("lm_ref")))
    writeShards(result, out)
    result.release()
    writeAudit(spark, centroids(spark, out), out)
  }

  def stepwise(spark: SparkSession, in: Gen.Inputs, out: String,
               tr: Tracer): Stepwise = {
    import Workloads.persisted
    val docs = tr.span("scan")(persisted(tr, spark.read.parquet(in.path("corpus"))))
    val spec = tr.timed("pipeline", "pipeline.compose_s")(
      ConfigPipeline.parse(yaml(in.path("bench"), in.path("lm_ref"))))
    val (result, counts, frames) = Workloads.stagewise(tr, docs, spec.stages, Some("doc_id"),
      withReports = false)
    tr.span("pipeline")(writeShards(result, out))
    val audit = tr.span("sim")(persisted(tr, centroids(spark, out)))
    tr.span("pipeline")(writeAudit(spark, audit, out))
    val ex = tr.span("check") {
      val names = spec.stages.map(_.name)
      val inputs = docs +: frames
      val nd = names.indexOf("near_dedup")
      val ndIn = inputs(nd).select("doc_id", "text")
      val ndOut = frames(nd).select("doc_id")
      val labels = spark.read.parquet(in.path("labels")).filter(col("kind") === "near")
      val present = ndIn.select("doc_id")
      // a planted copy counts when it and its original both reach the stage
      val positives = labels.join(present, Seq("doc_id"))
        .join(present.withColumnRenamed("doc_id", "orig"), Seq("orig")).select("doc_id")
      val dropped = present.join(ndOut, Seq("doc_id"), "left_anti")
      val hit = dropped.join(positives, Seq("doc_id")).count()
      val keep = counts.filter(c => TextGates(c.stage))
        .map(c => Workloads.ratio(c.kept, c.input)).product
      Map(
        "dedup.near.pairs" -> MinHash.nearDuplicatePairs(ndIn, "text", "doc_id").count().toDouble,
        "dedup.near.recall" -> Workloads.ratio(hit, positives.count()),
        "dedup.near.precision" -> Workloads.ratio(hit, dropped.count()),
        "text.keep_frac" -> keep)
    }
    result.release()
    Stepwise(counts, ex)
  }

  def outputs(out: String): Seq[(String, String)] = Seq("shards" -> s"$out/shards",
    "embedding_centroids" ->
      s"${Artifacts.bundleDir(out, "curation_audit")}/reports/embedding_centroids")

  def rowsInOut(spark: SparkSession, in: Gen.Inputs, out: String): (Long, Long) =
    (in.rows, spark.read.parquet(s"$out/shards").select("doc_id").distinct().count())
}
