package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{AuditQueries, CoreQueries, CorpusQueries, DedupOutlierQueries, EvalQueries, GraphQueries, InferQueries, MixtureQueries, NearDupQueries, NormalizeQueries, OpsQueries, PipelineQueries, ProfileQueries, Q, SamplingQueries, TextQueries, ValidationQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Every registered operator query (SURVEY §2), in registration order. */
  def registry: Seq[Q] =
    CoreQueries.all ++ ProfileQueries.all ++ ValidationQueries.all ++
      NormalizeQueries.all ++ DedupOutlierQueries.all ++ AuditQueries.all ++
      TextQueries.all ++ NearDupQueries.all ++ PipelineQueries.all ++
      InferQueries.all ++ SamplingQueries.all ++ OpsQueries.all ++
      CorpusQueries.all ++ MixtureQueries.all ++ EvalQueries.all ++
      GraphQueries.all

  /** The registered queries named in `names`, in the given order, or the
    * whole registry when `names` is empty. Refuses names that are not
    * registered, listing each: a typo must not select nothing and then
    * compare as an identical, empty result. */
  def select(names: Seq[String]): Seq[Q] = {
    val regs = registry
    if (names.isEmpty) regs
    else {
      val byName = regs.map(q => q.name -> q).toMap
      val unknown = names.filterNot(byName.contains)
      require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
      names.distinct.map(byName)
    }
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
