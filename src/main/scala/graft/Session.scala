package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory of the measurement mains.
  *
  * Master: `SPARK_GRAFT_MASTER`, else `local[cpus]` with cpus =
  * `SPARK_GRAFT_CPUS`, else the caller's default (4 for the registry
  * mains, 16 for the scale ladder). A `local-cluster[...]` master runs
  * under real executor JVMs (serialized closures, network shuffle); it
  * gets `SPARK_GRAFT_EXEC_MEM` (default 20g) per executor and ships
  * `SPARK_GRAFT_APP_JAR` (the `sbt package` jar) so the executors can
  * load the query classes — nothing may ride in-process references.
  * Spark's worker launcher also needs SPARK_SCALA_VERSION (2.13) set.
  *
  * Every session gets shuffle partitions = cpus, UTC, no UI, and
  * `inferTimestampNTZ=false`: the test parquet stamps timestamps
  * isAdjustedToUTC=false, and reading them as TIMESTAMP (not
  * TIMESTAMP_NTZ) makes µs arithmetic and the UTC-pinned DuckDB compare
  * see the values an adjusted-to-UTC file would give. It also reads
  * parquet TIMESTAMP(NANOS) as a long (`events.ts`, see
  * [[Tables.events]]); this is the one place that conf is set. `confs`
  * come last and override these defaults.
  *
  * Logs at ERROR: expected per-query WARNs (e.g. single-partition window
  * notes on distinct-value CDF scans) would otherwise flood the bounded
  * stdout tail the harness parses Bench's JSON line from.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, else `defaultCpus`. */
  def cpus(defaultCpus: Int): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)

  def build(defaultCpus: Int, confs: (String, String)*): SparkSession = {
    val n = cpus(defaultCpus)
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$n]")
    val cluster =
      if (!master.startsWith("local-cluster")) Nil
      else ("spark.executor.memory" -> sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "20g")) +:
        sys.env.get("SPARK_GRAFT_APP_JAR").map("spark.jars" -> _).toSeq
    val defaults = Seq(
      "spark.sql.shuffle.partitions" -> n,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false")
    val spark = (defaults ++ cluster ++ confs)
      .foldLeft(SparkSession.builder().master(master)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
