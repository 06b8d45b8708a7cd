package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each registered query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * Usage: `runMain graft.Verify <sfDir> <outDir> [q1,q2,...]`; the optional
  * comma-separated name list narrows a local gate run (the driver always
  * passes two args → full registry). SPARK_GRAFT_MASTER=local-cluster[...]
  * runs the gate under real executor JVMs (see [[Session]]). */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val queries = SparkEntry.select(
      if (args.length > 2) args(2).split(',').map(_.trim).toSeq else Nil)
    val spark = Session.build(4)
    new java.io.File(outDir).mkdirs()
    queries.foreach { q =>
      try q.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
      // index/LM builders cache per invocation; queries share no cached
      // state, so dropping it between queries bounds storage memory
      spark.sharedState.cacheManager.clearCache()
    }
    val json = queries.flatMap(q => q.oracle.map(o => s"${Bench.str(q.name)}: ${Bench.str(o)}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
