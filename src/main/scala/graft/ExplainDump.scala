package graft

import java.nio.file.{Files, Paths}

/** Dev tool: dump `.explain("formatted")` for the named queries into
  * `<outDir>/<query>_<tag>.txt` — the plan-evidence artifacts the
  * optimization rounds commit under plans/rNN/. Not part of the driver
  * contract. Usage:
  *   runMain graft.ExplainDump <sfDir> <outDir> <tag> <query> [query...]
  * `<tag>` is typically `before` or `after`. Pass `all` as the only query
  * name to dump the full registry. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: ExplainDump <sfDir> <outDir> <tag> <query>...")
    val sfDir = args(0); val outDir = args(1); val tag = args(2)
    val names = args.drop(3).toSeq
    val picked = SparkEntry.select(if (names == Seq("all")) Nil else names)
    val spark = Session.build(4)
    new java.io.File(outDir).mkdirs()
    picked.foreach { q =>
      // queryExecution.explainString builds the physical plan without
      // running the query — index/write side effects inside q.run still
      // execute (they are eager), so plans here match what Bench times.
      val df = q.run(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${q.name}_$tag.txt"), txt)
      spark.sharedState.cacheManager.clearCache()
      System.err.println(s"[explain] ${q.name} -> ${q.name}_$tag.txt")
    }
    spark.stop()
  }
}
