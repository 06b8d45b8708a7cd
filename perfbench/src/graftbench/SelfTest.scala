package graftbench

import org.apache.spark.sql.functions._

/** The benchmark's own checks, run by `perfbench/tests/test_bench.py`:
  *
  * {{{
  *   graftbench.SelfTest --work <dir>
  * }}}
  *
  * Prints one line per passed check and, last, a JSON list of every
  * metric name the benchmark can print; exits non-zero on the first
  * failed check. */
object SelfTest {

  private def check(name: String)(cond: Boolean): Unit = {
    if (!cond) throw new AssertionError(s"self-test failed: $name")
    println(s"ok  $name")
  }

  def main(args: Array[String]): Unit = {
    val work = args.toSeq match {
      case Seq("--work", w) => new java.io.File(w).getAbsolutePath
      case _ => throw new IllegalArgumentException("usage: SelfTest --work <dir>")
    }
    Workloads.deleteTree(work)
    intervals()
    val spark = Main.session(2, work)
    spark.sparkContext.setLogLevel("ERROR")
    try {
      // generator: one seed gives identical bytes, another seed other bytes
      val a = Gen.qaTabular(spark, 7L, s"$work/a")
      val b = Gen.qaTabular(spark, 7L, s"$work/b")
      val c = Gen.qaTabular(spark, 8L, s"$work/c")
      check("generator is byte-identical for one seed")(a.digest == b.digest && a.rows == b.rows)
      check("generator differs across seeds")(a.digest != c.digest)
      val d1 = Gen.curationBatch(spark, 7L, s"$work/d1")
      val d2 = Gen.curationBatch(spark, 7L, s"$work/d2")
      check("corpus generator is byte-identical for one seed")(d1.digest == d2.digest)

      // fingerprints: order-blind, value-sensitive
      val df = spark.read.parquet(a.path("lineitem"))
      val fp = Check.fingerprint(df)
      check("fingerprint ignores row order and partitioning")(
        fp == Check.fingerprint(df.repartition(7).orderBy(col("l_partkey").desc)))
      val perturbed = df.withColumn("l_extendedprice",
        when(col("l_orderkey") === 1L && col("l_linenumber") === 2,
          col("l_extendedprice") + 0.01).otherwise(col("l_extendedprice")))
      check("fingerprint catches one perturbed value")(fp != Check.fingerprint(perturbed))
      check("fingerprint catches one dropped row")(fp != Check.fingerprint(
        df.filter(!(col("l_orderkey") === 1L && col("l_linenumber") === 2))))

      // spans recorded by a live tracer: self = duration - child coverage
      val tr = new Tracer(spark, "selftest")
      tr.span("run") {
        tr.span("scan")(spark.range(1000).count())
        tr.span("dedup") {
          tr.span("pipeline")(Thread.sleep(20))
          spark.range(1000).distinct().count()
        }
      }
      tr.close()
      val spans = tr.spans
      val stats = tr.layerStats(Seq("scan", "dedup", "pipeline"))
      spans.foreach { s =>
        val kids = spans.filter(_.parent == s.id)
        val want = (s.end - s.start) - kids.map(k => k.end - k.start).sum
        check(s"span ${s.name}: self time is duration minus children")(
          Intervals.selfTime(s, kids) == want)
      }
      check("jobs are attributed to the span that submitted them")(
        stats("scan").jobs >= 1 && stats("dedup").jobs >= 1 && stats("pipeline").jobs == 0)
    } finally spark.stop()
    val names = Main.EndToEnd.map(_._1) ++ Main.perLayerUnits.keys.toSeq.sorted
    println(Json(names))
  }

  private def intervals(): Unit = {
    check("covered merges overlaps and clips to the window")(
      Intervals.covered(Seq((10L, 30L), (20L, 50L), (90L, 120L)), 0L, 100L) == 50L)
    check("covered of nothing is zero")(Intervals.covered(Nil, 0L, 100L) == 0L)
    val parent = Span(0, "dedup", -1, "r", 0L, 100L)
    val kids = Seq(Span(1, "pipeline", 0, "r", 10L, 30L), Span(2, "pipeline", 0, "r", 20L, 50L))
    check("self time subtracts the union of child intervals")(
      Intervals.selfTime(parent, kids) == 60L)
  }
}
