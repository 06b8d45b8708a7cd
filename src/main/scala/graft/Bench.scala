package graft

import graft.queries.Q
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main — one JSON line with per-query seconds:
  * `runMain graft.Bench [query ...]` (no names = the whole registry).
  *
  * Measurement discipline (single cold runs were observed up to 14× apart
  * on identical code):
  *  - fixed query order (registration order, or the order named)
  *  - one untimed warm-up run per query (JIT, codegen cache, parquet
  *    footers) in the session that times it
  *  - MINIMUM of `SPARK_GRAFT_BENCH_ITERS` (default 3) timed runs per
  *    query, +2 extra samples for sub-second queries: timing noise (GC,
  *    scheduler, JIT recompilation) is one-sided additive, so the min is
  *    the standard steady-state estimator and is far more stable across
  *    JVMs than a median
  *  - System.gc() before the timed runs so one query's garbage debt
  *    doesn't bill the next one's samples
  *  - materialization via `queryExecution.toRdd.count()`, which evaluates
  *    every output column — a plain `df.count()` lets Catalyst prune the
  *    computed columns and undertimes expression-heavy queries.
  *
  * A query that throws is listed under `failed` (name → error class) and
  * the main exits 1 after writing its artifacts; a query that leaves a
  * cached relation behind is listed under `leaked` (by name in the detail
  * line and `bench_detail.json`, as a count in the compact last line).
  *
  * This object also owns the measurement helpers the other mains share:
  * the warm-then-min timer ([[warmMin]]) and the artifact writer ([[str]],
  * [[num]], [[obj]], [[weather]], [[write]]).
  */
object Bench {

  /** JSON string literal. Escapes quote, backslash and ALL control chars:
    * a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Fixed-point JSON number, `null` for NaN. Locale.ROOT: `%.3f` under a
    * comma-decimal default locale would emit 0,123 and break the JSON. */
  def num(v: Double, digits: Int = 3): String =
    if (v.isNaN) "null"
    else String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  /** JSON object of already-rendered values. */
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  /** `/proc/loadavg` fields ("l1 l5 l15 running/total lastpid"), or none
    * when unreadable. */
  private def loadavg(): Array[String] = try {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split("\\s+") finally src.close()
  } catch { case _: Exception => Array.empty }

  private def l1(): Double = loadavg().headOption.map(_.toDouble).getOrElse(-1.0)

  /** The `load` weather stamp every artifact carries, so a reader
    * can separate code from climate without round-over-round archaeology.
    * A clean idle run has l1 well below the run's own CPU count and
    * procs_running in the low single digits. */
  def weather(extra: (String, String)*): String = {
    val p = loadavg()
    val load =
      if (p.length < 4) Nil
      else {
        val rt = p(3).split("/")
        Seq("l1" -> p(0), "l5" -> p(1), "l15" -> p(2),
          "procs_running" -> rt(0), "procs_total" -> rt(1))
      }
    obj(load ++ extra: _*)
  }

  /** Write one artifact line. */
  def write(path: String, line: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(line) finally w.close()
  }

  /** One timed run: seconds, output rows, and the frame (its executed
    * plan is final once counted). */
  final case class Run(sec: Double, rows: Long, df: DataFrame)

  /** The fastest timed run, every timed sample, and whether any run
    * (warm-up included) left a cached relation behind. */
  final case class Timing(best: Run, samples: Seq[Double], leaked: Boolean) {
    def med: Double = {
      val s = samples.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
  }

  /** Warm once untimed, then the minimum of `iters` timed runs (none when
    * the warm-up alone exceeds `cutoff`; +2 when `topUp` and the fastest
    * is sub-second). The clock covers building the frame, since eager
    * composition-time work is part of a query's cost. Every run clears
    * the cache first: a frame with an in-plan persist would otherwise
    * let later samples read sample 1's cache through plan-equality reuse
    * and report warm-cache numbers as the min. */
  def warmMin(spark: SparkSession, iters: Int, cutoff: Double = Double.PositiveInfinity,
      topUp: Boolean = false)(frame: => DataFrame): Timing = {
    val cache = spark.sharedState.cacheManager
    var leaked = false
    def run(): Run = {
      cache.clearCache()
      val t0 = System.nanoTime()
      val df = frame
      val rows = df.queryExecution.toRdd.count()
      val r = Run((System.nanoTime() - t0) / 1e9, rows, df)
      leaked ||= !cache.isEmpty
      r
    }
    val warm = run()
    System.gc()
    var runs = if (warm.sec > cutoff) Seq(warm) else (1 to iters).map(_ => run())
    if (topUp && runs.map(_.sec).min < 1.0) runs ++= (1 to 2).map(_ => run())
    cache.clearCache()
    Timing(runs.minBy(_.sec), runs.map(_.sec), leaked)
  }

  /** One query's bench row: min and median seconds and sample count
    * (-1, -1, 0 when it failed), the class of the error that failed it,
    * and whether it left a cached relation behind. */
  final case class Row(name: String, min: Double, med: Double, n: Int,
      error: Option[String], leaked: Boolean)

  def row(spark: SparkSession, q: Q, sfDir: String, iters: Int): Row =
    try {
      val t = warmMin(spark, iters, topUp = true)(q.run(spark, sfDir))
      Row(q.name, t.best.sec, t.med, t.samples.size, None, t.leaked)
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] ${q.name} FAILED: $e")
        val cache = spark.sharedState.cacheManager
        val leaked = !cache.isEmpty
        cache.clearCache()
        Row(q.name, -1, -1, 0, Some(e.getClass.getName), leaked)
    }

  /** The `"failed":{name: error class},"leaked":[name, …]` fields, or
    * with `leakedNames = false` just the count, `"leaked":n`. */
  def outcomes(rows: Seq[Row], leakedNames: Boolean = true): String = {
    val leaked = rows.filter(_.leaked).map(r => str(r.name))
    "\"failed\":" + obj(rows.flatMap(r => r.error.map(e => r.name -> str(e))): _*) +
      ",\"leaked\":" + (if (leakedNames) leaked.mkString("[", ",", "]") else leaked.size)
  }

  /** Quiet-load gate (the r11 lesson: a bench taken at l1 = 9.8 needed
    * load-adjustment archaeology to compare across rounds). Wait for the
    * 1-minute loadavg to drop below `SPARK_GRAFT_BENCH_MAXLOAD`
    * (default 2.0; 0 disables) for up to `SPARK_GRAFT_BENCH_WAIT_S`
    * (default 600 s), then RUN REGARDLESS — a missing BENCH artifact is
    * worse than a weather-stamped one — and return (pre-run l1, whether
    * the gate was satisfied) for the detail line. */
  private def quietGate(): (Double, Boolean) = {
    val maxLoad = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAXLOAD", "2.0").toDouble
    val waitS = sys.env.getOrElse("SPARK_GRAFT_BENCH_WAIT_S", "600").toLong
    if (maxLoad <= 0) return (l1(), true)
    val deadline = System.nanoTime() + waitS * 1000000000L
    var cur = l1()
    while (cur > maxLoad && System.nanoTime() < deadline) {
      System.err.println(
        f"[bench] ambient l1 = $cur%.2f > $maxLoad%.1f — waiting for quiet " +
          "(SPARK_GRAFT_BENCH_MAXLOAD=0 disables)")
      Thread.sleep(30000)
      cur = l1()
    }
    if (cur > maxLoad) System.err.println(
      f"[bench] still loud after ${waitS}s (l1 = $cur%.2f) — running anyway; " +
        "numbers carry weather (min-of-N damps it; see load in the detail line)")
    (cur, cur <= maxLoad)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val queries = SparkEntry.select(args.toSeq)
    val (preL1, quiet) = quietGate()
    // SPARK_GRAFT_BENCH_RESTART_EVERY = N > 0 stops and rebuilds the
    // SparkSession every N timed queries — the marathon-hygiene lever:
    // a full-registry run accumulates session state (shuffle files on
    // /tmp evicting parquet pages, listener/broadcast debt) that taxes
    // LATE-order queries; isolated re-runs land faster than their
    // in-marathon numbers (measured r12, see SCALING.md). Restarting
    // trades ~5 s per restart for position-independent numbers.
    // Default 16 since r13: the restart lane is the canonical series
    // (the r12 marathon headline carried 15% session-aging inflation and
    // 4.3× on the worst key; set 0 to reproduce the old marathon lane).
    val restartEvery =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RESTART_EVERY", "16").toInt
    var spark = Session.build(4)
    val rows = queries.zipWithIndex.map { case (q, i) =>
      if (restartEvery > 0 && i > 0 && i % restartEvery == 0) {
        spark.stop()
        spark = Session.build(4)
      }
      val r = row(spark, q, sfDir, iters)
      if (r.error.isEmpty) System.err.println(s"[bench] ${r.name} ${num(r.min)} s (min of ${r.n})")
      r
    }
    spark.stop()
    val total = rows.map(_.min).filter(_ >= 0).sum
    // The harness that reads this output keeps only the TAIL of stdout
    // (observed: last 2000 chars) and parses the JSON line out of that
    // window — a long line whose head falls outside the window is
    // unparseable. So: (1) full-precision detail on its own line first
    // (for humans; its head may be cut, which is fine), then (2) a
    // compact 3-decimal line LAST, hard-capped at 1900 chars by keeping
    // the slowest queries if the full map ever outgrows the budget
    // (JSON maps are order-insensitive); it counts the leaked queries
    // instead of naming them, which leaves room for more query times.
    // build.sbt sets showSuccess := false so this really is the final
    // line of stdout.
    def fmt(v: Double): String = if (v < 0) "-1" else num(v)
    def line(entries: Seq[Row]): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${
        obj(entries.map(r => r.name -> fmt(r.min)): _*)},${outcomes(rows, leakedNames = false)},"sf":${str(sfDir)}}"""
    // Detail entries carry the variance column: {"min":…,"med":…,"n":…}.
    // A med/min ratio near 1 says the machine was quiet, a large one says
    // the absolute numbers carry weather.
    val detail = obj(rows.map(r => r.name -> s"""{"min":${r.min},"med":${r.med},"n":${r.n}}"""): _*)
    val load = weather("bench_cpus" -> Session.cpus(4), "pre_l1" -> preL1.toString,
      "quiet_gate" -> quiet.toString, "restart_every" -> restartEvery.toString)
    val detailLine =
      s"""{"metric":"total_detail","value":$total,"unit":"sec","load":$load,"queries":$detail,${outcomes(rows)},"sf":${str(sfDir)}}"""
    println(detailLine)
    // Also persist the COMPLETE per-query map as a file artifact: the
    // capped stdout line below drops the fastest queries once the
    // registry outgrows its 1900-char budget.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "bench_detail.json")
    try write(detailPath, detailLine)
    catch { case e: Exception => System.err.println(s"[bench] detail artifact write failed: $e") }
    val full = line(rows)
    println(
      if (full.length <= 1900) full
      else {
        var budget = 1900 - line(Nil).length
        val kept = rows.sortBy(-_.min).takeWhile { r =>
          budget -= r.name.length + fmt(r.min).length + 4
          budget >= 0
        }.map(_.name).toSet
        line(rows.filter(r => kept(r.name)))
      })
    if (rows.exists(_.error.nonEmpty)) sys.exit(1)
  }
}
