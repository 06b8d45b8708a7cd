package graftbench

import org.apache.spark.sql.SparkSession

import java.io.{File, PrintWriter}
import scala.collection.mutable

/** Benchmark driver for one workload in one JVM:
  *
  * {{{
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                   --work <dir> --result <file>
  * }}}
  *
  * Closed loop with one client: the next run starts only after the
  * previous run's outputs are written. The order is generate (untimed),
  * set-up [[Setups]] times, one cold run, then warm runs until `--seconds`
  * have passed. With `--trace 1` one stepwise run of the same work follows
  * under a [[Tracer]]; it must reproduce the warm runs' output
  * fingerprints and per-stage accounting, and its spans give the
  * per-layer metrics. The result, with
  * every fingerprint, the weather stamp and the inputs' description, is
  * written as JSON to `--result`; `run.py` turns it into the one-line
  * contract output. */
object Main {

  val Layers: Seq[String] = Seq("scan", "profile", "quality", "normalize", "dedup",
    "outliers", "impute", "audit", "dict", "drift", "text", "sim", "ops", "pipeline")

  /** Layer metric suffixes; every layer reports all of them. */
  val LayerMetrics: Seq[(String, String)] = Seq("wall_s" -> "s", "task_s" -> "s",
    "jobs" -> "count", "driver_s" -> "s", "shuffle_mb" -> "MB", "spill_mb" -> "MB",
    "rows_out" -> "rows")

  /** Extra per-layer metrics, with units. */
  val ExtraMetrics: Seq[(String, String)] = Seq(
    "scan.read_mb" -> "MB", "profile.skew" -> "ratio", "text.skew" -> "ratio",
    "dedup.skew" -> "ratio", "dedup.near.pairs" -> "count",
    "dedup.near.recall" -> "ratio", "dedup.near.precision" -> "ratio",
    "pipeline.compose_s" -> "s", "pipeline.write_mb" -> "MB", "text.keep_frac" -> "ratio",
    "trace.overhead_s" -> "s")

  val EndToEnd: Seq[(String, String)] = Seq("run_s" -> "s", "rows_per_s" -> "rows/s",
    "first_run_s" -> "s", "setup_s" -> "s", "peak_rss_mb" -> "MB")

  /** Set-ups per invocation; `setup_s` is their median. */
  val Setups = 3

  final case class Opts(workload: String = "", seed: Long = 42L, seconds: Double = 10,
                        trace: Boolean = false, work: String = "", result: String = "")

  def parse(args: Seq[String], o: Opts = Opts()): Opts = args match {
    case Seq() =>
      require(o.workload.nonEmpty && o.work.nonEmpty && o.result.nonEmpty,
        "need --workload, --work and --result")
      o
    case "--workload" +: v +: rest => parse(rest, o.copy(workload = v))
    case "--seed" +: v +: rest => parse(rest, o.copy(seed = v.toLong))
    case "--seconds" +: v +: rest => parse(rest, o.copy(seconds = v.toDouble))
    case "--trace" +: v +: rest => parse(rest, o.copy(trace = v == "1"))
    case "--work" +: v +: rest => parse(rest, o.copy(work = v))
    case "--result" +: v +: rest => parse(rest, o.copy(result = v))
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  def session(cores: Int, work: String): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("graftbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.host", "localhost")
    .config("spark.driver.bindAddress", "127.0.0.1")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()

  private def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toSeq)
    val wl = Workloads.byName(o.workload)
    val work = new File(o.work).getAbsolutePath
    Workloads.deleteTree(work)
    new File(work).mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()
    val (spark, sessionS) = seconds(session(cores, work))
    spark.sparkContext.setLogLevel("WARN")
    try {
      val (in, genS) = seconds(wl.generate(spark, o.seed, s"$work/inputs"))
      val loadBefore = Weather.loadavg()
      val stealBefore = Weather.stealTicks()
      val setupTimes = (1 to Setups).map { _ =>
        val (_, t) = seconds(wl.setup(spark, in))
        spark.catalog.clearCache()
        t
      }
      val probeS = Weather.controlProbe(spark)

      var attempted = 0
      val failures = mutable.ArrayBuffer.empty[(String, String)]
      var reference: Option[Seq[(String, String)]] = None
      def fail(kind: String, detail: String): Unit = {
        failures += kind -> detail
        System.err.println(s"graftbench: ${wl.name}: $kind: $detail")
      }
      def fingerprints(out: String) =
        Check.fingerprints(wl.outputs(out).map { case (n, p) => n -> spark.read.parquet(p) })
      var checkS = 0.0
      /** Compares with the first sample's fingerprints; the first sample
        * sets them. */
      def checkOutputs(out: String): Unit = {
        val (fps, fs) = seconds(fingerprints(out))
        checkS += fs
        reference match {
          case None => reference = Some(fps)
          case Some(ref) if ref != fps =>
            fail("FingerprintMismatch", ref.zip(fps).filter(p => p._1 != p._2)
              .map { case ((n, a), (_, b)) => s"$n $a != $b" }.mkString("; ") +
              (if (ref.size != fps.size) s" (${ref.size} vs ${fps.size} tables)" else ""))
          case _ =>
        }
        val (rin, rout) = wl.rowsInOut(spark, in, out)
        if (rout > rin) fail("InvariantViolation", s"$rout rows out > $rin rows in")
      }
      /** One timed run; a run that threw has no time. */
      def sample(): Option[Double] = {
        attempted += 1
        val out = s"$work/out"
        Workloads.deleteTree(out)
        val before = failures.size
        val t = try {
          val (_, t) = seconds(wl.run(spark, in, out))
          Some(t)
        } catch {
          case e: Exception => fail(e.getClass.getName, String.valueOf(e.getMessage)); None
        } finally spark.catalog.clearCache()
        t.foreach(x => System.err.println(f"graftbench: ${wl.name}: run $attempted: $x%.3f s"))
        if (t.isDefined && failures.size == before)
          try checkOutputs(out)
          catch { case e: Exception => fail(e.getClass.getName, String.valueOf(e.getMessage)) }
        t
      }

      val first = sample()
      val warm = mutable.ArrayBuffer.empty[Double]
      val loopStart = System.nanoTime()
      while (warm.isEmpty || (System.nanoTime() - loopStart) / 1e9 < o.seconds)
        sample() match {
          case Some(t) => warm += t
          case None => if (warm.isEmpty && attempted > 3) throw new IllegalStateException(
            s"${wl.name}: no run succeeded")
        }
      val runS = Stats.median(warm.toSeq)

      // traced run: the same work one layer call at a time, which must
      // reproduce the warm runs' fingerprints
      val traced = if (!o.trace) None else Some {
        attempted += 1
        val outS = s"$work/out_stepwise"
        Workloads.deleteTree(outS)
        val tr = new Tracer(spark, s"${wl.name}-${o.seed}")
        val (sw, tracedS) = seconds(tr.span("run")(wl.stepwise(spark, in, outS, tr)))
        tr.close()
        spark.catalog.clearCache()
        val stepFps = fingerprints(outS)
        if (reference.exists(_ != stepFps)) fail("StepwiseMismatch",
          reference.get.zip(stepFps).filter(p => p._1 != p._2)
            .map { case ((n, a), (_, b)) => s"$n fused $a != stepwise $b" }.mkString("; "))
        sw.stages.foreach { c =>
          if (c.kept + c.dropped != c.input) fail("StageAccounting",
            s"${c.stage}: kept ${c.kept} + dropped ${c.dropped} != input ${c.input}")
        }
        (tr, sw, tracedS)
      }

      val weather = Weather.stamp(spark, probeS, loadBefore, stealBefore)
      val endToEnd: Map[String, Double] = Map(
        "run_s" -> runS,
        "rows_per_s" -> in.rows / runS,
        "first_run_s" -> first.getOrElse(Double.NaN),
        "setup_s" -> Stats.median(setupTimes),
        "peak_rss_mb" -> Weather.peakRssMb())
      val perLayer: Map[String, Double] = traced.map { case (tr, sw, tracedS) =>
        layerMetrics(tr, sw, tracedS, runS, o.result, wl.name, o.seed)
      }.getOrElse(Map.empty)

      val result = Map[String, Any](
        "workload" -> wl.name, "seed" -> o.seed, "trace" -> o.trace,
        "attempted" -> attempted, "failed" -> failures.size,
        "failures" -> failures.map { case (k, d) => Map("workload" -> wl.name, "error" -> k, "detail" -> d) }.toSeq,
        "samples" -> warm.size, "warm_run_s" -> warm.toSeq, "setup_runs_s" -> setupTimes,
        "session_s" -> sessionS, "generate_s" -> genS, "traced_s" -> traced.map(_._3), "check_s" -> checkS,
        "fingerprints" -> reference.getOrElse(Nil).toMap,
        "stages" -> traced.toSeq.flatMap(_._2.stages).map(c => Map("stage" -> c.stage, "input" -> c.input,
          "kept" -> c.kept, "dropped" -> c.dropped)),
        "inputs" -> Map("rows" -> in.rows, "bytes" -> in.bytes, "sha256" -> in.digest,
          "rates" -> in.rates.toMap,
          "tables" -> in.tables.map(t => Map("name" -> t.name, "rows" -> t.rows, "bytes" -> t.bytes))),
        "weather" -> weather,
        "metrics" -> (if (o.trace) withUnits(perLayer, perLayerUnits) else withUnits(endToEnd, EndToEnd.toMap)))
      val pw = new PrintWriter(o.result, "UTF-8")
      try pw.println(Json(result)) finally pw.close()
    } finally spark.stop()
  }

  private def withUnits(m: Map[String, Double], units: Map[String, String]): Map[String, Any] =
    m.map { case (k, v) => k -> Map("value" -> v, "unit" -> units(k)) }

  val perLayerUnits: Map[String, String] =
    (for (l <- Layers; (s, u) <- LayerMetrics) yield s"$l.$s" -> u).toMap ++ ExtraMetrics.toMap

  /** Every declared per-layer metric from one traced run; a layer the
    * workload does not touch reads 0. Also prints the ranked layer table
    * and writes the spans file beside the result. */
  private def layerMetrics(tr: Tracer, sw: Stepwise, tracedS: Double, runS: Double,
                           result: String, workload: String, seed: Long): Map[String, Double] = {
    val stats = tr.layerStats(Layers)
    val spans = tr.spans
    val m = mutable.LinkedHashMap.empty[String, Double]
    Layers.foreach { l =>
      val s = stats(l)
      m ++= Seq(s"$l.wall_s" -> s.wallS, s"$l.task_s" -> s.taskS, s"$l.jobs" -> s.jobs.toDouble,
        s"$l.driver_s" -> s.driverS, s"$l.shuffle_mb" -> s.shuffleMb,
        s"$l.spill_mb" -> s.spillMb, s"$l.rows_out" -> s.rowsOut.toDouble)
    }
    m ++= Seq("scan.read_mb" -> stats("scan").readMb, "profile.skew" -> stats("profile").skew,
      "text.skew" -> stats("text").skew, "dedup.skew" -> stats("dedup").skew,
      "dedup.near.pairs" -> 0.0, "dedup.near.recall" -> 0.0, "dedup.near.precision" -> 0.0,
      "pipeline.compose_s" -> tr.counters("pipeline.compose_s"),
      "pipeline.write_mb" -> tr.writtenBytes / 1e6,
      "text.keep_frac" -> 0.0, "trace.overhead_s" -> (tracedS - runS))
    m ++= sw.extras

    val resDir = new File(result).getAbsoluteFile.getParentFile
    val spansFile = new File(resDir, s"spans-$workload-$seed.jsonl")
    val pw = new PrintWriter(spansFile, "UTF-8")
    try spans.foreach { s =>
      val kids = spans.filter(_.parent == s.id)
      pw.println(Json(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "run" -> s.runId, "start_ns" -> s.start, "end_ns" -> s.end,
        "self_ns" -> Intervals.selfTime(s, kids), "rows" -> tr.rowsOf(s.id))))
    } finally pw.close()

    println(f"traced run of $workload: ${tracedS}%.3f s, untraced run_s ${runS}%.3f s, " +
      f"overhead ${tracedS - runS}%.3f s; spans in $spansFile")
    println(f"${"layer"}%-10s ${"self_s"}%9s ${"of_run_s"}%9s ${"task_s"}%9s ${"jobs"}%5s " +
      f"${"driver_s"}%9s ${"shuffle_mb"}%10s ${"spill_mb"}%9s ${"rows_out"}%10s")
    Layers.map(l => l -> stats(l)).filter(_._2.wallS > 0).sortBy(-_._2.wallS).foreach {
      case (l, s) => println(f"$l%-10s ${s.wallS}%9.3f ${s.wallS / runS * 100}%8.1f%% " +
        f"${s.taskS}%9.3f ${s.jobs}%5d ${s.driverS}%9.3f ${s.shuffleMb}%10.2f " +
        f"${s.spillMb}%9.2f ${s.rowsOut}%10d")
    }
    m.toMap
  }
}

/** Minimal JSON encoder for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}: ${apply(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
