package graftbench

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One call into a graft layer made by the benchmark. Times are epoch
  * nanoseconds; `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      start: Long, end: Long)

object Intervals {
  /** Length of the union of `ivs`, each clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = 0L
    var curB = 0L
    var open = false
    clipped.foreach { case (a, b) =>
      if (open && a <= curB) curB = math.max(curB, b)
      else {
        if (open) total += curB - curA
        curA = a; curB = b; open = true
      }
    }
    if (open) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover. */
  def selfTime(s: Span, children: Seq[Span]): Long =
    (s.end - s.start) - covered(children.map(c => (c.start, c.end)), s.start, s.end)
}

/** Attributes Spark jobs, and through their stages every task, to the span
  * that was open when the job was submitted. The span id travels as a
  * local property, which Spark copies into every job's properties. */
final class LayerListener extends SparkListener {
  import LayerListener._

  val jobs = mutable.ArrayBuffer.empty[Job]
  val tasks = mutable.ArrayBuffer.empty[Task]
  private val stageSpan = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    jobs += Job(e.jobId, span, e.time * 1000000L, e.time * 1000000L)
    e.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time * 1000000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(stageSpan.getOrElse(e.stageId, -1),
      m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
  }
}

object LayerListener {
  final case class Job(id: Int, span: Int, start: Long, var end: Long)
  final case class Task(span: Int, runMs: Long, shuffleWrite: Long,
                        spill: Long, inputBytes: Long, outputBytes: Long)
}

/** Per-layer totals over a traced run. `readMb` counts every byte the
  * layer's tasks read, from files and from materialized blocks alike. */
final case class LayerStats(wallS: Double, taskS: Double, jobs: Int,
                            driverS: Double, shuffleMb: Double, spillMb: Double,
                            rowsOut: Long, skew: Double, readMb: Double)

/** In-memory span recorder for one traced run. Spans are opened around
  * benchmark calls into graft; nothing inside graft is instrumented. */
final class Tracer(spark: SparkSession, val runId: String) {
  private val sc = spark.sparkContext
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def now(): Long = System.nanoTime() + offset
  private val closed = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String, Int, Long)]
  private var nextId = 0
  private val rows = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  val listener = new LayerListener
  sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack = (id, name, parent, now()) :: stack
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    try body
    finally {
      val (_, _, _, start) = stack.head
      closed += Span(id, name, parent, runId, start, now())
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanKey, prev)
    }
  }

  /** Records `n` output rows on the innermost open span. */
  def rowsOut(n: Long): Unit = stack.headOption.foreach(s => rows(s._1) += n)

  /** Waits for every listener event, then detaches the listener. */
  def close(): Unit = {
    ListenerDrain.drain(sc)
    sc.removeSparkListener(listener)
  }

  def spans: Seq[Span] = closed.sortBy(_.id).toSeq
  def rowsOf(spanId: Int): Long = rows(spanId)

  /** Named totals the benchmark adds up beside the spans. */
  val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  /** Runs `body` inside a span and adds its duration to `counter`. */
  def timed[T](name: String, counter: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try span(name)(body) finally counters(counter) += (System.nanoTime() - t0) / 1e9
  }

  /** Aggregates spans, jobs and tasks by layer name, for the names in
    * `layers`; spans of other names (the run root, checks) only take
    * their children's time out of nothing. */
  def layerStats(layers: Seq[String]): Map[String, LayerStats] = {
    val all = spans
    val children = all.groupBy(_.parent)
    val jobsBySpan = listener.synchronized(listener.jobs.toSeq).groupBy(_.span)
    val tasksBySpan = listener.synchronized(listener.tasks.toSeq).groupBy(_.span)
    layers.map { layer =>
      val mine = all.filter(_.name == layer)
      var self = 0L
      var driver = 0L
      mine.foreach { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
        val jobIvs = jobsBySpan.getOrElse(s.id, Nil).map(j => (j.start, j.end))
        val dur = s.end - s.start
        self += dur - Intervals.covered(kids, s.start, s.end)
        driver += dur - Intervals.covered(kids ++ jobIvs, s.start, s.end)
      }
      val ids = mine.map(_.id).toSet
      val ts = ids.toSeq.flatMap(i => tasksBySpan.getOrElse(i, Nil))
      val nJobs = ids.toSeq.map(i => jobsBySpan.getOrElse(i, Nil).size).sum
      val runs = ts.map(_.runMs).sorted
      val skew =
        if (runs.isEmpty) 0.0
        else runs.last.toDouble / math.max(1L, runs(runs.size / 2)).toDouble
      layer -> LayerStats(
        wallS = self / 1e9,
        taskS = runs.sum / 1e3,
        jobs = nJobs,
        driverS = driver / 1e9,
        shuffleMb = ts.map(_.shuffleWrite).sum / 1e6,
        spillMb = ts.map(_.spill).sum / 1e6,
        rowsOut = ids.toSeq.map(rows).sum,
        skew = skew,
        readMb = ts.map(_.inputBytes).sum / 1e6)
    }.toMap
  }

  /** Bytes the traced run's tasks wrote to files. */
  def writtenBytes: Long = listener.synchronized {
    listener.tasks.filter(_.span >= 0).map(_.outputBytes).sum
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
}
