package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.io.Source

/** The machine's state around a measurement: load, CPU steal, and one
  * fixed control query, so two runs can be told apart by their weather
  * before their numbers are compared. */
object Weather {

  private def read(path: String): String = {
    val s = Source.fromFile(path)
    try s.mkString finally s.close()
  }

  def loadavg(): Seq[Double] =
    try read("/proc/loadavg").trim.split("\\s+").take(3).map(_.toDouble).toSeq
    catch { case _: Exception => Nil }

  /** Cumulative steal ticks over all CPUs (the 8th value of `cpu`). */
  def stealTicks(): Long =
    try read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+")(8).toLong).getOrElse(-1L)
    catch { case _: Exception => -1L }

  /** Peak resident set of this JVM, in MB (VmHWM). */
  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))

  /** Median seconds of a constant hash aggregate over `spark.range`,
    * after one untimed warm-up. */
  def controlProbe(spark: SparkSession, reps: Int = 3): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 4000000L, 1L, spark.sparkContext.defaultParallelism)
        .groupBy(pmod(col("id"), lit(1024L)).as("g"))
        .agg(sum(pmod(xxhash64(col("id")), lit(1000L))).as("s"))
        .agg(sum(col("s"))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Stats.median((1 to reps).map(_ => once()))
  }

  def stamp(spark: SparkSession, probeS: Double, loadBefore: Seq[Double],
            stealBefore: Long): Map[String, Any] = Map(
    "loadavg_before" -> loadBefore,
    "loadavg_after" -> loadavg(),
    "steal_ticks" -> (stealTicks() - stealBefore),
    "control_probe_s" -> probeS,
    "cores" -> Runtime.getRuntime.availableProcessors(),
    "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
    "spark" -> spark.version)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
