package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Shuffle-determinism gate for the rows-only production lanes.
  *
  * The queries registered WITHOUT a DuckDB oracle are no-oracle by
  * structural design (xxhash64 lanes, seeded LSH planes, iterative fits,
  * zlib, eigensolves) — but every one IS deterministic given the plan.
  * This main runs each of them and emits an ORDER-INDEPENDENT result
  * fingerprint; the gate (tools/determinism.py) runs it twice — once
  * under `local[32]` and once under a deliberately different layout
  * (`local-cluster[2,8,24576]`, or a perturbed local master with small
  * `maxPartitionBytes` and a different shuffle fan-out) — and requires
  * bit-identical fingerprints, turning "returns rows" into "bit-stable
  * under shuffle/distribution" for exactly the set DuckDB cannot replay.
  *
  * Fingerprint: per row `xxhash64(to_json(struct(cols…)))` (binary
  * columns hex'd first — to_json would base64 them, also fine, but hex
  * keeps the probe readable), summed as DECIMAL(38,0) (order-independent,
  * overflow-free) plus the row count. Float columns ride Spark's own
  * double→JSON formatting — identical across two runs of the SAME engine
  * version, which is the claim under test (cross-ENGINE parity is the
  * oracle gate's job).
  *
  * `__nondet_probe` is a PLANTED nondeterministic query — the sum of
  * `monotonically_increasing_id()` over the documents scan, which
  * depends on the file-split layout. The gate REQUIRES it to mismatch:
  * a run where the probe agrees proves the two passes did not actually
  * differ in layout and the 38 green matches would be vacuous.
  *
  * Usage: `runMain graft.Determinism <sfDir> <out.json> [lane,...]`; a
  * named subset skips the probe.
  */
object Determinism {

  val ProbeName = "__nondet_probe"

  def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case org.apache.spark.sql.types.BinaryType => hex(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }
    val row = df.select(to_json(struct(cols.toIndexedSeq: _*)).as("_gf_row"))
    val agg = row.agg(
      count(lit(1)).as("n"),
      coalesce(sum(xxhash64(col("_gf_row")).cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")).as("fp"))
      .collect()(0)
    (agg.getLong(0), agg.getDecimal(1))
  }

  /** The rows-only lanes named in `names`, or all of them when `names` is
    * empty. Refuses unknown names and oracle-pinned ones: either would
    * drop out of the sweep and let a plain diff of two dumps pass on
    * nothing. */
  def lanes(names: Seq[String]): Seq[graft.queries.Q] = {
    val (rowsOnly, pinned) = SparkEntry.select(names).partition(_.oracle.isEmpty)
    require(names.isEmpty || pinned.isEmpty,
      s"oracle-pinned, not rows-only lanes: ${pinned.map(_.name).mkString(", ")}")
    rowsOnly
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outPath) = (args(0), args(1))
    val names = if (args.length > 2) args(2).split(',').map(_.trim).toSeq else Nil
    val rowsOnly = lanes(names)
    // The second pass perturbs the layout: a different shuffle fan-out
    // and smaller file splits.
    val spark = Session.build(4,
      sys.env.get("SPARK_GRAFT_SHUFFLE").map("spark.sql.shuffle.partitions" -> _).toSeq ++
        sys.env.get("SPARK_GRAFT_MAX_PARTITION_BYTES")
          .map("spark.sql.files.maxPartitionBytes" -> _): _*)

    val results = scala.collection.mutable.LinkedHashMap[String, String]()
    rowsOnly.foreach { q =>
      try {
        val (n, fp) = fingerprint(q.run(spark, sfDir))
        results(q.name) = s"""{"rows": $n, "fp": "${fp.toPlainString}"}"""
      } catch { case e: Throwable =>
        System.err.println(s"[determinism] ${q.name} failed: ${e.getMessage}")
        results(q.name) = s"""{"error": true}"""
      }
      spark.sharedState.cacheManager.clearCache()
    }
    if (names.isEmpty) {
      // layout probe: sensitive to BOTH the file-split layout
      // (monotonically_increasing_id encodes the input partition) and the
      // shuffle fan-out (spark_partition_id after a keyed aggregation
      // encodes the reducer layout) — small inputs may split identically
      // under both passes, but a different spark.sql.shuffle.partitions
      // always moves the reducer ids
      val docs = Tables.documents(spark, sfDir)
      val mid = docs.select(monotonically_increasing_id().as("_gf_mid"))
        .agg(sum(col("_gf_mid")).as("s_mid"))
      // explicit numPartitions: AQE would otherwise coalesce both passes
      // to the same tiny fan-out on gate-scale inputs and mask the
      // config difference the probe exists to sense
      val fanout = spark.sessionState.conf.numShufflePartitions
      val pid = docs.repartition(fanout, col("doc_id"))
        .select((spark_partition_id().cast("long") * col("doc_id")).as("_gf_p"))
        .agg(sum(col("_gf_p")).as("s_pid"))
      val probe = mid.crossJoin(pid)
      val (n, fp) = fingerprint(probe)
      results(ProbeName) = s"""{"rows": $n, "fp": "${fp.toPlainString}"}"""
    }
    val json = results.map { case (k, v) => s""""$k": $v""" }
      .mkString("{", ",\n ", "}")
    Files.writeString(Paths.get(outPath), json)
    println(s"[determinism] ${results.size} fingerprints -> $outPath")
    spark.stop()
  }
}
