package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import scala.collection.immutable.ListMap

import graft.text.TextAnalysis

/** Deterministic corpus sharding — the export shape a training run reads:
  * N reproducible, statistically balanced shards with a token-accounted
  * manifest. Shard assignment is a stateless multiplicative scatter of
  * the document id (Knuth's 2⁶⁴/φ-family constant, reduced by a prime),
  * NOT a round-robin or a sort: any worker can recompute any document's
  * shard with no coordination, appends land in the same shards, and the
  * assignment survives repartitioning — the properties that matter when
  * the writer is a 1000-executor job.
  *
  * The scatter is chosen to be exact in PLAIN 64-bit integer arithmetic
  * (id ≤ ~3.4e9 enforced, so id·M < 2⁶³ — no wraparound anywhere), which
  * makes it reproducible by ANY engine that can multiply integers — the
  * DuckDB oracle recomputes it verbatim. A same-engine-only hash (e.g.
  * xxhash64) would shard equally well but be unverifiable outside Spark.
  *
  * Write lifecycle follows the persisted-index discipline (the MANIFEST
  * CONTRACT of [[graft.Manifest]]): refusals before any write,
  * data first (partitioned BY SHARD, so a trainer reading shard k
  * partition-prunes to its own files), format-tagged manifest LAST as
  * the completeness marker, open-time validation against it.
  */
object Sharding {

  /** Knuth multiplicative constant (2³²·(√5−1)/2, odd). */
  val Mixer = 2654435761L
  /** Prime reducer — keeps consecutive ids scattered across shards. */
  val Modulus = 1000000007L
  /** Largest id for which id·Mixer stays inside a signed 64-bit long. */
  val MaxId: Long = Long.MaxValue / Mixer

  /** Shard of an id: ((id·M) mod P) mod n, exact in 64-bit arithmetic.
    * Out-of-range ids (negative, or large enough that the product would
    * wrap) fail loudly — a wrapped product would assign a silently
    * different shard than every other engine computes. */
  def shardId(id: Column, n: Int): Column = {
    require(n >= 1, s"shard count must be >= 1, got $n")
    val idL = id.cast(LongType)
    when(idL.isNull || idL < 0 || idL > MaxId,
      raise_error(concat(lit("graft: shardId precondition violated (id "),
        idL.cast("string"),
        lit(s") — need 0 <= id <= $MaxId so the scatter product is exact")))
        .cast(LongType))
      .otherwise(idL * lit(Mixer) % lit(Modulus) % lit(n.toLong))
      .cast("int")
  }

  /** The shard plan: one row per shard with document/token/char mass and
    * each shard's share of the total token budget — the frame a training
    * job sizes its readers from. ONE map-side-combined aggregation over
    * the corpus (token/char counts are codegen'd scan projections);
    * ≤ n rows ever shuffle. */
  def shardPlan(docs: DataFrame, idCol: String, textCol: String,
                n: Int): DataFrame =
    planFromSharded(
      docs.withColumn("shard", shardId(col(idCol), n)), textCol)

  /** The same plan over a frame that already carries its `shard` column
    * (e.g. a re-opened [[readShards]] export) — shared so the persisted
    * lifecycle is gate-checked against the SAME oracle as the direct
    * plan. */
  def planFromSharded(sharded: DataFrame, textCol: String): DataFrame = {
    val tot = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    sharded
      .select(col("shard"),
        TextAnalysis.tokenCount(col(textCol)).cast(LongType).as("_gf_t"),
        length(col(textCol)).cast(LongType).as("_gf_c"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("_gf_t").as("n_tokens"),
        sum("_gf_c").as("n_chars"))
      // share of total tokens: one division of two exact longs — the
      // balance number a reader-sizing loop actually uses
      .withColumn("token_share",
        graft.Num.dround(col("n_tokens").cast("double") /
          sum("n_tokens").over(tot).cast("double"), 6))
      .orderBy("shard")
  }

  /** Write the corpus into n shards at `path`: data partitioned by shard
    * (a trainer reading shard k partition-prunes to its own files), then
    * a format-tagged manifest with per-shard row/token mass, written
    * LAST as the completeness marker. */
  def writeShards(docs: DataFrame, idCol: String, textCol: String,
                  path: String, n: Int): Unit = {
    val spark = docs.sparkSession
    require(docs.limit(1).collect().nonEmpty,
      "writeShards: refusing to export an empty corpus")
    docs.withColumn("shard", shardId(col(idCol), n))
      .write.mode("overwrite").partitionBy("shard").parquet(s"$path/data")
    writeManifest(path, ParquetFormat, n, spark.read.parquet(s"$path/data"),
      textCol)
  }

  /** Write the corpus as JSON-LINES shards — the text-interop twin of
    * [[writeShards]]: every training stack reads JSONL, none needs this
    * engine to do so. Same deterministic scatter (a row lands in the SAME
    * shard either format), same lifecycle (refusals first, data
    * partitioned by shard, manifest LAST) — plus the frame's schema DDL
    * pinned in the manifest, because JSON carries no types: a schema-less
    * read-back would silently widen ints and reorder columns, breaking
    * round-trip equality. [[readShardsJsonl]] restores the exact schema. */
  def writeShardsJsonl(docs: DataFrame, idCol: String, textCol: String,
                       path: String, n: Int): Unit = {
    val spark = docs.sparkSession
    require(docs.limit(1).collect().nonEmpty,
      "writeShardsJsonl: refusing to export an empty corpus")
    val fields = docs.schema.fieldNames
    require(!fields.contains("shard"),
      "writeShardsJsonl: the frame already carries a 'shard' column — " +
        "drop or rename it; the export owns that name")
    docs.withColumn("shard", shardId(col(idCol), n))
      .write.mode("overwrite").partitionBy("shard").json(s"$path/data")
    writeManifest(path, JsonlFormat, n,
      spark.read.schema(docs.schema.add("shard", "int")).json(s"$path/data"),
      textCol, Some(docs.schema.toDDL))
  }

  /** Re-open a JSONL export under its manifest-pinned schema. Refusals:
    * missing/foreign manifest, unparsable pinned schema, per-shard row
    * counts differing from the manifest's (partial copy / torn write).
    * Returns the corpus with its `shard` column, typed exactly as
    * written. */
  def readShardsJsonl(spark: SparkSession, path: String): DataFrame = {
    val m = graft.Manifest.read(spark, path, "JSONL shard export", JsonlFormat)
    matched(spark.read.schema(m.schema("schema").add("shard", "int")).json(s"$path/data"),
      m, s"JSONL export at $path")
  }

  private val ParquetFormat = "graft-shards-v1"
  private val JsonlFormat = "graft-shards-jsonl-v1"

  /** Write the manifest from the WRITTEN files (what a reader will see,
    * not the input frame), with per-shard row/token mass — always the
    * LAST step of a write or append, so its presence marks completeness. */
  private def writeManifest(path: String, format: String, n: Int,
                            written: DataFrame, textCol: String,
                            schema: Option[String] = None): Unit = {
    val per = written.groupBy("shard")
      .agg(count(lit(1)).as("rows"),
        sum(TextAnalysis.tokenCount(col(textCol)).cast(LongType)).as("tokens"))
      .orderBy("shard")
      .collect().toSeq
    graft.Manifest.write(written.sparkSession, path,
      Seq("format" -> format, "n_shards" -> n, "rows" -> per.map(_.getLong(1)).sum) ++
        schema.map("schema" -> _) :+
        "shards" -> per.map(r => ListMap("shard" -> r.getInt(0),
          "rows" -> r.getLong(1), "tokens" -> r.getLong(2))): _*)
  }

  /** `data` if its per-shard row counts are the manifest's; the count
    * reads no data columns, only the shard partition value. */
  private def matched(data: DataFrame, m: graft.Manifest.Fields,
                      what: String): DataFrame = {
    val pinned = m.objects("shards").map(s => s.int("shard") -> s.long("rows")).toMap
    val actual = data.groupBy("shard").agg(count(lit(1)).as("rows"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    if (actual != pinned) throw new IllegalArgumentException(
      s"$what does not match its manifest (manifest $pinned vs files " +
        s"$actual) — partial copy or torn write; restore the matching files")
    data
  }

  /** Append documents to an existing sharded export WITHOUT rewriting it:
    * the scatter is stateless, so new ids land in their final shards with
    * no reshuffle of existing data — the property that makes hash
    * sharding the right layout for a continuously-growing corpus.
    * Refusals BEFORE any write (the [[graft.sim.Ivf.appendToIndex]]
    * discipline): foreign/missing manifest, empty append, id collisions
    * with the existing export (an id appearing twice would double-count
    * in every downstream reader). Data appends first; the manifest is
    * recomputed from the WRITTEN files and overwritten LAST — a torn
    * append leaves a stale manifest that [[readShards]] refuses.
    * Single-writer contract (as for every persisted index in this
    * engine): two concurrent appends race the collision check and the
    * manifest rewrite — serialize appends externally. */
  def appendToShards(docs: DataFrame, idCol: String, textCol: String,
                     path: String): Unit = {
    val spark = docs.sparkSession
    val n = graft.Manifest.read(spark, path,
      "shard export (appendToShards needs one written by writeShards)",
      ParquetFormat).int("n_shards")
    require(docs.limit(1).collect().nonEmpty,
      "appendToShards: refusing to append an empty frame")
    // id-collision refusal reads only the id column of the existing export
    val existing = spark.read.parquet(s"$path/data")
    val clashes = docs.select(col(idCol))
      .join(existing.select(col(idCol)), Seq(idCol), "left_semi")
      .limit(5).collect().map(_.get(0))
    if (clashes.nonEmpty) throw new IllegalArgumentException(
      s"appendToShards: ids already present in the export at $path " +
        s"(first ${clashes.length}: ${clashes.mkString(", ")}) — an id " +
        "appearing twice would double-count in every downstream reader")
    docs.withColumn("shard", shardId(col(idCol), n))
      .write.mode("append").partitionBy("shard").parquet(s"$path/data")
    // manifest recomputed from the written files, overwritten LAST
    writeManifest(path, ParquetFormat, n, spark.read.parquet(s"$path/data"),
      textCol)
  }

  /** Re-open a sharded export; refuses a missing/foreign manifest and a
    * per-shard row-count mismatch (partial copy / torn write — the
    * validation count reads no data columns, only the shard partition
    * value). Returns the corpus with its `shard` column. */
  def readShards(spark: SparkSession, path: String): DataFrame = {
    val m = graft.Manifest.read(spark, path, "shard export", ParquetFormat)
    matched(spark.read.parquet(s"$path/data"), m, s"sharded export at $path")
  }
}
