package graft.ops

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CDC changelog application — the warehouse MERGE every ingest pipeline
  * runs to keep a snapshot current against an upstream change stream
  * (Debezium/binlog-shaped): per key the LATEST change wins, I/U upsert
  * the payload, D deletes, and keys the changelog never touches pass
  * through untouched. The complement of [[EventAnalytics.history]]: that
  * derives versions FROM observations, this applies versions TO a
  * snapshot.
  *
  * Contract: `changes` carries every `base` column plus `opCol`
  * (I/U/D) and `seqCol` (the log sequence number — totally ordered per
  * key, as any binlog/LSN is). Both are enforced, not assumed: an
  * unknown op or a duplicated (key, seq) pair refuses loudly — two
  * changes at one sequence number have no defined winner, and applying
  * either silently would corrupt the snapshot.
  *
  * Scale shape: one window over the CHANGELOG only (partitioned by key
  * — never over the base), one key anti-join and one union. The
  * changelog is the small side in every real deployment; the base
  * snapshot is touched exactly once, by the anti-join, and AQE
  * broadcasts the latest-change keys while they fit. */
object Cdc {

  val Ops: Set[String] = Set("I", "U", "D")

  def applyChanges(base: DataFrame, changes: DataFrame, keyCols: Seq[String],
                   seqCol: String, opCol: String): DataFrame = {
    require(keyCols.nonEmpty, "applyChanges needs at least one key column")
    val payload = base.columns.toSeq
    val missing = (payload :+ seqCol :+ opCol).filterNot(changes.columns.contains)
    require(missing.isEmpty,
      s"changelog is missing columns: ${missing.mkString(", ")} — it must " +
        "carry every base column plus the op and sequence columns")
    require(!payload.contains(opCol),
      s"op column '$opCol' collides with a base column")

    // refusals: unknown ops, duplicated (key, seq)
    val badOp = changes.filter(!col(opCol).isin(Ops.toSeq: _*))
      .select(opCol).limit(1).collect()
    if (badOp.nonEmpty) throw new IllegalArgumentException(
      s"changelog carries op '${badOp(0).get(0)}' — ops must be one of " +
        Ops.mkString(", "))
    val dup = changes.groupBy((keyCols :+ seqCol).map(col): _*)
      .count().filter(col("count") > 1).limit(1).collect()
    if (dup.nonEmpty) throw new IllegalArgumentException(
      s"changelog has two changes at one (key, $seqCol): " +
        s"${dup(0).toSeq.mkString(", ")} — no defined winner; fix the log")

    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(seqCol).desc)
    val latest = changes
      .withColumn("_gf_rn", row_number().over(w))
      .filter(col("_gf_rn") === 1)
    // pass-through keys = base minus ANY touched key — the raw changelog
    // keys suffice (anti-joins are duplicate-insensitive), so this branch
    // skips the latest-change window entirely: ONE window in the plan,
    // over the changelog (PlanQualitySpec pins it)
    val survivors = base.join(
      changes.select(keyCols.map(col): _*), keyCols, "left_anti")
    val upserts = latest.filter(col(opCol) =!= "D")
      .select(payload.map(col): _*)
    survivors.unionByName(upserts)
  }

  // ---- persisted lifecycle ----------------------------------------------
  //
  // The warehouse shape (the Sharding/Ivf manifest-last discipline applied
  // to a mutable snapshot): a versioned directory tree
  //
  //   path/v0/  path/v1/ …  (immutable parquet per version)
  //   the manifest          (format tag, current version, rows, schema DDL,
  //                          key columns, max applied seq — written LAST)
  //
  // Each applied batch writes a NEW version directory first and commits by
  // overwriting the root manifest — a reader either sees the old manifest
  // (old version, still intact) or the new one; superseded versions stay on
  // disk for time travel/rollback. At 100 TB this is the copy-on-write
  // table layout (Iceberg/Delta's shape without their libraries): the
  // rewrite cost is the anti-join + union of [[applyChanges]], and readers
  // never block.

  private val Format = "graft-cdc-snapshot-v1"

  private def fs(spark: org.apache.spark.sql.SparkSession,
                 path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())

  // The commit overwrites the manifest by rename, so a concurrent reader
  // sees the old manifest or the new one ([[graft.Manifest]]).
  private def writeManifest(spark: org.apache.spark.sql.SparkSession,
                            path: String, version: Long, rows: Long,
                            ddl: String, keyCols: Seq[String],
                            maxSeq: Long): Unit =
    graft.Manifest.write(spark, path, "format" -> Format, "version" -> version,
      "rows" -> rows, "schema" -> ddl, "key_cols" -> keyCols, "max_seq" -> maxSeq)

  /** Write version 0 of a persisted snapshot. Refusals: empty base (an
    * empty initial snapshot is almost always a mis-pointed path), key
    * columns absent from the schema. */
  def writeSnapshot(base: DataFrame, keyCols: Seq[String],
                    path: String): Unit = {
    val spark = base.sparkSession
    require(keyCols.nonEmpty, "writeSnapshot needs at least one key column")
    val missing = keyCols.filterNot(base.columns.contains)
    require(missing.isEmpty,
      s"key column(s) ${missing.mkString(", ")} absent from the snapshot schema")
    require(base.limit(1).collect().nonEmpty,
      "writeSnapshot: refusing to persist an empty snapshot")
    base.write.mode("overwrite").parquet(s"$path/v0")
    val rows = spark.read.parquet(s"$path/v0").count()
    writeManifest(spark, path, 0L, rows, base.schema.toDDL, keyCols,
      maxSeq = Long.MinValue)
  }

  /** Apply one changelog batch to the persisted snapshot: read the current
    * version under its pinned schema, run [[applyChanges]], write the next
    * version directory, and commit by overwriting the manifest (recording
    * the batch's max sequence). Refusals, beyond [[applyChanges]]' own:
    * key columns differing from the manifest's, and a batch whose minimum
    * sequence does not exceed the last applied maximum — an out-of-order
    * or replayed batch would silently lose the later state it overlaps. */
  def applyBatch(spark: org.apache.spark.sql.SparkSession, path: String,
                 changes: DataFrame, keyCols: Seq[String],
                 seqCol: String, opCol: String): Unit = {
    val m = graft.Manifest.read(spark, path, "CDC snapshot", Format)
    val pk = m.strings("key_cols")
    require(pk == keyCols,
      s"snapshot at $path is keyed by (${pk.mkString(", ")}), " +
        s"not (${keyCols.mkString(", ")})")
    val version = m.long("version")
    val maxSeq = m.long("max_seq")
    val schema = m.schema("schema")
    val bounds = changes.agg(min(col(seqCol)).cast("long"),
      max(col(seqCol)).cast("long")).collect()(0)
    if (bounds.isNullAt(0)) throw new IllegalArgumentException(
      "applyBatch: empty changelog batch — nothing to apply; a scheduler " +
        "bug upstream, refuse rather than burn a version number")
    val (batchMin, batchMax) = (bounds.getLong(0), bounds.getLong(1))
    if (batchMin <= maxSeq) throw new IllegalArgumentException(
      s"batch sequences start at $batchMin but the snapshot has already " +
        s"applied up to $maxSeq — out-of-order or replayed batch; feed " +
        "batches in log order")
    val current = spark.read.schema(schema).parquet(s"$path/v$version")
    val next = applyChanges(current, changes, keyCols, seqCol, opCol)
    next.write.mode("overwrite").parquet(s"$path/v${version + 1}")
    val rows = spark.read.parquet(s"$path/v${version + 1}").count()
    writeManifest(spark, path, version + 1, rows, m.string("schema"), keyCols,
      batchMax)
  }

  /** Re-open the current snapshot version under the manifest's pinned
    * schema. Refusals: missing/foreign/unreadable manifest, missing
    * version directory, row count differing from the manifest's (partial
    * copy / torn write). */
  def readSnapshot(spark: org.apache.spark.sql.SparkSession,
                   path: String): DataFrame = {
    val m = graft.Manifest.read(spark, path, "CDC snapshot", Format)
    val version = m.long("version")
    val rows = m.long("rows")
    val schema = m.schema("schema")
    val vp = new org.apache.hadoop.fs.Path(s"$path/v$version")
    if (!fs(spark, path).exists(vp)) throw new IllegalArgumentException(
      s"manifest at $path points at version $version but $path/v$version " +
        "is missing — partial copy; restore the version directory")
    val df = spark.read.schema(schema).parquet(s"$path/v$version")
    val actual = df.count()
    if (actual != rows) throw new IllegalArgumentException(
      s"snapshot at $path/v$version holds $actual rows but the manifest " +
        s"pins $rows — partial copy or torn write; restore the matching files")
    df
  }
}
