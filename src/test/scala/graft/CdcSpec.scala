package graft

import graft.ops.Cdc
import org.apache.spark.sql.functions._

/** Pins for the CDC changelog apply ([[graft.ops.Cdc]]): latest-wins per
  * key, upsert/delete/pass-through semantics, and the refusal ladder. */
class CdcSpec extends SparkSpec {
  import spark.implicits._

  private val base = Seq(
    (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0)
  ).toDF("k", "v", "x")

  test("latest change wins; I/U upsert, D deletes, untouched keys pass through") {
    val changes = Seq(
      // key 1: update then delete — the delete (higher seq) wins
      (1L, "a2", 11.0, 1L, "U"), (1L, "a3", 12.0, 2L, "D"),
      // key 2: delete then a re-insert at higher seq — the insert wins
      (2L, "b2", 21.0, 1L, "D"), (2L, "b3", 22.0, 2L, "I"),
      // key 3: plain update
      (3L, "c2", 33.0, 1L, "U"),
      // key 5: fresh insert
      (5L, "e", 50.0, 1L, "I")
    ).toDF("k", "v", "x", "seq", "op")
    val out = Cdc.applyChanges(base, changes, Seq("k"), "seq", "op")
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(out.toSeq == Seq(
      (2L, "b3", 22.0),   // re-inserted payload
      (3L, "c2", 33.0),   // updated payload
      (4L, "d", 40.0),    // untouched
      (5L, "e", 50.0)))   // fresh insert; key 1 deleted
  }

  test("an empty changelog is the identity") {
    val none = Seq.empty[(Long, String, Double, Long, String)]
      .toDF("k", "v", "x", "seq", "op")
    val out = Cdc.applyChanges(base, none, Seq("k"), "seq", "op")
    assert(out.orderBy("k").collect().toSeq ==
      base.orderBy("k").collect().toSeq)
  }

  test("refusals: unknown op, duplicate (key, seq), missing columns") {
    val badOp = Seq((1L, "a", 1.0, 1L, "X")).toDF("k", "v", "x", "seq", "op")
    assert(intercept[IllegalArgumentException] {
      Cdc.applyChanges(base, badOp, Seq("k"), "seq", "op")
    }.getMessage.contains("op"))
    val dup = Seq((1L, "a", 1.0, 1L, "U"), (1L, "b", 2.0, 1L, "D"))
      .toDF("k", "v", "x", "seq", "op")
    assert(intercept[IllegalArgumentException] {
      Cdc.applyChanges(base, dup, Seq("k"), "seq", "op")
    }.getMessage.contains("no defined winner"))
    val narrow = Seq((1L, 1L, "U")).toDF("k", "seq", "op")
    assert(intercept[IllegalArgumentException] {
      Cdc.applyChanges(base, narrow, Seq("k"), "seq", "op")
    }.getMessage.contains("missing columns"))
    intercept[IllegalArgumentException] {
      Cdc.applyChanges(base, badOp, Seq.empty, "seq", "op")
    }
  }

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-cdc-spec").toString

  test("persisted lifecycle: write v0, apply two batches, read back the final state") {
    val path = tmpDir()
    Cdc.writeSnapshot(base, Seq("k"), path)
    val b1 = Seq((1L, "a2", 11.0, 1L, "U"), (2L, "b", 20.0, 1L, "D"),
      (5L, "e", 50.0, 1L, "I")).toDF("k", "v", "x", "seq", "op")
    val b2 = Seq((1L, "a2", 11.0, 2L, "D"), (3L, "c9", 99.0, 2L, "U"))
      .toDF("k", "v", "x", "seq", "op")
    Cdc.applyBatch(spark, path, b1, Seq("k"), "seq", "op")
    Cdc.applyBatch(spark, path, b2, Seq("k"), "seq", "op")
    val got = Cdc.readSnapshot(spark, path).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    // batch2's delete of key 1 lands AFTER batch1's update — cross-batch
    // latest-wins; key 4 untouched through both versions
    assert(got.toSeq == Seq((3L, "c9", 99.0), (4L, "d", 40.0), (5L, "e", 50.0)))
    // version directories are immutable history: v0, v1, v2 all present
    (0 to 2).foreach { v =>
      assert(new java.io.File(s"$path/v$v").exists(), s"v$v missing")
    }
    // the incremental result equals the one-shot composed apply
    val oneShot = Cdc.applyChanges(base, b1.unionByName(b2), Seq("k"), "seq", "op")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.toSeq == oneShot.toSeq)
  }

  test("persisted refusals: missing manifest, foreign format, stale batch, wrong keys, empty batch") {
    val none = tmpDir()
    assert(intercept[IllegalArgumentException] {
      Cdc.readSnapshot(spark, none)
    }.getMessage.contains("manifest"))

    val foreign = tmpDir()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$foreign/manifest.json"),
      """{"format": "something-else-v9"}""".getBytes("UTF-8"))
    assert(intercept[IllegalArgumentException] {
      Cdc.readSnapshot(spark, foreign)
    }.getMessage.contains("foreign"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$foreign/manifest.json"), Array.emptyByteArray)
    assert(intercept[IllegalArgumentException] {
      Cdc.readSnapshot(spark, foreign)
    }.getMessage.contains("corrupt"))

    val path = tmpDir()
    Cdc.writeSnapshot(base, Seq("k"), path)
    val b1 = Seq((1L, "a2", 11.0, 5L, "U")).toDF("k", "v", "x", "seq", "op")
    Cdc.applyBatch(spark, path, b1, Seq("k"), "seq", "op")
    // replaying the same batch (seq 5 <= applied max 5) must refuse
    assert(intercept[IllegalArgumentException] {
      Cdc.applyBatch(spark, path, b1, Seq("k"), "seq", "op")
    }.getMessage.contains("out-of-order"))
    // wrong key columns vs the manifest's pinned ones
    assert(intercept[IllegalArgumentException] {
      Cdc.applyBatch(spark, path,
        Seq((1L, "z", 1.0, 9L, "U")).toDF("k", "v", "x", "seq", "op"),
        Seq("v"), "seq", "op")
    }.getMessage.contains("keyed by"))
    // empty batch refuses instead of burning a version number
    val empty = Seq.empty[(Long, String, Double, Long, String)]
      .toDF("k", "v", "x", "seq", "op")
    assert(intercept[IllegalArgumentException] {
      Cdc.applyBatch(spark, path, empty, Seq("k"), "seq", "op")
    }.getMessage.contains("empty changelog batch"))
    // refusing left the snapshot readable and unchanged (still v1)
    val got = Cdc.readSnapshot(spark, path).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "a2"), (2L, "b"), (3L, "c"), (4L, "d")))

    // empty initial snapshot refuses
    assert(intercept[IllegalArgumentException] {
      Cdc.writeSnapshot(empty.select("k", "v", "x"), Seq("k"), tmpDir())
    }.getMessage.contains("empty"))
  }
}
