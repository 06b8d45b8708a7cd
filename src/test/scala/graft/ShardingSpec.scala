package graft

import org.apache.spark.sql.functions._

import graft.ops.Sharding

/** Pins for the deterministic sharded export (SURVEY §2 row 140): the
  * scatter's closed form and range refusals, plan mass conservation,
  * and the write/read refusal ladder. */
class ShardingSpec extends SparkSpec {
  import spark.implicits._

  test("scatter matches its closed form and spreads consecutive ids") {
    val ids = (0L until 64L).toDF("id")
    val got = ids.select(col("id"), Sharding.shardId(col("id"), 16).as("s"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    for (i <- 0L until 64L)
      assert(got(i) == ((i * Sharding.Mixer % Sharding.Modulus) % 16).toInt)
    // consecutive ids do not all land in one shard (the scatter scatters)
    assert(got.values.toSet.size > 8)
  }

  test("out-of-range ids refuse loudly") {
    for (bad <- Seq(-1L, Sharding.MaxId + 1)) {
      val ex = intercept[Exception] {
        Seq(bad).toDF("id").select(Sharding.shardId(col("id"), 4)).collect()
      }
      val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
      assert(msgs.exists(_.contains("shardId precondition")), msgs.mkString(" | "))
    }
  }

  test("plan conserves corpus mass and sums token_share to ~1") {
    val d = Tables.documents(spark, sfDir)
    val plan = Sharding.shardPlan(d, "doc_id", "text", 16).collect()
    assert(plan.map(_.getAs[Long]("n_docs")).sum == d.count())
    val share = plan.map(_.getAs[Double]("token_share")).sum
    assert(math.abs(share - 1.0) < 1e-3, s"token_share summed to $share")
  }

  test("write/read round-trips; refusal ladder holds") {
    val d = Tables.documents(spark, sfDir).select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-shards-spec").toString
    val path = s"$dir/exp"
    Sharding.writeShards(d, "doc_id", "text", path, 8)
    val re = Sharding.readShards(spark, path)
    assert(re.count() == d.count())
    // every row's shard matches the scatter of its id
    val bad = re.filter(col("shard") =!= Sharding.shardId(col("doc_id"), 8)).count()
    assert(bad == 0L)
    // the re-derived plan equals the direct plan
    val p1 = Sharding.shardPlan(d, "doc_id", "text", 8)
      .collect().map(_.toString).toSeq
    val p2 = Sharding.planFromSharded(re, "text")
      .collect().map(_.toString).toSeq
    assert(p1 == p2)
    // missing manifest
    val ex1 = intercept[IllegalArgumentException] {
      Sharding.readShards(spark, s"$dir/nothere")
    }
    assert(ex1.getMessage.contains("manifest"))
    // foreign format
    def tamper(json: String): Unit = {
      val fp = new java.io.PrintWriter(s"$path/manifest.json")
      try fp.write(json) finally fp.close()
      new java.io.File(s"$path/.manifest.json.crc").delete(): Unit
    }
    tamper("""{"format": "other-v1"}""")
    val ex2 = intercept[IllegalArgumentException] {
      Sharding.readShards(spark, path)
    }
    assert(ex2.getMessage.contains("graft-shards-v1"))
    // only the format field decides: the tag named in another field does not pass
    tamper("""{"format": "other-v1", "note": "graft-shards-v1", "n_shards": 8, "rows": 0, "shards": []}""")
    for (open <- Seq(() => Sharding.readShards(spark, path),
        () => Sharding.appendToShards(d.limit(1), "doc_id", "text", path)))
      assert(intercept[IllegalArgumentException](open()).getMessage.contains("foreign"))
    // per-shard row mismatch (partial copy)
    tamper("""{"format": "graft-shards-v1", "n_shards": 8, "rows": 1, "shards": [{"shard": 0, "rows": 1, "tokens": 1}]}""")
    val ex3 = intercept[IllegalArgumentException] {
      Sharding.readShards(spark, path)
    }
    assert(ex3.getMessage.contains("does not match"))
    // empty-corpus write refusal
    val ex4 = intercept[IllegalArgumentException] {
      Sharding.writeShards(d.limit(0), "doc_id", "text", s"$dir/empty", 4)
    }
    assert(ex4.getMessage.contains("empty"))
  }

  test("JSONL export round-trips rows, types, and assignment; refusals hold") {
    val d = Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "text", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft-shards-jsonl").toString
    val path = s"$dir/exp"
    Sharding.writeShardsJsonl(d, "doc_id", "text", path, 8)
    val re = Sharding.readShardsJsonl(spark, path)
    // the manifest-pinned schema restores the exact column types (a
    // schema-less JSON read would widen n_chars int -> bigint)
    assert(re.drop("shard").schema == d.schema)
    // row-for-row equality through the text format
    assert(re.drop("shard").exceptAll(d).count() == 0L)
    assert(d.exceptAll(re.drop("shard")).count() == 0L)
    // assignment matches the scatter, same as the parquet lane
    assert(re.filter(col("shard") =!= Sharding.shardId(col("doc_id"), 8)).count() == 0L)
    // refusal ladder: missing manifest, foreign format, torn write, empty
    intercept[IllegalArgumentException] {
      Sharding.readShardsJsonl(spark, s"$dir/nothere")
    }
    def tamper(json: String): Unit = {
      val fp = new java.io.PrintWriter(s"$path/manifest.json")
      try fp.write(json) finally fp.close()
      new java.io.File(s"$path/.manifest.json.crc").delete(): Unit
    }
    tamper("""{"format": "graft-shards-v1"}""")
    assert(intercept[IllegalArgumentException] {
      Sharding.readShardsJsonl(spark, path)
    }.getMessage.contains("graft-shards-jsonl-v1"))
    tamper("")
    assert(intercept[IllegalArgumentException] {
      Sharding.readShardsJsonl(spark, path)
    }.getMessage.contains("corrupt"))
    tamper("""{"format": "graft-shards-jsonl-v1", "n_shards": 8, "rows": 1, "schema": "doc_id BIGINT,lang STRING,text STRING,n_chars INT", "shards": [{"shard": 0, "rows": 1, "tokens": 1}]}""")
    assert(intercept[IllegalArgumentException] {
      Sharding.readShardsJsonl(spark, path)
    }.getMessage.contains("does not match"))
    tamper("""{"format": "graft-shards-jsonl-v1", "n_shards": 8, "rows": 1, "schema": "NOT A SCHEMA ((", "shards": []}""")
    assert(intercept[IllegalArgumentException] {
      Sharding.readShardsJsonl(spark, path)
    }.getMessage.contains("unparsable"))
    intercept[IllegalArgumentException] {
      Sharding.writeShardsJsonl(d.limit(0), "doc_id", "text", s"$dir/empty", 4)
    }
    intercept[IllegalArgumentException] {
      Sharding.writeShardsJsonl(d.withColumn("shard", lit(1)),
        "doc_id", "text", s"$dir/clash", 4)
    }
  }

  test("append lands in the same layout as one full write; refusals hold") {
    val d = Tables.documents(spark, sfDir).select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-shards-app").toString
    val full = s"$dir/full"; val inc = s"$dir/inc"
    Sharding.writeShards(d, "doc_id", "text", full, 8)
    Sharding.writeShards(d.filter(col("doc_id") % 2 === 0), "doc_id", "text", inc, 8)
    Sharding.appendToShards(d.filter(col("doc_id") % 2 === 1), "doc_id", "text", inc)
    val p1 = Sharding.planFromSharded(Sharding.readShards(spark, full), "text")
      .collect().map(_.toString).toSeq
    val p2 = Sharding.planFromSharded(Sharding.readShards(spark, inc), "text")
      .collect().map(_.toString).toSeq
    assert(p1 == p2)
    // id collision refuses before any write
    val ex = intercept[IllegalArgumentException] {
      Sharding.appendToShards(d.limit(3), "doc_id", "text", inc)
    }
    assert(ex.getMessage.contains("already present"))
    // the refused append did not corrupt the export
    assert(Sharding.readShards(spark, inc).count() == d.count())
    // appending to nothing refuses with the writeShards pointer
    val ex2 = intercept[IllegalArgumentException] {
      Sharding.appendToShards(d.limit(3), "doc_id", "text", s"$dir/none")
    }
    assert(ex2.getMessage.contains("writeShards"))
  }
}
