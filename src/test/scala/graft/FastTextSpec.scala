package graft

import graft.text.FastText
import org.apache.spark.sql.functions._

/** Pins [[graft.text.FastText]] — the supervised (Joulin et al. 2016)
  * member of the quality-gate family: the scoring algebra against a
  * hand-computed fixture, string ≡ hashed route equality on a
  * collision-free weight table, training convergence + separation on a
  * separable fixture, and the refusal/degenerate corners. */
class FastTextSpec extends SparkSpec {
  import spark.implicits._

  private def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  test("score matches the hand-computed linear-sigmoid algebra") {
    // doc 1: tokens [good, day] -> grams {good, day, "good day"};
    // weights good=0.6, "good day"=0.3, day absent (0). mean = 0.3.
    val docs = Seq((1L, "good day"), (2L, "")).toDF("doc_id", "text")
    val w = Seq(("good", 0.6), ("good day", 0.3)).toDF("feature", "weight")
    val rows = FastText.score(docs, "doc_id", "text", w, bias = 0.1)
      .orderBy("doc_id").collect()
    assert(rows(0).getLong(1) == 3L)
    val act = r6(0.1 + (0.6 + 0.0 + 0.3) / 3.0)
    assert(rows(0).getDouble(2) == act)
    assert(rows(0).getDouble(3) == r6(1.0 / (1.0 + math.exp(-act))))
    // blank doc: no features, null activation/score (no evidence).
    assert(rows(1).getLong(1) == 0L)
    assert(rows(1).isNullAt(2) && rows(1).isNullAt(3))
  }

  test("hashed scoring equals string scoring on a collision-free table") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "beta beta delta"),
      (3L, "epsilon")).toDF("doc_id", "text")
    val w = Seq(("alpha", 0.4), ("beta", -0.2), ("gamma", 0.9),
      ("beta beta", 0.5), ("epsilon", -0.7)).toDF("feature", "weight")
    // Derive the bucket table by hashing the SAME features; B large
    // enough that 5 features can't collide in this fixture (checked).
    val b = 1 << 20
    val hashed = w.select(
      pmod(xxhash64(col("feature")), lit(b.toLong)).as("bucket"),
      col("weight"))
    assert(hashed.select("bucket").distinct().count() == 5L)
    val s1 = FastText.score(docs, "doc_id", "text", w, bias = 0.2)
      .orderBy("doc_id").collect().toSeq
    val s2 = FastText.scoreHashed(docs, "doc_id", "text", hashed,
      bias = 0.2, buckets = b).orderBy("doc_id").collect().toSeq
    assert(s1 == s2)
  }

  test("training converges and separates a separable fixture") {
    val pos = (0 until 12).map(i => (s"excellent prose sample $i", 1.0))
    val neg = (0 until 12).map(i => (s"spam junk noise $i", 0.0))
    val docs = (pos ++ neg).toDF("text", "label")
      .withColumn("doc_id", monotonically_increasing_id())
    val m = FastText.train(docs, "text", "label",
      buckets = 4096, epochs = 15, lr = 40.0)
    assert(m.losses.size == 15)
    assert(m.losses.last < m.losses.head,
      s"loss did not fall: ${m.losses.head} -> ${m.losses.last}")
    assert(m.losses.last < 0.5, s"loss stuck at ${m.losses.last}")
    val scored = FastText.scoreHashed(docs, "doc_id", "text",
        m.weightFrame(spark), m.bias, buckets = m.buckets)
      .join(docs.select("doc_id", "label"), "doc_id")
      .groupBy("label").agg(avg("score").as("s"))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(scored(1.0) > 0.6 && scored(0.0) < 0.4,
      s"no separation: $scored")
  }

  test("minibatch lane converges, is deterministic, and refuses bad fractions") {
    val pos = (0 until 12).map(i => (s"excellent prose sample $i", 1.0))
    val neg = (0 until 12).map(i => (s"spam junk noise $i", 0.0))
    val docs = (pos ++ neg).toDF("text", "label")
      .withColumn("doc_id", monotonically_increasing_id())
    // hash-sampled epochs (seed = epoch, no RNG): the gate still separates
    val m = FastText.train(docs, "text", "label",
      buckets = 4096, epochs = 15, lr = 40.0, minibatchFraction = 0.5)
    assert(m.losses.size == 15)
    val real = m.losses.filterNot(_.isNaN)
    assert(real.nonEmpty && real.last < real.head,
      s"loss did not fall: ${m.losses}")
    val scored = FastText.scoreHashed(docs, "doc_id", "text",
        m.weightFrame(spark), m.bias, buckets = m.buckets)
      .join(docs.select("doc_id", "label"), "doc_id")
      .groupBy("label").agg(avg("score").as("s"))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(scored(1.0) > 0.6 && scored(0.0) < 0.4, s"no separation: $scored")
    // two runs of the same minibatch schedule produce the SAME model
    val m2 = FastText.train(docs, "text", "label",
      buckets = 4096, epochs = 15, lr = 40.0, minibatchFraction = 0.5)
    assert(m2.bias == m.bias && m2.weights.toSeq == m.weights.toSeq)
    // fraction 1.0 is byte-identical to the default full-batch lane
    val full = FastText.train(docs, "text", "label",
      buckets = 512, epochs = 3, lr = 10.0)
    val full2 = FastText.train(docs, "text", "label",
      buckets = 512, epochs = 3, lr = 10.0, minibatchFraction = 1.0)
    assert(full.bias == full2.bias &&
      full.weights.toSeq == full2.weights.toSeq &&
      full.losses == full2.losses)
    intercept[IllegalArgumentException] {
      FastText.train(docs, "text", "label", minibatchFraction = 0.0)
    }
    intercept[IllegalArgumentException] {
      FastText.train(docs, "text", "label", minibatchFraction = 1.5)
    }
  }

  test("training refuses one-class and non-binary labels") {
    val oneClass = Seq(("a b", 1.0), ("c d", 1.0)).toDF("text", "label")
    intercept[IllegalArgumentException] {
      FastText.train(oneClass, "text", "label", epochs = 1)
    }
    val bad = Seq(("a b", 2.0), ("c d", 0.0)).toDF("text", "label")
    intercept[IllegalArgumentException] {
      FastText.train(bad, "text", "label", epochs = 1)
    }
  }

  test("broadcast-kernel routes are value-identical to the join routes") {
    // Mixed fixture incl. the evidence corners: blank doc (0 feats),
    // single token, repeated grams, unmatched vocabulary.
    val docs = Seq((1L, "alpha beta gamma"), (2L, "beta beta delta"),
      (3L, "epsilon"), (4L, " "), (5L, "zz unknown words here"))
      .toDF("doc_id", "text")
    val w = Seq(("alpha", 0.4), ("beta", -0.2), ("gamma", 0.9),
      ("beta beta", 0.5), ("epsilon", -0.7)).toDF("feature", "weight")
    val join = FastText.score(docs, "doc_id", "text", w, bias = 0.2)
      .orderBy("doc_id").collect().toSeq
    val kernel = FastText.scoreBroadcast(docs, "doc_id", "text", w, bias = 0.2)
      .orderBy("doc_id").collect().toSeq
    assert(join == kernel)
    // hashed pair: scoreHashed (join) vs scoreBroadcastHashed (kernel) —
    // the kernel hashes grams itself, so routing must be bit-identical
    val b = 4096
    val hashed = w.select(
      pmod(xxhash64(col("feature")), lit(b.toLong)).as("bucket"),
      col("weight"))
    val hj = FastText.scoreHashed(docs, "doc_id", "text", hashed,
      bias = 0.2, buckets = b).orderBy("doc_id").collect().toSeq
    val hk = FastText.scoreBroadcastHashed(docs, "doc_id", "text", hashed,
      bias = 0.2, buckets = b).orderBy("doc_id").collect().toSeq
    assert(hj == hk)
  }

  test("scoreBroadcast refuses an oversized weight table") {
    val docs = Seq((1L, "a")).toDF("doc_id", "text")
    val w = Seq(("a", 0.1), ("b", 0.2), ("c", 0.3)).toDF("feature", "weight")
    val ex = intercept[IllegalArgumentException] {
      FastText.scoreBroadcast(docs, "doc_id", "text", w, bias = 0.0,
        maxFeatures = 2)
    }
    assert(ex.getMessage.contains("broadcast joins"))
  }

  test("persisted trained model round-trips byte-equal") {
    val docs = Seq((1L, "alpha beta good", 1.0), (2L, "bad junk spam", 0.0),
      (3L, "alpha good prose", 1.0), (4L, "junk bad noise", 0.0))
      .toDF("doc_id", "text", "label")
    val m = FastText.train(docs, "text", "label",
      buckets = 512, epochs = 5, lr = 20.0)
    val path = java.nio.file.Files.createTempDirectory("graft-ft").toString
    FastText.writeModel(spark, m, path)
    val loaded = FastText.readModel(spark, path)
    assert(loaded.keyed == "bucket" && loaded.buckets.contains(512))
    val direct = FastText.scoreHashed(docs, "doc_id", "text",
      m.weightFrame(spark), m.bias, 512).orderBy("doc_id").collect().toSeq
    val viaDisk = loaded.score(docs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(direct == viaDisk)
    loaded.release()
  }

  test("persisted feature-keyed model scores like the string route") {
    val docs = Seq((1L, "good day"), (2L, "bad day")).toDF("doc_id", "text")
    val w = Seq(("good", 0.6), ("bad", -0.6)).toDF("feature", "weight")
    val path = java.nio.file.Files.createTempDirectory("graft-ftf").toString
    FastText.writeModelFeatures(spark, w, bias = 0.1, path)
    val loaded = FastText.readModel(spark, path)
    assert(loaded.keyed == "feature" && loaded.buckets.isEmpty)
    assert(loaded.score(docs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq ==
      FastText.score(docs, "doc_id", "text", w, bias = 0.1)
        .orderBy("doc_id").collect().toSeq)
    loaded.release()
  }

  test("readModel refuses missing manifest, foreign format, truncation, bad buckets") {
    val docs = Seq((1L, "a", 1.0), (2L, "b", 0.0)).toDF("doc_id", "text", "label")
    val m = FastText.train(docs, "text", "label",
      buckets = 64, epochs = 1, lr = 1.0)
    val empty = java.nio.file.Files.createTempDirectory("graft-ft-e").toString
    intercept[IllegalArgumentException] { FastText.readModel(spark, empty) }

    val path = java.nio.file.Files.createTempDirectory("graft-ft-r").toString
    FastText.writeModel(spark, m, path)
    // Rewriting the manifest out-of-band: drop the Hadoop local-FS CRC
    // sidecar too, or the next open trips ChecksumException instead of
    // reaching the refusal under test.
    def rewriteManifest(json: String): Unit = {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$path/manifest.json"), json)
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s"$path/.manifest.json.crc")): Unit
    }
    // foreign format tag
    rewriteManifest(
      """{"format": "graft-lm-v1", "keyed": "bucket", "buckets": 64, "bias": 0.0, "rows": 1}""")
    intercept[IllegalArgumentException] { FastText.readModel(spark, path) }
    // empty manifest; a number where the key lane belongs
    rewriteManifest("")
    intercept[IllegalArgumentException] { FastText.readModel(spark, path) }
    rewriteManifest(
      """{"format": "graft-ft-v1", "keyed": 7, "buckets": 64, "bias": 0.0, "rows": 1}""")
    assert(intercept[IllegalArgumentException] {
      FastText.readModel(spark, path)
    }.getMessage.contains("field 'keyed'"))
    // truncated weights: declare one more row than the parquet holds
    val n = spark.read.parquet(s"$path/weights").count()
    rewriteManifest(
      s"""{"format": "graft-ft-v1", "keyed": "bucket", "buckets": 64, "bias": 0.0, "rows": ${n + 1}}""")
    intercept[IllegalArgumentException] { FastText.readModel(spark, path) }
    // bucket count smaller than the ids present: refuse the mis-route
    rewriteManifest(
      s"""{"format": "graft-ft-v1", "keyed": "bucket", "buckets": 1, "bias": 0.0, "rows": $n}""")
    val ex = intercept[IllegalArgumentException] { FastText.readModel(spark, path) }
    assert(ex.getMessage.contains("bucket"))
  }

  test("degenerate arguments raise") {
    val d = Seq((1L, "x", 1.0)).toDF("doc_id", "text", "label")
    intercept[IllegalArgumentException] {
      FastText.scoreHashed(d, "doc_id", "text",
        Seq((0L, 0.1)).toDF("bucket", "weight"), bias = 0.0, buckets = 0)
    }
    intercept[IllegalArgumentException] {
      FastText.train(d, "text", "label", buckets = 0)
    }
    intercept[IllegalArgumentException] {
      FastText.train(d, "text", "label", epochs = 0)
    }
    intercept[IllegalArgumentException] {
      FastText.train(d, "text", "label", lr = 0.0)
    }
  }
}
