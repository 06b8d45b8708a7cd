package graft

import org.apache.spark.sql.functions._

import graft.sim.Binary

/** Pins for the 1-bit binary quantization route (SURVEY §2 row 138):
  * exact packed layout on hand-built vectors, Hamming kernel algebra,
  * shortlist ⊇ rerank containment, the mixed-dimension refusal, and the
  * persisted-index refusal ladder — the properties the oracle's hash
  * can't state. */
class BinarySpec extends SparkSpec {
  import spark.implicits._

  test("packed layout: MSB-first within each byte, tail bits low") {
    // dims 0..9: + - + + - - - + | + -   → byte0 = 10110001, byte1 = 10
    val df = Seq((1L, Array(1f, -1f, 2f, 0.5f, -0.1f, 0f, -3f, 4f, 1f, -1f)))
      .toDF("vec_id", "embedding")
    val r = Binary.encodeBinary(df, "vec_id", "embedding").head()
    assert(r.getAs[Int]("n_dims") == 10)
    val codes = r.getAs[Array[Byte]]("codes")
    assert(codes.length == 2)
    assert((codes(0) & 0xff) == Integer.parseInt("10110001", 2))
    assert((codes(1) & 0xff) == Integer.parseInt("10", 2))
    assert(r.getAs[Int]("n_pos") == 5)
  }

  test("zeros and negatives clear the bit; null/empty vectors get null codes") {
    val df = Seq(
      (1L, Array(0f, -0f, -1f)),
      (2L, Array.empty[Float]),
      (3L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding")
    val rows = Binary.encodeBinary(df, "vec_id", "embedding")
      .orderBy("vec_id").collect()
    assert(rows(0).getAs[Int]("n_pos") == 0)
    assert((rows(0).getAs[Array[Byte]]("codes")(0) & 0xff) == 0)
    assert(rows(1).isNullAt(rows(1).fieldIndex("codes")))
    assert(rows(2).isNullAt(rows(2).fieldIndex("codes")))
  }

  test("hamming kernel equals the float-side sign-diff count on the corpus") {
    val e = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 40)
    val coded = Binary.encodeBinary(e, "vec_id", "embedding")
    val a = coded.select(col("vec_id").as("ida"), col("codes").as("ca"))
    val b = coded.select(col("vec_id").as("idb"), col("codes").as("cb"))
    val kernel = a.crossJoin(b).filter(col("ida") < col("idb"))
      .select(col("ida"), col("idb"),
        graft.functions.GraftFunctions.binHamming(col("ca"), col("cb")).as("h"))
      .orderBy("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val signs = e.select(col("vec_id"),
        transform(col("embedding"), x => when(x > 0, 1).otherwise(0)).as("s"))
    val sa = signs.select(col("vec_id").as("ida"), col("s").as("sa"))
    val sb = signs.select(col("vec_id").as("idb"), col("s").as("sb"))
    val direct = sa.crossJoin(sb).filter(col("ida") < col("idb"))
      .select(col("ida"), col("idb"),
        aggregate(zip_with(col("sa"), col("sb"),
          (x, y) => when(x =!= y, 1).otherwise(0)), lit(0), (acc, v) => acc + v).as("h"))
      .orderBy("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(kernel.toSeq == direct.toSeq)
  }

  test("hamming refuses mixed-dimension code words loudly") {
    val df = Seq((1L, Array(1f, -1f)), (2L, Array(1f, -1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f)))
      .toDF("vec_id", "embedding")
    val coded = Binary.encodeBinary(df, "vec_id", "embedding")
    val a = coded.filter(col("vec_id") === 1).select(col("codes").as("ca"))
    val b = coded.filter(col("vec_id") === 2).select(col("codes").as("cb"))
    val ex = intercept[Exception] {
      a.crossJoin(b)
        .select(graft.functions.GraftFunctions.binHamming(col("ca"), col("cb")))
        .collect()
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(msgs.exists(_.contains("bin_hamming")), msgs.mkString(" | "))
  }

  test("rerank results are contained in the hamming shortlist; self is rank 1") {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") < 3)
    val coded = Binary.encodeBinary(e, "vec_id", "embedding")
    val short = Binary.hammingTopK(coded, "vec_id", q, "vec_id", "embedding", k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rr = Binary.hammingRerank(coded, "vec_id", e, "vec_id", "embedding",
      q, "vec_id", "embedding", m = 20, k = 5).collect()
    assert(rr.forall(r => short.contains((r.getLong(0), r.getLong(1)))))
    val tops = rr.filter(_.getAs[Int]("rank") == 1)
    assert(tops.forall(r => r.getLong(0) == r.getLong(1)),
      "a vector's own binary code is at hamming 0 and cosine 1 — rank 1 must be self")
    assert(rr.forall(_.getAs[Int]("hamming") >= 0))
  }

  test("banded hammingPairs is exactly the brute-force threshold set") {
    val e = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 80)
    val coded = Binary.encodeBinary(e, "vec_id", "embedding")
    // brute force over all pairs at several thresholds — the banded join
    // must reproduce each exactly (pigeonhole recall 1, exact filter)
    val a = coded.select(col("vec_id").as("id_a"), col("codes").as("ca"))
    val b = coded.select(col("vec_id").as("id_b"), col("codes").as("cb"))
    val all = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.GraftFunctions.binHamming(col("ca"), col("cb")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    for (tau <- Seq(0, 3, 7)) {
      val truth = all.filter(_._3 <= tau).map(p => (p._1, p._2, p._3)).toSet
      val got = Binary.hammingPairs(coded, "vec_id", maxDist = tau, bands = tau + 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == truth, s"tau=$tau: banded ${got.size} vs brute ${truth.size}")
    }
    // a multi-band collision (identical word) emits the pair exactly once
    val dup = Binary.encodeBinary(
      Seq((1L, Array(1f, -1f, 1f)), (2L, Array(2f, -9f, 5f)))
        .toDF("vec_id", "embedding"), "vec_id", "embedding")
    val pairs = Binary.hammingPairs(dup, "vec_id", maxDist = 0, bands = 1).collect()
    assert(pairs.length == 1 && pairs.head.getInt(2) == 0)
    // the pigeonhole precondition is enforced, not assumed
    val ex = intercept[IllegalArgumentException] {
      Binary.hammingPairs(dup, "vec_id", maxDist = 4, bands = 4)
    }
    assert(ex.getMessage.contains("pigeonhole"))
  }

  test("band widths spread the remainder — no empty band, short words refused") {
    // 5-byte codes (40 dims), 4 bands: remainder-spread → widths 2,1,1,1.
    // (ceil-width banding made band 3 an EMPTY substring for every row —
    // an all-rows-equal bucket degenerating the candidate join.)
    val word = Seq((1L, Array.tabulate(40)(i => if (i % 3 == 0) 1f else -1f)))
      .toDF("vec_id", "embedding")
    val coded = Binary.encodeBinary(word, "vec_id", "embedding")
    val slices = coded.select(Binary.bandSlices(col("codes"), 4).as("b"))
      .head().getSeq[Array[Byte]](0)
    assert(slices.map(_.length) == Seq(2, 1, 1, 1))
    assert(slices.flatten == coded.head().getAs[Array[Byte]]("codes").toSeq,
      "bands must partition the word in order")
    // exactness still holds on 5-byte codes (recall-1 pigeonhole)
    val e = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 60)
      .select(col("vec_id"), slice(col("embedding"), 1, 40).as("embedding"))
    val c40 = Binary.encodeBinary(e, "vec_id", "embedding")
    val a = c40.select(col("vec_id").as("id_a"), col("codes").as("ca"))
    val b = c40.select(col("vec_id").as("id_b"), col("codes").as("cb"))
    val truth = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.GraftFunctions.binHamming(col("ca"), col("cb")).as("h"))
      .collect().filter(_.getInt(2) <= 3).map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Binary.hammingPairs(c40, "vec_id", maxDist = 3, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truth)
    // a word shorter than the band count raises instead of degenerating
    val tiny = Binary.encodeBinary(
      Seq((1L, Array(1f, -1f)), (2L, Array(-1f, 1f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val ex2 = intercept[Exception] {
      Binary.hammingPairs(tiny, "vec_id", maxDist = 2, bands = 4).collect()
    }
    assert(ex2.getMessage.contains("non-empty bands"))
  }

  test("ivf-binary at full probe equals the whole-corpus hamming rerank") {
    val e = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 200)
    val q = e.filter(col("vec_id") < 3)
    val index = graft.sim.Ivf.train(e, "vec_id", "embedding", k = 4, iters = 1)
    try {
      val cells = index.numCells.toInt
      val full = Binary.ivfHammingTopK(index, q, "vec_id", "embedding",
          k = 5, nprobe = cells, m = 30)
        .orderBy("query_id", "rank").collect().map(_.toString).toSeq
      val flat = Binary.hammingRerank(
          Binary.encodeBinary(e, "vec_id", "embedding"), "vec_id",
          e, "vec_id", "embedding", q, "vec_id", "embedding", m = 30, k = 5)
        .orderBy("query_id", "rank").collect().map(_.toString).toSeq
      assert(full == flat,
        "probing every cell must degenerate to the flat binary scan")
      // pruned probe returns candidates only from probed cells (k <= m rows)
      val pruned = Binary.ivfHammingTopK(index, q, "vec_id", "embedding",
        k = 5, nprobe = 1, m = 30).collect()
      assert(pruned.nonEmpty && pruned.length <= 3 * 5)
    } finally index.release()
  }

  test("persisted ivf-binary probe is row-identical to the direct route") {
    val e = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 150)
    val q = e.filter(col("vec_id") < 2)
    val trained = graft.sim.Ivf.train(e, "vec_id", "embedding", k = 4, iters = 1)
    val direct = Binary.ivfHammingTopK(trained, q, "vec_id", "embedding",
        k = 5, nprobe = 2, m = 30)
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfbin").toString
    graft.sim.Ivf.writeIndex(trained, dir)
    trained.release()
    val reopened = graft.sim.Ivf.readIndex(spark, dir)
    val persisted = Binary.ivfHammingTopK(reopened, q, "vec_id", "embedding",
        k = 5, nprobe = 2, m = 30)
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq
    assert(direct == persisted,
      "the write -> re-open round trip moved the probe results")
  }

  test("persisted index round-trips; refusal ladder holds") {
    val e = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 64)
    val coded = Binary.encodeBinary(e, "vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-bin-spec").toString
    val path = s"$dir/idx"
    Binary.writeBinaryIndex(coded, path)
    val re = Binary.readBinaryIndex(spark, path)
    val q = e.filter(col("vec_id") < 2)
    val direct = Binary.hammingTopK(coded, "vec_id", q, "vec_id", "embedding", 5)
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq
    val persisted = Binary.hammingTopK(re, "vec_id", q, "vec_id", "embedding", 5)
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq
    assert(direct == persisted)
    // missing manifest
    val ex1 = intercept[IllegalArgumentException] {
      Binary.readBinaryIndex(spark, s"$dir/nothere")
    }
    assert(ex1.getMessage.contains("manifest"))
    // Tampering writes bypass Hadoop's checksummed local FS — drop the
    // sidecar .crc so the re-open reads the tampered bytes, not a
    // ChecksumException.
    def tamper(json: String): Unit = {
      val fp = new java.io.PrintWriter(s"$path/manifest.json")
      try fp.write(json) finally fp.close()
      new java.io.File(s"$path/.manifest.json.crc").delete(): Unit
    }
    // foreign manifest format
    tamper("""{"format": "other-v9", "dim": 64, "rows": 64}""")
    val ex2 = intercept[IllegalArgumentException] {
      Binary.readBinaryIndex(spark, path)
    }
    assert(ex2.getMessage.contains("graft-bin-v1"))
    // only the format field decides: the tag named in another field does not pass
    tamper("""{"format": "graft-sq8-v1", "note": "graft-bin-v1", "dim": 64, "rows": 64}""")
    assert(intercept[IllegalArgumentException] {
      Binary.readBinaryIndex(spark, path)
    }.getMessage.contains("foreign"))
    // row-count mismatch (partial copy)
    tamper("""{"format": "graft-bin-v1", "dim": 64, "rows": 63}""")
    val ex3 = intercept[IllegalArgumentException] {
      Binary.readBinaryIndex(spark, path)
    }
    assert(ex3.getMessage.contains("pinned"))
    // dim mismatch (manifest does not belong to this data)
    tamper("""{"format": "graft-bin-v1", "dim": 32, "rows": 64}""")
    val ex4 = intercept[IllegalArgumentException] {
      Binary.readBinaryIndex(spark, path)
    }
    assert(ex4.getMessage.contains("does not belong"))
    // empty-corpus write refusal
    val ex5 = intercept[IllegalArgumentException] {
      Binary.writeBinaryIndex(coded.filter(col("vec_id") < 0), s"$dir/empty")
    }
    assert(ex5.getMessage.contains("empty"))
    // null-code-word write refusal
    val withNull = Binary.encodeBinary(
      Seq((1L, Array(1f, -1f)), (2L, Array.empty[Float]))
        .toDF("vec_id", "embedding"), "vec_id", "embedding")
    val ex6 = intercept[Exception] {
      Binary.writeBinaryIndex(withNull, s"$dir/nullcodes")
    }
    assert(ex6.getMessage.contains("null code"))
  }
}
