package graft

import graft.sim.Quantize

/** Pins for the int8 quantization audit (SURVEY §2 row 129): hand-coded
  * code books, the constant-vector guard, and the half-step error bound
  * on the real corpus (the property the oracle's hash can't state). */
class QuantizeSpec extends SparkSpec {
  import spark.implicits._

  test("endpoints quantize exactly: [0,1] has zero reconstruction error") {
    val df = Seq((1L, Array(0f, 1f))).toDF("vec_id", "embedding")
    val r = Quantize.int8Audit(df, "vec_id", "embedding").head()
    assert(r.getAs[Long]("n_dims") == 2)
    assert(r.getAs[Double]("vmin") == 0.0)
    assert(r.getAs[Double]("scale") == 1.0 / 255.0)
    assert(r.getAs[Double]("max_abs_err") == 0.0)
    assert(r.getAs[Double]("mse") == 0.0)
  }

  test("constant vectors get unit scale and zero error") {
    val df = Seq((1L, Array(2.5f, 2.5f, 2.5f))).toDF("vec_id", "embedding")
    val r = Quantize.int8Audit(df, "vec_id", "embedding").head()
    assert(r.getAs[Double]("scale") == 1.0)
    assert(r.getAs[Double]("max_abs_err") == 0.0 && r.getAs[Double]("mse") == 0.0)
  }

  test("interior points reconstruct within half a code step") {
    val df = Seq((1L, Array(0f, 0.1f, 0.77f, 1f))).toDF("vec_id", "embedding")
    val r = Quantize.int8Audit(df, "vec_id", "embedding").head()
    val scale = r.getAs[Double]("scale")
    assert(r.getAs[Double]("max_abs_err") > 0.0)
    assert(r.getAs[Double]("max_abs_err") <= scale / 2 + 1e-7)
  }

  test("fused kernels are value-identical to the HOF composites") {
    val e = Tables.embeddings(spark, sfDir)
    val fix = Seq((1L, Array(0f, 1f, 0.37f)), (2L, Array(-2.5f, -2.5f)),
      (3L, Array(0.001f, -0.001f, 123.456f, 0f)))
      .toDF("vec_id", "embedding")
    for (df <- Seq(e, fix)) {
      val a1 = Quantize.int8Audit(df, "vec_id", "embedding")
        .orderBy("vec_id").collect()
      val a2 = Quantize.int8AuditColumns(df, "vec_id", "embedding")
        .orderBy("vec_id").collect()
      assert(a1.map(_.toString).toSeq == a2.map(_.toString).toSeq,
        "audit kernel diverged from the composite")
      val c1 = Quantize.encodeSq8(df, "vec_id", "embedding")
        .orderBy("vec_id").collect()
      val c2 = Quantize.encodeSq8Columns(df, "vec_id", "embedding")
        .orderBy("vec_id").collect()
      assert(c1.zip(c2).forall { case (x, y) =>
        x.getAs[Array[Byte]]("codes").sameElements(y.getAs[Array[Byte]]("codes")) &&
          x.getAs[Double]("sum_c") == y.getAs[Double]("sum_c") &&
          x.getAs[Double]("sum_c2") == y.getAs[Double]("sum_c2") &&
          x.getAs[Double]("vmin") == y.getAs[Double]("vmin") &&
          x.getAs[Double]("scale") == y.getAs[Double]("scale")
      }, "encode kernel diverged from the composite")
    }
  }

  test("sq8 search: codes are bytes, moments close the norm, endpoints exact") {
    val df = Seq((1L, Array(0f, 1f, 0.5f))).toDF("vec_id", "embedding")
    val c = Quantize.encodeSq8(df, "vec_id", "embedding").head()
    val codes = c.getAs[Array[Byte]]("codes")
    assert(codes.length == 3)
    assert((codes(0) & 0xff) == 0 && (codes(1) & 0xff) == 255)
    // Σc and Σc² match the packed codes exactly
    val cs = codes.map(_ & 0xff)
    assert(c.getAs[Double]("sum_c") == cs.map(_.toDouble).sum)
    assert(c.getAs[Double]("sum_c2") == cs.map(x => x.toDouble * x).sum)
  }

  test("sq8 top-k agrees with exact brute force on the real corpus") {
    val e = Tables.embeddings(spark, sfDir)
    val queries = e.filter($"vec_id" < 5)
    val coded = Quantize.encodeSq8(e, "vec_id", "embedding")
    val sq8 = Quantize.topKSq8(coded, "vec_id", queries, "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = graft.sim.Similarity.bruteForceTopK(e, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 8-bit codes perturb cosines by ~1e-3 — neighbor sets may differ at
    // the margin, but recall@10 must stay high for SQ8 to be usable
    val recall = (sq8 intersect exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"SQ8 recall@10 = $recall")
    // each query always returns a full top-10 under the compressed scan
    assert(sq8.size == exact.size)
  }

  test("sq8 persisted index: round trip byte-equal, refusal ladder") {
    val tmp = java.nio.file.Files.createTempDirectory("sq8-idx").toString
    val e = Tables.embeddings(spark, sfDir).limit(50)
    val coded = Quantize.encodeSq8(e, "vec_id", "embedding")
    Quantize.writeSq8Index(coded, tmp)
    val back = Quantize.readSq8Index(spark, tmp)
    val a = coded.orderBy("vec_id").collect()
    val b = back.orderBy("vec_id").collect()
    assert(a.length == b.length)
    assert(a.zip(b).forall { case (x, y) =>
      x.getAs[Array[Byte]]("codes").sameElements(y.getAs[Array[Byte]]("codes")) &&
        x.getAs[Double]("vmin") == y.getAs[Double]("vmin") &&
        x.getAs[Double]("sum_c2") == y.getAs[Double]("sum_c2")
    }, "persisted codes diverged from direct encode")
    // refusals: no manifest; foreign format; torn copy (row-count lies)
    val noManifest = java.nio.file.Files.createTempDirectory("sq8-nomf").toString
    assertThrows[IllegalArgumentException](Quantize.readSq8Index(spark, noManifest))
    val mf = java.nio.file.Paths.get(tmp, "manifest.json")
    val orig = new String(java.nio.file.Files.readAllBytes(mf), "UTF-8")
    def rewrite(content: String): Unit = {
      java.nio.file.Files.write(mf, content.getBytes("UTF-8"))
      // drop the Hadoop local-FS checksum sibling — the NIO edit above
      // would otherwise trip ChecksumException before our refusal fires
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(tmp, ".manifest.json.crc")): Unit
    }
    rewrite(orig.replace("graft-sq8-v1", "graft-pq-v1"))
    assertThrows[IllegalArgumentException](Quantize.readSq8Index(spark, tmp))
    // only the format field decides: the tag named in another field does not pass
    rewrite(orig.replace("\"graft-sq8-v1\"", "\"graft-bin-v1\", \"note\": \"graft-sq8-v1\""))
    assert(intercept[IllegalArgumentException] {
      Quantize.readSq8Index(spark, tmp)
    }.getMessage.contains("foreign"))
    rewrite(orig.replaceAll(""""rows": \d+""", "\"rows\": 9999"))
    assertThrows[IllegalArgumentException](Quantize.readSq8Index(spark, tmp))
    rewrite(orig.replaceAll(""""dim": \d+""", "\"dim\": 3"))
    assertThrows[IllegalArgumentException](Quantize.readSq8Index(spark, tmp))
    // restore and confirm the index still opens (refusals were read-only)
    rewrite(orig)
    assert(Quantize.readSq8Index(spark, tmp).count() == 50)
    // empty-corpus write refuses before touching disk
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assertThrows[IllegalArgumentException](Quantize.writeSq8Index(
      Quantize.encodeSq8(empty, "vec_id", "embedding"),
      java.nio.file.Files.createTempDirectory("sq8-empty").toString))
  }

  test("sq8 misuse is refused") {
    val df = Seq((1L, Array(0f, 1f))).toDF("vec_id", "embedding")
    val coded = Quantize.encodeSq8(df, "vec_id", "embedding")
    assertThrows[IllegalArgumentException](
      Quantize.topKSq8(coded, "vec_id", df, "vec_id", "embedding", k = 0))
  }

  test("audit refuses element ranges past the exact-MSE integer ceiling") {
    // range ~4e9 → per-term floor(e²·1e12) overflows a long: the kernel
    // must refuse loudly (the decimal composite would overflow to NULL
    // just as silently as the long would wrap)
    val df = Seq((1L, Array(-2e9f, 2e9f, 0.5e9f))).toDF("vec_id", "embedding")
    val e = intercept[Exception](
      Quantize.int8Audit(df, "vec_id", "embedding").collect())
    assert(e.getMessage.contains("sq8_audit") ||
      Option(e.getCause).exists(_.getMessage.contains("sq8_audit")))
  }

  test("persisting null code words (null source vectors) is refused") {
    val df = Seq((1L, Some(Array(0f, 1f))), (2L, None))
      .toDF("vec_id", "embedding")
    val coded = Quantize.encodeSq8(df, "vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("sq8-null").toString
    val e = intercept[IllegalArgumentException](
      Quantize.writeSq8Index(coded, tmp))
    assert(e.getMessage.contains("null code"))
    // and an empty frame refuses BEFORE touching an existing index
    val good = java.nio.file.Files.createTempDirectory("sq8-keep").toString
    Quantize.writeSq8Index(
      Quantize.encodeSq8(df.filter($"vec_id" === 1L), "vec_id", "embedding"), good)
    assertThrows[IllegalArgumentException](Quantize.writeSq8Index(
      Quantize.encodeSq8(df.filter($"vec_id" < 0), "vec_id", "embedding"), good))
    assert(Quantize.readSq8Index(spark, good).count() == 1) // index intact
  }

  test("corpus-wide: every vector within the half-step bound, mse ≤ max²") {
    val out = Quantize.int8Audit(Tables.embeddings(spark, sfDir),
      "vec_id", "embedding").collect()
    assert(out.length == 500)
    out.foreach { r =>
      val scale = r.getAs[Double]("scale")
      val mx = r.getAs[Double]("max_abs_err")
      assert(mx <= scale / 2 + 1e-7, s"vec ${r.getLong(0)}: $mx > $scale/2")
      assert(r.getAs[Double]("mse") <= mx * mx + 1e-10)
      assert(r.getAs[Long]("n_dims") == 64)
    }
  }
}
