package graft

import graft.sim.{Ivf, IvfPq, Pq, Similarity}
import org.apache.spark.sql.functions._

/** Pins the IVFADC composition ([[graft.sim.IvfPq]]): full-probe
  * equivalence with the PQ full scan, genuine candidate pruning, recall
  * ordering, and the corpus-mismatch raise. */
class IvfPqSpec extends SparkSpec {

  private def indexes() = {
    val e = Tables.embeddings(spark, sfDir)
    val ivf = Ivf.train(e, "vec_id", "embedding", k = 8, iters = 2)
    val pq = Pq.train(e, "vec_id", "embedding", m = 16, ks = 16, iters = 2)
    (e, ivf, pq)
  }

  test("probing every cell reproduces the full-scan ADC result exactly") {
    val (e, ivf, pq) = indexes()
    val queries = e.filter(col("vec_id") < 5)
    val combined = IvfPq.build(ivf, pq)
    // nprobe = numCells (single-level index): nothing is pruned, so the
    // composition must be VALUE-IDENTICAL to Pq.topK — same ADC algebra,
    // same (cos desc, id) tie-break
    val n = combined.ivf.numCells.toInt
    val full = IvfPq.topK(combined, queries, "vec_id", "embedding",
        k = 10, nprobe = n)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val scan = Pq.topK(pq, queries, "vec_id", "embedding", k = 10)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(full == scan)
  }

  test("nprobe=1 scans only the probed cells' codes") {
    val (e, ivf, pq) = indexes()
    val queries = e.filter(col("vec_id") < 5)
    val combined = IvfPq.build(ivf, pq)
    val (probeRows, schema) =
      Ivf.collectProbes(ivf, queries, "vec_id", "embedding", 1)
    val cidIdx = schema.fieldIndex("_gf_cid")
    val cids = probeRows.map(_.getLong(cidIdx)).distinct.toSeq
    assert(cids.nonEmpty && cids.size < combined.ivf.numCells,
      s"fixture degenerate: ${cids.size} cells probed of ${combined.ivf.numCells}")
    val scanned = combined.coCodes
      .filter(col("_gf_cid").isin(cids: _*)).count()
    val total = combined.coCodes.count()
    assert(scanned < total,
      s"pruning did nothing: $scanned of $total rows scanned")
    // and the pruned probe still returns k rows per query with sane recall
    val exact = Similarity.bruteForceTopK(e, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
    val pruned = IvfPq.topK(combined, queries, "vec_id", "embedding",
      k = 10, nprobe = 1)
    val full = Pq.topK(pq, queries, "vec_id", "embedding", k = 10)
    val r = Similarity.recallAt(exact, Seq("ivfpq1" -> pruned, "pqfull" -> full))
      .groupBy("method").agg(avg(col("recall")).as("r"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    // pruning can only lose recall vs the full scan
    assert(r("ivfpq1") <= r("pqfull") + 1e-9)
    assert(r("ivfpq1") > 0.0) // but the probed cells do contain neighbours
  }

  test("exact rerank with full probes and full shortlist IS brute force") {
    val (e, ivf, pq) = indexes()
    val queries = e.filter(col("vec_id") < 5)
    val combined = IvfPq.build(ivf, pq)
    val n = combined.ivf.numCells.toInt
    val total = e.count().toInt
    // every cell probed + shortlist covering the whole corpus: the ADC
    // stage prunes nothing and the exact stage ranks everything — must be
    // VALUE-IDENTICAL to the brute-force scan, same cosines, same
    // (cos desc, id) tie-break
    val rer = IvfPq.topKRerank(combined, queries, "vec_id", "embedding",
        k = 10, nprobe = n, shortlist = total)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val exact = Similarity.bruteForceTopK(e, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 10)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(rer == exact)
  }

  test("rerank recall dominates the ADC ranking of the same probed set") {
    val (e, ivf, pq) = indexes()
    val queries = e.filter(col("vec_id") < 5)
    val combined = IvfPq.build(ivf, pq)
    val total = e.count().toInt
    // With the shortlist covering EVERY probed candidate, the rerank is
    // the exact-cosine ranking of the probed set — and any true top-k
    // member inside the probed set must appear in its exact top-k (fewer
    // than k vectors beat it globally, so fewer than k beat it in any
    // subset). Hence recall(rerank) >= recall(adc) on the same probes:
    // a theorem, not a fixture property.
    val exact = Similarity.bruteForceTopK(e, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
    val adc = IvfPq.topK(combined, queries, "vec_id", "embedding",
      k = 10, nprobe = 1)
    val rer = IvfPq.topKRerank(combined, queries, "vec_id", "embedding",
      k = 10, nprobe = 1, shortlist = total)
    val r = Similarity.recallAt(exact, Seq("adc" -> adc, "rerank" -> rer))
      .groupBy("method").agg(avg(col("recall")).as("r"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r("rerank") >= r("adc") - 1e-9,
      s"rerank recall ${r("rerank")} < adc recall ${r("adc")}")
    // and the exact stage really returns exact cosines: spot-check one
    // row against brute force (both round to 6dp from the same kernel)
    val rerMap = rer.collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(3)).toMap
    val exMap = exact.collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(3)).toMap
    val shared = rerMap.keySet.intersect(exMap.keySet)
    assert(shared.nonEmpty)
    shared.foreach(k => assert(rerMap(k) == exMap(k)))
  }

  test("a shortlist below k clamps up to k") {
    val (e, ivf, pq) = indexes()
    val queries = e.filter(col("vec_id") < 2)
    val combined = IvfPq.build(ivf, pq)
    val n = combined.ivf.numCells.toInt
    val out = IvfPq.topKRerank(combined, queries, "vec_id", "embedding",
      k = 10, nprobe = n, shortlist = 1)
    val counts = out.groupBy("query_id").count()
      .collect().map(_.getLong(1)).toSeq
    assert(counts.nonEmpty && counts.forall(_ == 10L))
  }

  test("residual ADC is exact when the codebook resolves every residual") {
    import spark.implicits._
    // EXACTLY ks=16 vectors: the codebook seeds are the 16 points
    // themselves, every residual subvector quantizes to its own entry
    // (distance 0), so quantization is EXACT and residual ADC with every
    // cell probed must equal brute force to the last rounded digit —
    // pinning the offset algebra, the per-(query,cell) LUT keying, and
    // the centering identity in one shot. (n must EQUAL ks: fewer points
    // would train an n-entry codebook and the ADC kernel refuses the
    // m×n LUT as a wrong-index mismatch.)
    val vecs = (0 until 16).map { i =>
      (i.toLong, Array.tabulate(8)(d =>
        math.sin(i * 2.7 + d * 1.3).toFloat))
    }.toDF("vec_id", "embedding")
    val ivf = Ivf.train(vecs, "vec_id", "embedding", k = 3, iters = 2)
    val res = IvfPq.buildResidual(ivf, m = 4, ks = 16, iters = 2)
    val queries = vecs.filter(col("vec_id") < 4)
    val n = ivf.numCells.toInt
    val out = IvfPq.topKResidual(res, queries, "vec_id", "embedding",
        k = 5, nprobe = n)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val exact = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(out == exact)
  }

  test("residual encoding beats plain IVFADC recall at equal m/ks") {
    // the REAL sf0.1 embeddings (2000 vectors, read-only): the sf0.001
    // fixture's 5-query recall grid is too coarse to separate encodings
    // (one neighbour = 0.02 recall); this is the corpus the claim is for
    val e = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val ivf = Ivf.train(e, "vec_id", "embedding", k = 8, iters = 2)
    val pq = Pq.train(e, "vec_id", "embedding", m = 16, ks = 16, iters = 2)
    val queries = e.filter(col("vec_id") < 25)
    val exact = Similarity.bruteForceTopK(e, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
    val plain = IvfPq.topK(IvfPq.build(ivf, pq),
      queries, "vec_id", "embedding", k = 10, nprobe = 2)
    val res = IvfPq.buildResidual(ivf, m = 16, ks = 16, iters = 2)
    val resK = IvfPq.topKResidual(res, queries, "vec_id", "embedding",
      k = 10, nprobe = 2)
    val r = Similarity.recallAt(exact,
        Seq("plain" -> plain, "residual" -> resK))
      .groupBy("method").agg(avg(col("recall")).as("r"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    // §V.A's claim at equal byte budget: residuals concentrate near the
    // origin, so the same m×ks codebook resolves finer detail. Measured
    // on this corpus; both probe the same cells, so the comparison
    // isolates the encoding.
    info(s"recall@10 at m=16 ks=16 nprobe=2 on sf0.1: " +
      s"plain=${r("plain")} residual=${r("residual")}")
    assert(r("residual") >= r("plain"),
      s"residual recall ${r("residual")} < plain ${r("plain")}")
  }

  test("persisted index round-trips and probes value-identically") {
    val (e, ivf, pq) = indexes()
    val queries = e.filter(col("vec_id") < 5)
    val combined = IvfPq.build(ivf, pq)
    val tmp = java.nio.file.Files.createTempDirectory("ivfpq-spec").toString
    IvfPq.writeIndex(combined, tmp)
    val reopened = IvfPq.readIndex(spark, tmp)
    val before = IvfPq.topK(combined, queries, "vec_id", "embedding",
        k = 10, nprobe = 2)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val after = IvfPq.topK(reopened, queries, "vec_id", "embedding",
        k = 10, nprobe = 2)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(before == after)
    // the code table really is partitioned by cell id on disk
    val dirs = new java.io.File(s"$tmp/codes").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("_gf_cid=")))
  }

  test("a missing parent manifest and mismatched halves refuse to open") {
    val (e, ivf, pq) = indexes()
    val combined = IvfPq.build(ivf, pq)
    val tmp = java.nio.file.Files.createTempDirectory("ivfpq-bad").toString
    IvfPq.writeIndex(combined, tmp)
    // torn write: manifest (written last) absent => refuse
    assert(new java.io.File(s"$tmp/manifest.json").delete())
    val e1 = intercept[IllegalArgumentException] {
      IvfPq.readIndex(spark, tmp)
    }
    assert(e1.getMessage.contains("manifest"))
    // halves from different geometries => refuse at open, not mid-probe
    import spark.implicits._
    val half = (0 until 16).map(i =>
      (i.toLong + 50000, Array.tabulate(16)(d => (i + d).toFloat)))
      .toDF("vec_id", "embedding")
    val otherIvf = Ivf.train(half, "vec_id", "embedding", k = 2, iters = 1)
    val tmp2 = java.nio.file.Files.createTempDirectory("ivfpq-mix").toString
    IvfPq.writeIndex(combined, tmp2)
    Ivf.writeIndex(otherIvf, s"$tmp2/ivf") // swap in a wrong-dim IVF half
    val e2 = intercept[IllegalArgumentException] {
      IvfPq.readIndex(spark, tmp2)
    }
    assert(e2.getMessage.contains("inconsistent"))
  }

  test("append ingests both halves; appended rows are found at rank 1") {
    val e = Tables.embeddings(spark, sfDir)
    val even = e.filter(col("vec_id") % 2 === 0)
    val odd = e.filter(col("vec_id") % 2 === 1)
    val ivf = Ivf.train(even, "vec_id", "embedding", k = 4, iters = 1)
    val pq = Pq.train(even, "vec_id", "embedding", m = 16, ks = 16, iters = 1)
    val tmp = java.nio.file.Files.createTempDirectory("ivfpq-app").toString
    IvfPq.writeIndex(IvfPq.build(ivf, pq), tmp)
    val n = IvfPq.appendToIndex(spark, tmp, odd, "vec_id", "embedding")
    assert(n == odd.count())
    val reopened = IvfPq.readIndex(spark, tmp)
    // both halves grew in lockstep
    assert(reopened.coCodes.count() == e.count())
    assert(reopened.ivf.indexed.count() == e.count())
    // an appended vector finds ITSELF at rank 1 through the combined
    // file with every cell probed (ADC distance to own code is minimal)
    val q = odd.filter(col("vec_id") < 10)
    val out = IvfPq.topK(reopened, q, "vec_id", "embedding",
        k = 1, nprobe = reopened.ivf.numCells.toInt)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(out.nonEmpty && out.forall { case (qid, nid) => qid == nid })
    // id collision refuses BEFORE writing: counts unchanged after
    val e1 = intercept[IllegalArgumentException] {
      IvfPq.appendToIndex(spark, tmp, odd.limit(3), "vec_id", "embedding")
    }
    assert(e1.getMessage.contains("re-uses ids"))
    assert(spark.read.parquet(s"$tmp/codes").count() == e.count())
    // wrong-dim batch refuses from the parent manifest
    import spark.implicits._
    val bad = Seq((900000L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val e2 = intercept[IllegalArgumentException] {
      IvfPq.appendToIndex(spark, tmp, bad, "vec_id", "embedding")
    }
    assert(e2.getMessage.contains("dim"))
  }

  test("residual index persists, re-opens, probes identically; plain open refuses it") {
    val (e, ivf, _) = indexes()
    val queries = e.filter(col("vec_id") < 5)
    val res = IvfPq.buildResidual(ivf, m = 16, ks = 16, iters = 1)
    val tmp = java.nio.file.Files.createTempDirectory("ivfpq-res").toString
    IvfPq.writeIndexResidual(res, tmp)
    val reopened = IvfPq.readIndexResidual(spark, tmp)
    val before = IvfPq.topKResidual(res, queries, "vec_id", "embedding",
        k = 10, nprobe = 2)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val after = IvfPq.topKResidual(reopened, queries, "vec_id", "embedding",
        k = 10, nprobe = 2)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(before == after)
    // the metric gate: a residual layout cannot be opened as plain
    // IVFADC (codes are relative to offsets a plain probe ignores)
    val e1 = intercept[IllegalArgumentException] {
      IvfPq.readIndex(spark, tmp)
    }
    assert(e1.getMessage.contains("metric") || e1.getMessage.contains("residual"))
    // ...and neither can a plain append write into it: the batch would
    // be encoded WITHOUT the per-cell offsets, corrupting every probe.
    // Refused from the manifest format BEFORE any write.
    val nCodes = spark.read.parquet(s"$tmp/codes").count()
    val e2 = intercept[IllegalArgumentException] {
      IvfPq.appendToIndex(spark, tmp, e.filter(col("vec_id") >= 900),
        "vec_id", "embedding")
    }
    assert(e2.getMessage.contains("RESIDUAL"))
    assert(spark.read.parquet(s"$tmp/codes").count() == nCodes)
  }

  test("indexes from different corpora refuse to combine") {
    spark.sharedState.cacheManager.clearCache()
    val e = Tables.embeddings(spark, sfDir)
    val ivf = Ivf.train(e, "vec_id", "embedding", k = 8, iters = 1)
    val pqHalf = Pq.train(e.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", m = 16, ks = 16, iters = 1)
    val ex = intercept[IllegalArgumentException] {
      IvfPq.build(ivf, pqHalf)
    }
    assert(ex.getMessage.contains("disagree"))
    ivf.release()
    pqHalf.release()
    assert(spark.sharedState.cacheManager.isEmpty, "the refusal left a cache behind")
  }
}
