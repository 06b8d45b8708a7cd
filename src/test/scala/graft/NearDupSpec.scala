package graft

import graft.dedup.{Components, MinHash, NgramJaccard, SimHash}
import graft.sim.Similarity
import org.apache.spark.sql.functions._

class NearDupSpec extends SparkSpec {
  import spark.implicits._

  private val baseText = (1 to 60).map(i => s"word$i").mkString(" ")
  private val nearText = (1 to 48).map(i => s"word$i").mkString(" ") // 80% prefix
  private val otherText = (100 to 160).map(i => s"tok$i").mkString(" ")

  test("minhash finds planted near-dup, skips unrelated") {
    val df = Seq((1L, baseText), (2L, nearText), (3L, otherText))
      .toDF("doc_id", "text")
    val pairs = MinHash.nearDuplicatePairs(df, "text", "doc_id",
      threshold = 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(pairs(0).getDouble(2) > 0.5)
  }

  test("minhash dedup drops the larger-id near-dup") {
    val df = Seq((1L, baseText), (2L, nearText), (3L, otherText))
      .toDF("doc_id", "text")
    val kept = MinHash.dedup(df, "text", "doc_id", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
  }

  test("dedup's identical-signature collapse keeps exactly the pair-derived set") {
    // a planted boilerplate mega-cluster (identical text -> identical
    // signatures), near-dups of its representative AND of a non-rep
    // member, plus unrelated docs — the shapes the collapse proof covers
    val boiler = (1 to 40).map(i => (100L + i, baseText))
    val df = (boiler ++ Seq(
      (50L, nearText),        // near-dup of the cluster, id BELOW the reps
      (200L, nearText),       // near-dup of the cluster, id above
      (300L, otherText),      // unrelated
      (301L, otherText)       // exact dup of unrelated
    )).toDF("doc_id", "text")
    val kept = MinHash.dedup(df, "text", "doc_id", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the reference semantics, derived from the full pair list
    val losers = MinHash.nearDuplicatePairs(df, "text", "doc_id",
        threshold = 0.5)
      .select("id_b").collect().map(_.getLong(0)).toSet
    val expected = (boiler.map(_._1) ++ Seq(50L, 200L, 300L, 301L)).toSet -- losers
    assert(kept == expected, s"collapse diverged: kept=$kept expected=$expected")
    // doc 50 (smallest id overall) must be the sole survivor of its
    // near-dup neighborhood; the unrelated pair keeps its min id
    assert(kept.contains(50L) && kept.contains(300L) && !kept.contains(301L))
    // 50 < every cluster id and near-matches the shared signature, so the
    // entire mega-cluster must drop (via the rep — non-reps drop by collapse)
    assert(!boiler.map(_._1).exists(kept.contains))
  }

  test("simhash: identical docs distance 0; one-word change small; unrelated far") {
    val df = Seq((1L, baseText), (2L, baseText),
      (3L, baseText.replaceFirst("word1 ", "zzzz ")), (4L, otherText))
      .toDF("doc_id", "text")
    val pairs = SimHash.nearDuplicatePairs(df, "text", "doc_id",
      maxDist = 7, blocks = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 2L)) == 0)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) > 0)
    assert(!pairs.keys.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("ngram jaccard reranks candidates exactly") {
    val df = Seq((1L, baseText), (2L, nearText), (3L, otherText))
      .toDF("doc_id", "text")
    val pairs = NgramJaccard.pairs(df, "text", "doc_id", threshold = 0.5).collect()
    assert(pairs.length == 1)
    val j = pairs(0).getDouble(2)
    // 46 shared 3-gram shingles / 58 total = 0.7931
    assert(math.abs(j - 0.7931) < 0.01)
  }

  test("cosine math and brute-force topk ranking") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)), (3L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") === 1L)
    val top = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 2).collect()
    assert(top.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L, 2L))
    assert(top(0).getAs[Double]("cosine") == 1.0)
  }

  test("lsh embedding near-dup finds scaled clone") {
    val vecs = (0 until 10).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 8 + d + 1).toFloat))
    }
    val clones = Seq((100L, vecs(0)._2.map(x => x * 1.01f)))
    val df = (vecs ++ clones).toDF("vec_id", "embedding")
    val pairs = Similarity.nearDuplicatePairs(df, "vec_id", "embedding",
      threshold = 0.999, nPlanes = 6, dim = 8).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).contains((0L, 100L)))
  }

  test("lsh topk returns the query itself as rank 1") {
    val vecs = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.cos(i * 17 + d).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val top = Similarity.lshTopK(df, "vec_id", "embedding",
      df.filter(col("vec_id") === 3L), "vec_id", "embedding",
      k = 3, nPlanes = 4, dim = 8).collect()
    assert(top.head.getAs[Long]("neighbor_id") == 3L)
    assert(top.head.getAs[Double]("cosine") == 1.0)
  }

  test("lsh dim mismatch fails fast instead of silently un-bucketing") {
    val vecs = (0 until 6).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 8 + d + 1).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.nearDuplicatePairs(df, "vec_id", "embedding",
        threshold = 0.9, nPlanes = 4, dim = 16).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("plane dim")))
  }

  test("lsh infers plane dim from the data when not given") {
    val vecs = (0 until 10).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 8 + d + 1).toFloat))
    }
    val clones = Seq((100L, vecs(0)._2.map(x => x * 1.01f)))
    val df = (vecs ++ clones).toDF("vec_id", "embedding")
    assert(Similarity.inferDim(df, "embedding") == 8)
    val pairs = Similarity.nearDuplicatePairs(df, "vec_id", "embedding",
      threshold = 0.999, nPlanes = 6).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).contains((0L, 100L)))
  }

  /** Deterministically construct a true near-pair that table 0 assigns to
    * DIFFERENT buckets (single-table LSH misses it by construction) while
    * some later seed-varied table co-buckets it — the exact miss class
    * OR-amplification exists for. */
  private def findSplitPair(nTables: Int): (Array[Float], Array[Float]) = {
    def bucketOf(v: Array[Float], planes: Seq[Array[Double]]): Long =
      planes.zipWithIndex.map { case (p, i) =>
        var dot = 0.0
        var d = 0
        while (d < p.length) { dot += v(d).toDouble * p(d); d += 1 }
        if (dot >= 0) 1L << i else 0L
      }.sum
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.indices.map(i => a(i).toDouble * b(i)).sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val tablePlanes = (0 until nTables).map(t =>
      Similarity.hyperplanes(8, 8, 42L + t * 0x9e3779b97f4a7c15L))
    val found = (0 until 5000).iterator.map { i =>
      val rnd = new scala.util.Random(i)
      val v = Array.fill(8)(rnd.nextFloat() - 0.5f)
      val w = v.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)
      (v, w)
    }.find { case (v, w) =>
      cos(v, w) >= 0.995 &&
        bucketOf(v, tablePlanes.head) != bucketOf(w, tablePlanes.head) &&
        (1 until nTables).exists(t =>
          bucketOf(v, tablePlanes(t)) == bucketOf(w, tablePlanes(t)))
    }
    assert(found.nonEmpty, "search space exhausted without a planted split pair")
    found.get
  }

  private def fillerVecs: Seq[(Long, Array[Float])] = (0 until 20).map { i =>
    val rnd = new scala.util.Random(100000 + i)
    (10L + i, Array.fill(8)(rnd.nextFloat() - 0.5f))
  }

  test("OR-amplified tables recover a pair table 0's planes provably split") {
    val nTables = 4
    val (v, w) = findSplitPair(nTables)
    val df = (Seq((1L, v), (2L, w)) ++ fillerVecs).toDF("vec_id", "embedding")
    def pairsWith(tables: Int) =
      Similarity.nearDuplicatePairs(df, "vec_id", "embedding",
        threshold = 0.99, nPlanes = 8, dim = 8, tables = tables)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairsWith(1).contains((1L, 2L)),
      "single table should miss the constructed split pair")
    assert(pairsWith(nTables).contains((1L, 2L)),
      "OR-amplified tables must recover it")
  }

  test("OR-amplified lshTopK recovers the split pair for the query path too") {
    val nTables = 4
    val (v, w) = findSplitPair(nTables)
    val corpus = (Seq((2L, w)) ++ fillerVecs).toDF("vec_id", "embedding")
    val query = Seq((1L, v)).toDF("vec_id", "embedding")
    def neighbours(tables: Int) =
      Similarity.lshTopK(corpus, "vec_id", "embedding",
        query, "vec_id", "embedding", k = 5, nPlanes = 8, dim = 8,
        tables = tables)
        .collect().map(_.getAs[Long]("neighbor_id")).toSet
    assert(!neighbours(1).contains(2L),
      "single table should miss the true neighbour")
    assert(neighbours(nTables).contains(2L),
      "OR-amplified probing must recover it")
  }

  test("minhash band join is id-only and reuses the signature exchange") {
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    // pin the scale-shaped plan: no AQE rewrites, no broadcast shortcut
    val conf = spark.conf
    val (aqe, bcast) = (conf.get("spark.sql.adaptive.enabled"),
      conf.get("spark.sql.autoBroadcastJoinThreshold"))
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Seq((1L, baseText), (2L, nearText), (3L, otherText))
        .toDF("doc_id", "text")
      val plan = MinHash.nearDuplicatePairs(df, "text", "doc_id", threshold = 0.5)
        .queryExecution.executedPlan
      // the signature subtree feeds three consumers (band buckets + two
      // rejoin sides); its exchange must be computed once and reused, or
      // the id-only refactor would triple the shingle-hash map stage
      assert(plan.collect { case r: ReusedExchangeExec => r }.nonEmpty,
        s"signature exchange not reused:\n$plan")
      // the band-bucket exchanges must not carry the 512-byte signature
      val bandEx = plan.collect {
        case e: ShuffleExchangeExec if e.output.exists(_.name == "_gf_band") => e
      }
      assert(bandEx.nonEmpty, s"no band exchange found:\n$plan")
      assert(!bandEx.exists(_.output.exists(_.name.startsWith("_gf_sig"))),
        s"signature rides the band shuffle:\n$plan")
    } finally {
      conf.set("spark.sql.adaptive.enabled", aqe)
      conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    }
  }

  test("cross-corpus minhash pairs and near-decontamination") {
    val corpus = Seq((1L, baseText), (2L, otherText),
      (3L, (200 to 260).map(i => s"q$i").mkString(" "))).toDF("doc_id", "text")
    // benchmark doc 10 paraphrases doc 1 (80% shingle overlap), doc 11 is
    // unrelated; ids overlap corpus ids deliberately — sides are distinct
    val bench = Seq((10L, nearText), (11L, (300 to 360).map(i => s"b$i").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = MinHash.crossNearDuplicatePairs(corpus, bench, "text", "doc_id",
      threshold = 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 10L)))
    val kept = MinHash.decontaminateNear(corpus, bench, "text", "doc_id",
      threshold = 0.5).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 3L))
  }

  test("incrementalNear drops batch docs matching the stored signature index") {
    // existing corpus: doc 1 (base text), doc 2 (unrelated)
    val corpus = Seq((1L, baseText), (2L, otherText)).toDF("doc_id", "text")
    val indexSigs = MinHash.signatures(corpus, "text", "doc_id", n = 3, k = 64)
    // new batch: 10 near-dups doc 1 (drop via index), 11+12 mutual
    // near-dups (within-batch: 12 drops), 13 fresh
    val batch = Seq((10L, nearText), (11L, baseText + " tail"),
      (12L, baseText + " tail two"), (13L, (500 to 560).map(i => s"n$i").mkString(" ")))
      .toDF("doc_id", "text")
    // 10/11/12 all near doc 1 (directly or transitively): only 13 survives
    val kept = MinHash.incrementalNear(batch, indexSigs, "text", "doc_id",
      threshold = 0.5).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(13L))
    // a batch against an UNRELATED index keeps its within-batch survivors
    val freshIndex = MinHash.signatures(
      Seq((99L, (900 to 960).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text"),
      "text", "doc_id", n = 3, k = 64)
    val kept2 = MinHash.incrementalNear(batch, freshIndex, "text", "doc_id",
      threshold = 0.5).select("doc_id").collect().map(_.getLong(0)).toSet
    // within-batch greedy: 10 near 11 and 11 near 12 (both ≥ 0.5), so
    // smaller ids win and 11, 12 drop; nothing matches the fresh index
    assert(kept2 === Set(10L, 13L))
  }

  test("recallAt scores approximate results against exact ground truth") {
    val exact = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2), (2L, 22L, 3))
      .toDF("query_id", "neighbor_id", "rank")
    val approxGood = exact // perfect recall
    val approxPart = Seq((1L, 10L, 1), (1L, 99L, 2), (1L, 12L, 3),
      (2L, 77L, 1), (2L, 78L, 2), (2L, 79L, 3))
      .toDF("query_id", "neighbor_id", "rank") // q1: 2/3, q2: 0/3
    val out = Similarity.recallAt(exact,
        Seq("good" -> approxGood, "part" -> approxPart))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out(("good", 1L)) === 1.0 && out(("good", 2L)) === 1.0)
    assert(out(("part", 1L)) === 0.6667 && out(("part", 2L)) === 0.0)
  }

  test("minhash rejects k not divisible by bands") {
    val df = Seq((1L, baseText)).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      MinHash.nearDuplicatePairs(df, "text", "doc_id", k = 64, bands = 10)
    }
    // k = 0 divides every band count, but signs every doc alike
    intercept[IllegalArgumentException] {
      MinHash.dedup(df, "text", "doc_id", k = 0)
    }
  }

  test("component dedup keeps one doc per connected chain A~B~C") {
    // planted 3-chain: 1~2 and 2~3 near-match, 1≁3 directly; 4 unrelated.
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val labels = Components.componentLabels(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("doc_id", "text")
    val kept = Components.dedupByComponent(docs, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L))
  }

  test("keep-best component dedup keeps the argmax-score doc per cluster") {
    // 3-chain {1,2,3}: doc 2 has the highest score and must win even
    // though dedupByComponent's min-id policy would keep doc 1. Pair
    // {5,6}: equal scores, min-id tie-break keeps 5. Doc 4 untouched.
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val docs = Seq((1L, 0.2), (2L, 0.9), (3L, 0.5), (4L, 0.1),
      (5L, 0.7), (6L, 0.7)).toDF("doc_id", "q")
    val kept = Components.dedupByComponentBest(docs, "doc_id", "q", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L, 5L))
  }

  test("keep-best ranks pair ids missing from the corpus below every real doc") {
    // Pair graph references id 7 that the doc frame doesn't hold (e.g. a
    // stale incremental pair file). 7 must not win its component by
    // scoring null; the present doc 8 represents the cluster, and 7
    // can't be "kept" (it isn't in df to begin with).
    val pairs = Seq((7L, 8L)).toDF("id_a", "id_b")
    val docs = Seq((8L, 0.1), (9L, 0.5)).toDF("doc_id", "q")
    val kept = Components.dedupByComponentBest(docs, "doc_id", "q", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(8L, 9L))
  }

  test("component labels converge on a long chain (diameter > 2)") {
    val chain = (1L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Components.componentLabels(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.values.toSet == Set(1L))
    assert(labels.keySet == (1L to 9L).toSet)
  }

  test("star contraction labels a 1000-node chain in O(log n) rounds") {
    // The adversarial shape for label propagation: a pure chain has
    // diameter 999, so min-label propagation would need ~999 rounds.
    // Alternating large-star/small-star contraction must finish in
    // ~2·log2(1000) ≈ 20 rounds (+1 fixed-point confirmation round).
    val n = 1000L
    val chain = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labelsDf, rounds) = Components.componentLabelsWithRounds(chain, maxIter = 30)
    val labels = labelsDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.keySet == (1L to n).toSet)
    assert(labels.values.toSet == Set(1L))
    assert(rounds <= 24, s"contraction took $rounds rounds — not O(log n)")
  }

  test("contraction rounds drop their localCheckpoint blocks once superseded") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, rounds) = Components.componentLabelsWithRounds(chain)
    assert(rounds >= 3)
    // the returned plan reads the pair checkpoint and the final round only
    val read = labels.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet
    val kept = sc.getPersistentRDDs.keySet -- before
    assert(kept.subsetOf(read) && kept.size <= 2,
      s"$rounds rounds kept ${kept.size} checkpoint RDDs, the plan reads ${read.size}")
    assert(labels.collect().map(_.getLong(1)).toSet == Set(1L))
  }

  test("reliable-checkpoint file count stays bounded across rounds") {
    // A chain of diameter 8 needs several propagation rounds; each round
    // reliably checkpoints a new label frame when a checkpoint dir is set.
    // Without per-round cleanup every round leaks a full node-set copy.
    val ckptRoot = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(ckptRoot)
    try {
      val chain = (1L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val labels = Components.componentLabels(chain).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels.values.toSet == Set(1L))
      // All intermediates (edges + per-round label frames) must be deleted;
      // only the returned frame's own checkpoint may remain.
      val rddDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(ckptRoot))
        .filter(p => p.getFileName.toString.startsWith("rdd-"))
        .count()
      assert(rddDirs <= 2, s"checkpoint dir leaked $rddDirs rdd-* entries")
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("persisted signature index: round-trip identity and refusal ladder") {
    import spark.implicits._
    import graft.dedup.MinHash
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").filter(col("doc_id") < 120)
    val base = MinHash.signatures(
      docs.filter(col("doc_id") < 60), "text", "doc_id", n = 3, k = 64)
    val more = MinHash.signatures(
      docs.filter(col("doc_id") >= 60), "text", "doc_id", n = 3, k = 64)
    val dir = java.nio.file.Files.createTempDirectory("graft-mh-sigs").toString
    val path = s"$dir/idx"
    MinHash.writeSignatureIndex(base, path)
    MinHash.appendToSignatureIndex(more, path)
    val reopened = MinHash.readSignatureIndex(spark, path)
    // write ∪ append ≡ one full index: probing either yields identical rows
    val full = MinHash.signatures(docs, "text", "doc_id", n = 3, k = 64)
    val probe = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 900000).as("doc_id"), col("text"))
    def run(ix: org.apache.spark.sql.DataFrame) =
      MinHash.incrementalNear(probe, ix, "text", "doc_id", threshold = 0.5)
        .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(run(reopened) == run(full))
    // refusals: append id collision, wrong k, empty write, foreign manifest
    val ex1 = intercept[IllegalArgumentException] {
      MinHash.appendToSignatureIndex(base.limit(3), path)
    }
    assert(ex1.getMessage.contains("already present"))
    val ex2 = intercept[IllegalArgumentException] {
      MinHash.appendToSignatureIndex(
        MinHash.signatures(probe, "text", "doc_id", n = 3, k = 32), path)
    }
    assert(ex2.getMessage.contains("k=64"))
    val ex3 = intercept[IllegalArgumentException] {
      MinHash.writeSignatureIndex(base.limit(0), s"$dir/empty")
    }
    assert(ex3.getMessage.contains("empty"))
    // an id repeated inside the frame, on both write paths
    val twice = MinHash.signatures(probe, "text", "doc_id", n = 3, k = 64)
    val ex5 = intercept[IllegalArgumentException] {
      MinHash.writeSignatureIndex(base.unionByName(base.limit(1)), s"$dir/dup")
    }
    assert(ex5.getMessage.contains("repeated ids"))
    val ex6 = intercept[IllegalArgumentException] {
      MinHash.appendToSignatureIndex(twice.unionByName(twice.limit(1)), path)
    }
    assert(ex6.getMessage.contains("repeated ids"))
    assert(MinHash.readSignatureIndex(spark, path).count() == full.count())
    val fp = new java.io.PrintWriter(s"$path/manifest.json")
    try fp.write("""{"format": "other", "k": 64, "rows": 1}""") finally fp.close()
    new java.io.File(s"$path/.manifest.json.crc").delete(): Unit
    val ex4 = intercept[IllegalArgumentException] {
      MinHash.readSignatureIndex(spark, path)
    }
    assert(ex4.getMessage.contains("graft-minhash-v1"))
    // only the format field decides: the tag named in another field does not pass
    val fp2 = new java.io.PrintWriter(s"$path/manifest.json")
    try fp2.write("""{"format": "other", "note": "graft-minhash-v1", "k": 64, "rows": 1}""")
    finally fp2.close()
    assert(intercept[IllegalArgumentException] {
      MinHash.readSignatureIndex(spark, path)
    }.getMessage.contains("foreign"))
  }

  test("dedup_recall grader computes exact precision/recall on a known fixture") {
    import spark.implicits._
    // ground truth: pairs (1,2) and (3,4); the detector finds (1,2) and
    // a false positive (1,3) -> precision 1/2, recall 1/2
    val truth = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val detected = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val nTrue = truth.agg(org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("n_true"))
    val detN = detected.distinct().agg(org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("n_detected"))
    val hitN = detected.distinct()
      .join(truth, Seq("id_a", "id_b"), "left_semi")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_hits"))
    val r = nTrue.crossJoin(detN).crossJoin(hitN).collect()(0)
    assert(r.getLong(0) == 2 && r.getLong(1) == 2 && r.getLong(2) == 1)
    // and the REGISTERED grader emits sane mass on the real fixture:
    // every method's hits are bounded by both detected and true pairs
    val graded = SparkEntry.queries("dedup_recall")(spark, sfDir).collect()
    // 5 graded methods since r12: minhash, jaccard, simhash, winnow,
    // minhash_portable
    assert(graded.length == 5)
    graded.foreach { row =>
      val nT = row.getAs[Long]("n_true"); val nD = row.getAs[Long]("n_detected")
      val nH = row.getAs[Long]("n_hits")
      assert(nH <= nT && nH <= nD, s"impossible grading row: $row")
      assert(nT == graded.head.getAs[Long]("n_true"),
        "methods must be graded against ONE shared ground truth")
    }
    // minhash/jaccard must catch most planted clones on this fixture
    val recalls = graded.map(r2 =>
      r2.getAs[String]("method") -> r2.getAs[Double]("recall")).toMap
    assert(recalls("minhash") > 0.8 && recalls("jaccard") > 0.8,
      s"near-dup recall collapsed: $recalls")
    assert(recalls("winnow") > 0.8 && recalls("minhash_portable") > 0.8,
      s"portable/winnow recall collapsed: $recalls")
  }
}
