package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Embedding similarity search + near-dup (SURVEY §2.3 rows 49-51):
  * brute-force cosine top-k as the correctness baseline, and a
  * random-hyperplane LSH bucket path as the 100 TB scale route. Vector math
  * is `zip_with`/`aggregate` over array columns — codegen'd, no UDFs, no
  * MLlib.
  */
object Similarity {

  /** Sequential-fold dot product in double (deterministic order). Handles
    * mixed element types (float vec × double plane); for the same-typed
    * cosine hot path use [[cosine]] (native codegen'd expression). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity via [[graft.functions.VecCosine]] — one generated
    * loop for all three sums instead of three interpreted `zip_with` +
    * `aggregate` folds; bit-identical results (same accumulation order). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.vecCosine(a, b)

  /** Exact top-k neighbours for each query vector. `queries` must be small
    * (it is broadcast); the corpus streams once through the crossJoin —
    * O(|corpus|·|queries|) dot products, embarrassingly parallel, no
    * shuffle of the corpus. */
  def bruteForceTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                     queries: DataFrame, queryId: String, queryVec: String,
                     k: Int = 10): DataFrame = {
    val joined = corpus.crossJoin(
      broadcast(queries.select(col(queryId).as("_gf_qid"), col(queryVec).as("_gf_qv"))))
    val w = Window.partitionBy("_gf_qid")
      .orderBy(col("_gf_cos").desc, col(corpusId))
    joined
      .withColumn("_gf_cos", cosine(col(corpusVec), col("_gf_qv")))
      .withColumn("_gf_rank", row_number().over(w))
      .filter(col("_gf_rank") <= k)
      .select(col("_gf_qid").as("query_id"), col(corpusId).as("neighbor_id"),
        col("_gf_rank").as("rank"), graft.Num.dround(col("_gf_cos"), 6).as("cosine"))
  }

  /** Deterministic pseudo-random unit-ish hyperplane components via a
    * splitmix64-style integer mix (no RNG state, reproducible across
    * runs/partitions). Returns `planes` arrays of `dim` doubles in [-1,1].
    */
  def hyperplanes(planes: Int, dim: Int, seed: Long = 42L): Seq[Array[Double]] =
    (0 until planes).map { p =>
      Array.tabulate(dim) { d =>
        var z = seed + (p.toLong * dim + d + 1) * 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z = z ^ (z >>> 31)
        // map to [-1, 1]
        (z.toDouble / Long.MaxValue.toDouble)
      }
    }

  /** LSH bucket id: sign bits of the vector against `planes` hyperplanes
    * packed into a long. Vectors with high cosine land in the same bucket
    * with high probability.
    *
    * Fails fast on a dimension mismatch: if the embedding length differs
    * from the plane length, `zip_with` null-pads and the dot product comes
    * back NULL — the silent version of that bug put every vector in bucket
    * 0 and degenerated the bucket self-join to O(n²). */
  def bucketId(vec: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val d = coalesce(dot(vec, lit(p)),
        raise_error(concat(lit(s"graft.sim: plane dot is NULL — embedding length "),
          size(vec).cast("string"), lit(s" != plane dim ${p.length}")))
          .cast(DoubleType))
      when(d >= 0, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)

  /** Plane dimension taken from the data itself (length of the first
    * vector) — a 1-row action, so the `dim` parameter can never silently
    * disagree with the corpus. */
  def inferDim(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol)).as("_gf_d")).limit(1).collect()
      .headOption.map(_.getInt(0))
      .getOrElse(throw new IllegalArgumentException(
        s"graft.sim: cannot infer embedding dim — no rows in $vecCol"))

  /** Bucket-count sizing for the 100 TB path: enough sign bits that the
    * expected bucket holds ~`targetBucket` vectors, clamped to [4, 24]
    * bits (16 .. 16M buckets). Per-bucket self-join cost is then
    * O(n·targetBucket) instead of O((n/256)²) with a fixed 8 planes. */
  def adaptivePlanes(n: Long, targetBucket: Long = 1024L): Int = {
    val bits = math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) /
      math.log(2.0)).toInt
    math.max(4, math.min(24, bits))
  }

  /** Near-duplicate embedding pairs (cosine >= threshold, idA < idB) via
    * LSH buckets + exact rerank. With `nPlanes` sign bits the candidate
    * set is the per-bucket self-join — at scale this is the whole point:
    * the shuffle key is an 8-byte bucket id and only same-bucket pairs pay
    * a dot product. Pairs split across one table's buckets are missed
    * (recall < 1), the standard LSH trade — `tables > 1` is the
    * OR-amplification fix (the embedding analogue of MinHash bands): R
    * independent seed-varied plane sets each bucket the corpus, candidate
    * id pairs union, distinct-dedup, and ONE exact rerank scores each
    * surviving pair — a pair is found if ANY table co-buckets it, so miss
    * probability decays exponentially in R while each vector still only
    * ever shuffles by 8-byte bucket keys. Defaults: `dim` ≤ 0 infers the
    * plane length from the data (a mismatch raises instead of silently
    * un-bucketing); `nPlanes` ≤ 0 sizes the bucket count from the corpus
    * ([[adaptivePlanes]], one extra count job). */
  def nearDuplicatePairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double = 0.99, nPlanes: Int = -1,
                         dim: Int = -1, seed: Long = 42L,
                         tables: Int = 1): DataFrame = {
    require(tables >= 1, s"tables=$tables must be >= 1")
    val d = if (dim > 0) dim else inferDim(df, vecCol)
    val p = if (nPlanes > 0) nPlanes else adaptivePlanes(df.count())
    val withId = df.select(col(idCol).as("_gf_id"), col(vecCol).as("_gf_v"))
    if (tables == 1) {
      // single table: vectors ride the bucket join, no join-back
      val planes = hyperplanes(p, d, seed)
      val withBucket = withId.select(col("_gf_id"), col("_gf_v"),
        bucketId(col("_gf_v"), planes).as("_gf_bucket"))
      val a = withBucket.select(col("_gf_bucket"), col("_gf_id").as("id_a"),
        col("_gf_v").as("_gf_va"))
      val b = withBucket.select(col("_gf_bucket"), col("_gf_id").as("id_b"),
        col("_gf_v").as("_gf_vb"))
      a.join(b, Seq("_gf_bucket"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          graft.Num.dround(cosine(col("_gf_va"), col("_gf_vb")), 6).as("cosine"))
        .filter(col("cosine") >= threshold)
    } else {
      // OR-amplified: id-only candidates per table, distinct union, one
      // exact rerank per surviving pair (vectors join back by id)
      val candidates = (0 until tables).map { t =>
        // golden-ratio stride decorrelates table seeds deterministically
        val planes = hyperplanes(p, d, seed + t * 0x9e3779b97f4a7c15L)
        val withBucket = withId.select(col("_gf_id"),
          bucketId(col("_gf_v"), planes).as("_gf_bucket"))
        val a = withBucket.select(col("_gf_bucket"), col("_gf_id").as("id_a"))
        val b = withBucket.select(col("_gf_bucket"), col("_gf_id").as("id_b"))
        a.join(b, Seq("_gf_bucket"))
          .filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b")
      }.reduce(_.unionByName(_)).distinct()
      candidates
        .join(withId.select(col("_gf_id").as("id_a"), col("_gf_v").as("_gf_va")),
          Seq("id_a"))
        .join(withId.select(col("_gf_id").as("id_b"), col("_gf_v").as("_gf_vb")),
          Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          graft.Num.dround(cosine(col("_gf_va"), col("_gf_vb")), 6).as("cosine"))
        .filter(col("cosine") >= threshold)
    }
  }

  /** ANN via LSH: bucket the corpus, probe each query's bucket, exact
    * rerank inside it. Same recall trade as [[nearDuplicatePairs]], with
    * the same OR-amplification fix: `tables > 1` probes R seed-varied
    * plane tables, unions the candidates, dedups per (query, neighbour),
    * and reranks once — each table is one more pass over the corpus
    * (bucket-keyed, never all-pairs). */
  def lshTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int = 10, nPlanes: Int = 8, dim: Int = -1,
              seed: Long = 42L, tables: Int = 1): DataFrame = {
    require(tables >= 1, s"tables=$tables must be >= 1")
    val d = if (dim > 0) dim else inferDim(corpus, corpusVec)
    val p = if (nPlanes > 0) nPlanes else adaptivePlanes(corpus.count())
    val cv = corpus.select(col(corpusId).as("_gf_cid"), col(corpusVec).as("_gf_cv"))
    val qv = queries.select(col(queryId).as("_gf_qid"), col(queryVec).as("_gf_qv"))
    val once =
      if (tables == 1) {
        val planes = hyperplanes(p, d, seed)
        cv.withColumn("_gf_bucket", bucketId(col("_gf_cv"), planes))
          .join(broadcast(qv.withColumn("_gf_bucket",
            bucketId(col("_gf_qv"), planes))), Seq("_gf_bucket"))
          .select("_gf_qid", "_gf_qv", "_gf_cid", "_gf_cv")
      } else {
        // dedup ID-ONLY candidates across tables (vectors would otherwise
        // shuffle up to R redundant copies per surviving pair), then join
        // the vectors back for one rerank per (query, neighbour)
        val candIds = (0 until tables).map { t =>
          val planes = hyperplanes(p, d, seed + t * 0x9e3779b97f4a7c15L)
          val c = corpus.select(col(corpusId).as("_gf_cid"),
            bucketId(col(corpusVec), planes).as("_gf_bucket"))
          val q = queries.select(col(queryId).as("_gf_qid"),
            bucketId(col(queryVec), planes).as("_gf_bucket"))
          c.join(broadcast(q), Seq("_gf_bucket")).select("_gf_qid", "_gf_cid")
        }.reduce(_.unionByName(_)).dropDuplicates("_gf_qid", "_gf_cid")
        candIds.join(cv, Seq("_gf_cid")).join(broadcast(qv), Seq("_gf_qid"))
      }
    val w = Window.partitionBy("_gf_qid")
      .orderBy(col("_gf_cos").desc, col("_gf_cid"))
    once
      .withColumn("_gf_cos", cosine(col("_gf_cv"), col("_gf_qv")))
      .withColumn("_gf_rank", row_number().over(w))
      .filter(col("_gf_rank") <= k)
      .select(col("_gf_qid").as("query_id"), col("_gf_cid").as("neighbor_id"),
        col("_gf_rank").as("rank"), graft.Num.dround(col("_gf_cos"), 6).as("cosine"))
  }

  /** [[lshTopK]] under an EXPLICIT plane matrix — the oracle lane (the
    * Pq/BPE handed-fixture discipline): handed planes whose entries are
    * exactly representable (e.g. ±2⁻³ Walsh rows) make the bucket
    * assignment — the sign of a sequential-fold dot product — and the
    * in-bucket rerank fully SQL-expressible, so the whole
    * bucket→probe→rerank machinery can go hash-green while the
    * pseudo-random default planes stay rows-only. Same plan shape as the
    * single-table [[lshTopK]]: corpus buckets once, queries broadcast. */
  def lshTopKWithPlanes(corpus: DataFrame, corpusId: String, corpusVec: String,
                        queries: DataFrame, queryId: String, queryVec: String,
                        planes: Seq[Array[Double]], k: Int = 10): DataFrame = {
    require(planes.nonEmpty, "lshTopKWithPlanes needs at least one plane")
    require(k >= 1, s"k must be >= 1, got $k")
    val cv = corpus.select(col(corpusId).as("_gf_cid"), col(corpusVec).as("_gf_cv"))
    val qv = queries.select(col(queryId).as("_gf_qid"), col(queryVec).as("_gf_qv"))
    val w = Window.partitionBy("_gf_qid")
      .orderBy(col("_gf_cos").desc, col("_gf_cid"))
    cv.withColumn("_gf_bucket", bucketId(col("_gf_cv"), planes))
      .join(broadcast(qv.withColumn("_gf_bucket",
        bucketId(col("_gf_qv"), planes))), Seq("_gf_bucket"))
      .withColumn("_gf_cos", cosine(col("_gf_cv"), col("_gf_qv")))
      .withColumn("_gf_rank", row_number().over(w))
      .filter(col("_gf_rank") <= k)
      .select(col("_gf_qid").as("query_id"), col("_gf_cid").as("neighbor_id"),
        col("_gf_rank").as("rank"), graft.Num.dround(col("_gf_cos"), 6).as("cosine"))
  }

  /** Recall@k of approximate top-k results against the exact ground
    * truth: per (method, query), |approx ∩ exact| / |exact| — the
    * evaluation loop that tunes k/nprobe/planes before trusting an index
    * at corpus scale. All frames are (query_id, neighbor_id, rank, ...)
    * as produced by the topK operators; ground truth defines the
    * denominator (recall of an empty exact set is vacuous and such
    * queries are dropped). Semi-join per method on (query, neighbor),
    * then two tiny keyed counts — nothing heavier than the result lists
    * themselves ever shuffles. */
  def recallAt(exact: DataFrame,
               approx: Seq[(String, DataFrame)]): DataFrame = {
    require(approx.nonEmpty, "recallAt needs at least one approximate result")
    // The ground truth is queries × k rows — dimension-sized by contract
    // (it came out of a top-k). Collect it ONCE into a LocalRelation:
    // referencing the exact frame directly would re-execute the whole
    // brute-force subplan once per approximate method (plus once for the
    // per-query totals) inside the final union's single action — the same
    // repeated-subplan trap Ivf.topK's probe collect closes.
    val spark = exact.sparkSession
    val sel = exact.select(col("query_id"), col("neighbor_id"))
    val truthRows = sel.collect()
    val truth = spark.createDataFrame(
      java.util.Arrays.asList(truthRows: _*), sel.schema)
    // The broadcast hint goes on the semi-join's build side only: a hinted
    // `truthN` would carry it to the preserved side of the left join,
    // where Spark cannot build and drops the hint with a warning.
    val truthN = truth.groupBy("query_id").agg(count(lit(1)).as("_gf_n"))
    approx.map { case (name, df) =>
      val hits = df.select(col("query_id"), col("neighbor_id"))
        .join(broadcast(truth), Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("_gf_hits"))
      truthN
        .join(hits, Seq("query_id"), "left")
        .select(lit(name).as("method"), col("query_id"),
          graft.Num.dround(
            coalesce(col("_gf_hits"), lit(0L)).cast("double")
              / col("_gf_n").cast("double"), 4).as("recall"))
    }.reduce(_.unionByName(_))
  }
}
