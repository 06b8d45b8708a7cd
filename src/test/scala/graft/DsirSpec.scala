package graft

import graft.text.Dsir

/** Pins for DSIR importance weighting ([[graft.text.Dsir]]):
  * hand-computed smoothed log-ratios, affinity ordering, no-evidence
  * nulls, hashed-lane equivalence on a collision-free fixture, the
  * deterministic top-k, and refusals. */
class DsirSpec extends SparkSpec {
  import spark.implicits._

  private val target = Seq(Tuple1("aa bb")).toDF("text")
  private val raw = Seq(Tuple1("cc dd")).toDF("text")

  private def weigh(corpus: Seq[(Long, String)],
                    buckets: Option[Int] = None,
                    portable: Boolean = false) =
    Dsir.logWeights(corpus.toDF("doc_id", "text"), "doc_id", "text",
        target, raw, buckets = buckets, portableHash = portable)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_feats"),
          Option(r.get(r.fieldIndex("log_weight"))).map(_.asInstanceOf[Double])))
      .toMap

  test("hand-computed smoothed log-ratio") {
    // target grams {aa, bb, "aa bb"}: T=3; raw {cc, dd, "cc dd"}: R=3;
    // V = 6 distinct grams. Doc "aa": lr = ln((1+1)/(3+6)) - ln((0+1)/(3+6))
    // = ln 2 -> dround6 0.693147 -> dround4 weight 0.6931.
    val w = weigh(Seq((1L, "aa")))
    assert(w(1L) == ((1L, Some(0.6931))))
  }

  test("symmetric gram sets cancel to zero") {
    // "aa cc": lr(aa)=ln2, lr(cc)=-ln2, lr("aa cc")=ln(1/9)-ln(1/9)=0.
    val w = weigh(Seq((2L, "aa cc")))
    assert(w(2L) == ((3L, Some(0.0))))
  }

  test("target-affine outweighs raw-affine; blank has no evidence") {
    val w = weigh(Seq((1L, "aa bb"), (2L, "cc dd"), (3L, "")))
    assert(w(1L)._2.get > 0 && w(2L)._2.get < 0)
    assert(w(1L)._2.get > w(2L)._2.get)
    assert(w(3L) == ((0L, None)))
  }

  test("hashed lane matches the string lane when totals are equal") {
    // T = R makes the smoothing denominators cancel (lr depends only on
    // the count ratio), so with collision-free buckets the hashed
    // estimator is value-identical to the string one.
    val corpus = Seq((1L, "aa bb"), (2L, "cc dd"), (3L, "aa cc"))
    assert(weigh(corpus) == weigh(corpus, buckets = Some(1 << 20)))
  }

  test("portable md5 lane matches both lanes on collision-free buckets and refuses bucketless use") {
    val corpus = Seq((1L, "aa bb"), (2L, "cc dd"), (3L, "aa cc"))
    // same cancellation fixture as the xxhash64 lane: with wide
    // collision-free buckets all three feature spaces give identical
    // estimates — so a gap between the two HASHED lanes would expose a
    // portable-fold arithmetic bug, not a collision artifact
    assert(weigh(corpus) == weigh(corpus, buckets = Some(1 << 20), portable = true))
    intercept[IllegalArgumentException] {
      Dsir.logWeights(Seq((1L, "aa")).toDF("doc_id", "text"),
        "doc_id", "text", target, raw, portableHash = true)
    }
  }

  test("selectTop keeps the k best, skips nulls, ties on id") {
    val w = Seq((1L, 5L, 2.0), (2L, 5L, 3.0), (3L, 0L, null),
        (4L, 5L, 3.0))
      .map { case (id, n, lw) => (id, n, Option(lw).map(_.asInstanceOf[Double])) }
      .toDF("doc_id", "n_feats", "log_weight")
    val top = Dsir.selectTop(w, "doc_id", k = 2)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(top.toSet == Set(2L, 4L))   // 3.0 twice beats 2.0; null absent
  }

  test("refusals: bad alpha, bad buckets, empty slices") {
    val c = Seq((1L, "aa")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dsir.logWeights(c, "doc_id", "text", target, raw, alpha = 0.0) }
    intercept[IllegalArgumentException] {
      Dsir.logWeights(c, "doc_id", "text", target, raw, buckets = Some(0)) }
    intercept[IllegalArgumentException] {
      Dsir.logWeights(c, "doc_id", "text",
        Seq(Tuple1("")).toDF("text"), raw) }
  }

  test("logWeightsManaged releases the fit's cached count tables") {
    spark.sharedState.cacheManager.clearCache()
    val c = Seq((1L, "aa bb")).toDF("doc_id", "text")
    val w = Dsir.logWeightsManaged(c, "doc_id", "text", target, raw)
    assert(w.df.count() == 1)
    assert(!spark.sharedState.cacheManager.isEmpty)
    w.release()
    assert(spark.sharedState.cacheManager.isEmpty,
      "release() must drop the fit's cached feature-count tables")
  }
}
