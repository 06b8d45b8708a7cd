package graft

import graft.text.{GopherRules, QualityPanel}

/** Pins for the unified quality panel ([[graft.text.QualityPanel]]):
  * each gate's verdict fires independently, no-LM-evidence documents
  * fail the LM gate, every corpus doc appears exactly once, and the
  * overall keep is the strict conjunction. */
class QualityPanelSpec extends SparkSpec {
  import spark.implicits._

  // 12+ common words so the default-ish gopher config passes structure;
  // distinct vocab per doc keeps contamination grams disjoint.
  private val goodText =
    "the quick brown fox and the lazy dog have to run with care that day"

  private def panel(corpus: Seq[(Long, String)],
                    bench: Seq[(Long, String)] = Seq((100L, "totally unrelated benchmark material")),
                    minLm: Double = -10.0,
                    maxOverlap: Double = 0.5) =
    QualityPanel.audit(
        corpus.toDF("doc_id", "text"),
        bench.toDF("doc_id", "text"),
        Seq(Tuple1(goodText), Tuple1(goodText + " extra")).toDF("text"),
        "doc_id", "text",
        GopherRules.Config(minWords = 5, minStopHits = 1),
        minLmLogprob = minLm, maxOverlapFrac = maxOverlap, n = 3)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap

  test("a clean document passes every gate") {
    val p = panel(Seq((1L, goodText)))
    assert(p.keySet == Set(1L))
    val r = p(1L)
    assert(r.getAs[Int]("gopher_keep") == 1)
    assert(r.getAs[Int]("lm_keep") == 1)
    assert(r.getAs[Int]("decon_keep") == 1)
    assert(r.getAs[Int]("keep") == 1)
  }

  test("each gate drops independently and the keep is their conjunction") {
    val benchText = "shared secret benchmark passage that must be flagged verbatim"
    val p = panel(
      corpus = Seq(
        (1L, goodText),                       // clean
        (2L, "too few"),                      // fails gopher minWords=5 AND has no 3-grams...
        (3L, goodText + " " + benchText),     // contaminated
        (4L, "zz")),                          // single token: no LM evidence
      bench = Seq((100L, benchText)),
      // doc 3 carries 7 benchmark 3-grams of ~21 total -> frac ~0.33
      maxOverlap = 0.25)
    assert(p.keySet == Set(1L, 2L, 3L, 4L))
    assert(p(1L).getAs[Int]("keep") == 1)
    // doc 2: structural fail; verdict reported, other gates still audited
    assert(p(2L).getAs[Int]("gopher_keep") == 0)
    assert(p(2L).getAs[Int]("keep") == 0)
    // doc 3: overlap fraction above threshold -> contamination fail only
    val r3 = p(3L)
    assert(r3.getAs[Int]("gopher_keep") == 1)
    assert(r3.getAs[Long]("n_overlap") > 0)
    assert(r3.getAs[Int]("decon_keep") == 0)
    assert(r3.getAs[Int]("keep") == 0)
    // doc 4: avg_logprob null -> absence of evidence is not a pass
    val r4 = p(4L)
    assert(r4.isNullAt(r4.fieldIndex("avg_logprob")))
    assert(r4.getAs[Int]("lm_keep") == 0)
    assert(r4.getAs[Int]("keep") == 0)
  }

  test("the LM threshold splits in-model from out-of-model prose") {
    // goodText scores near the reference's own distribution (avg close
    // to 0); alien vocab backs off to the OOV floor ln(0.4/31) ~ -4.35.
    val p = panel(Seq(
        (1L, goodText),
        (2L, "qqq www eee rrr ttt yyy uuu iii ooo ppp")),
      minLm = -4.0)
    assert(p(1L).getAs[Int]("lm_keep") == 1)
    assert(p(2L).getAs[Int]("lm_keep") == 0)
    assert(p(2L).getAs[Double]("avg_logprob") <
      p(1L).getAs[Double]("avg_logprob"))
  }

  test("hashed-key LM route is value-identical on the panel") {
    val corpus = Seq((1L, goodText),
      (2L, "the dog and the fox have run with that quick care to spare"))
    def run(hk: Boolean) = QualityPanel.audit(
        corpus.toDF("doc_id", "text"),
        Seq((100L, "unrelated bench")).toDF("doc_id", "text"),
        Seq(Tuple1(goodText)).toDF("text"),
        "doc_id", "text", GopherRules.Config(minWords = 5, minStopHits = 1),
        minLmLogprob = -10.0, maxOverlapFrac = 0.5, n = 3, hashKeys = hk)
      .orderBy("doc_id").collect().toSeq
    assert(run(false) == run(true))
  }

  test("auditManaged releases the trained LM's cached tables") {
    spark.sharedState.cacheManager.clearCache()
    val corpus = Seq((1L, goodText)).toDF("doc_id", "text")
    val r = QualityPanel.auditManaged(corpus,
      Seq((100L, "unrelated bench")).toDF("doc_id", "text"),
      Seq(Tuple1(goodText)).toDF("text"),
      "doc_id", "text", GopherRules.Config(minWords = 5, minStopHits = 1))
    assert(r.df.count() == 1)
    assert(!spark.sharedState.cacheManager.isEmpty)  // LM tables pinned
    r.release()
    assert(spark.sharedState.cacheManager.isEmpty,
      "release() must drop the audit's cached LM tables")
  }
}
