package graft

import graft.text.LangModel
import org.apache.spark.sql.functions._

/** Hand-computed pins for the bigram stupid-backoff scorer
  * ([[graft.text.LangModel]]): every branch of the backoff chain, the
  * conditioned-token count, and the no-evidence rows. */
class LangModelSpec extends SparkSpec {
  import spark.implicits._

  // ref "a b a c": uni a:2 b:1 c:1, T=4; bigrams (a,b):1 (b,a):1 (a,c):1
  private def lm() = LangModel.train(
    Seq(Tuple1("a b a c")).toDF("text"), "text")

  test("all three backoff branches score the documented closed forms") {
    val model = lm()
    assert(model.total == 4)
    val docs = Seq(
      (1L, "a b x"), // (a,b) bigram: ln(1/2); (b,x) OOV: ln(0.4/4)
      (2L, "c a"),   // (c,a) unseen bigram, a seen: ln(0.4*2/4)
      (3L, "a"),     // single token: nothing conditioned
      (4L, "  "))    // blank: nothing at all
      .toDF("doc_id", "text")
    val out = LangModel.score(docs, "doc_id", "text", model)
      .orderBy("doc_id").collect()
    def row(i: Int) = (out(i).getLong(1),
      if (out(i).isNullAt(2)) None else Some(out(i).getDouble(2)))
    // doc 1: lp = round6(ln 0.5) + round6(ln 0.1) = -0.693147 - 2.302585
    //        avg = -1.497866 -> round4 = -1.4979 (floor(x*1e4+0.5)/1e4)
    assert(row(0) == (2L, Some(-1.4979)))
    // doc 2: ln(0.2) = -1.609438 -> avg round4 = -1.6094
    assert(row(1) == (1L, Some(-1.6094)))
    assert(row(2) == (0L, None))
    assert(row(3) == (0L, None))
    model.release()
  }

  test("higher-probability text scores higher than gibberish") {
    val docs = Tables.documents(spark, sfDir)
    val model = LangModel.train(docs.filter(col("doc_id") % 3 === 0), "text")
    val scored = LangModel.score(
      docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", model)
    // in-domain text (same generator as the reference slice) must beat a
    // fully-OOV document appended by hand
    val gib = LangModel.score(
      Seq((999999L, "zzq1 zzq2 zzq3 zzq4 zzq5")).toDF("doc_id", "text"),
      "doc_id", "text", model)
    val corpusAvg = scored.agg(avg(col("avg_logprob"))).collect()(0).getDouble(0)
    val gibAvg = gib.collect()(0).getDouble(2)
    assert(corpusAvg > gibAvg,
      s"in-domain $corpusAvg should beat OOV gibberish $gibAvg")
    model.release()
  }

  test("hashKeys route: identical scores, zero token-keyed exchange in broadcast regime") {
    val docs = Tables.documents(spark, sfDir)
    val model = LangModel.train(docs.filter(col("doc_id") % 3 === 0), "text")
    val crawl = docs.filter(col("doc_id") % 3 =!= 0)
    val str = LangModel.score(crawl, "doc_id", "text", model)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val hashed = LangModel.score(crawl, "doc_id", "text", model,
      hashKeys = true)
    assert(hashed.orderBy("doc_id").collect().map(_.toSeq).toSeq == str)
    // plan pin: the three LM joins broadcast, so the CRAWL token stream
    // never rides an exchange — no exchange or sort-merge join keyed on
    // the hashed pair/token keys (the only token-keyed exchanges left
    // are the reference-sized count-table groupBys on the build side)
    val p = hashed.queryExecution
      .explainString(org.apache.spark.sql.execution.SimpleMode)
    def hashedKeyed(l: String): Boolean =
      l.contains("_gf_bk") || l.contains("_gf_pk") || l.contains("_gf_wk")
    val bad = p.linesIterator.filter(l =>
      (l.contains("SortMergeJoin") || l.contains("Exchange hashpartitioning"))
        && hashedKeyed(l)).toSeq
    assert(bad.isEmpty, bad.mkString("\n"))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    // ...and a vocab over the broadcast threshold degrades to hashed
    // 8-byte join keys, never token strings
    val tiny = LangModel.score(crawl, "doc_id", "text", model,
      hashKeys = true, maxBroadcastTypes = 1L)
    assert(tiny.orderBy("doc_id").collect().map(_.toSeq).toSeq == str)
    model.release()
  }

  test("broadcast-kernel route is value-identical to the join route") {
    val model = lm()
    val docs = Seq((1L, "a b c"), (2L, "zz qq"), (3L, ""), (4L, "solo"),
      (5L, "a b a b c zz")).toDF("doc_id", "text")
    val joins = LangModel.score(docs, "doc_id", "text", model)
      .orderBy("doc_id").collect().toSeq
    val kernel = LangModel.scoreBroadcast(docs, "doc_id", "text", model)
      .orderBy("doc_id").collect().toSeq
    assert(kernel == joins)
    // no exchange anywhere: the whole route is one projection
    val plan = LangModel.scoreBroadcast(docs, "doc_id", "text", model)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
    // an LM too large to ship refuses with the join-route pointer
    intercept[IllegalArgumentException] {
      LangModel.scoreBroadcast(docs, "doc_id", "text", model, maxTypes = 1)
    }
    model.release()
  }

  test("persisted model scores identically after a write/release/re-open") {
    val model = lm()
    val docs = Seq((1L, "a b c"), (2L, "zz qq")).toDF("doc_id", "text")
    val direct = LangModel.score(docs, "doc_id", "text", model)
      .orderBy("doc_id").collect().toSeq
    val path = java.nio.file.Files.createTempDirectory("lm-model").toString
    LangModel.writeModel(model, path)
    model.release()
    val reopened = LangModel.readModel(spark, path)
    assert(LangModel.score(docs, "doc_id", "text", reopened)
      .orderBy("doc_id").collect().toSeq == direct)
    reopened.release()
    // refusals: no manifest; foreign format tag
    val empty = java.nio.file.Files.createTempDirectory("lm-empty").toString
    intercept[IllegalArgumentException] { LangModel.readModel(spark, empty) }
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(path, ".manifest.json.crc"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "manifest.json"),
      """{"format": "graft-bpe-v1", "num_merges": 2}""")
    intercept[IllegalArgumentException] { LangModel.readModel(spark, path) }
    // an empty manifest, and one without its numeric field, refuse by name
    for (json <- Seq("", """{"format": "graft-lm-v1"}""")) {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(path, "manifest.json"), json)
      val e = intercept[IllegalArgumentException] { LangModel.readModel(spark, path) }
      assert(e.getMessage.contains("manifest.json is corrupt"), e.getMessage)
    }
  }

  test("a partially-copied unigram table refuses at open, not at score time") {
    val model = lm()
    val path = java.nio.file.Files.createTempDirectory("lm-trunc").toString
    LangModel.writeModel(model, path)
    // Simulate a partial copy: drop one unigram row and re-write the
    // table in place. The manifest still declares the full total, so the
    // open-time cross-check must refuse (before a bigram whose prev
    // unigram vanished can NPE the kernel route or skew the join route).
    val truncated = spark.read.parquet(s"$path/unigrams")
      .orderBy("_gf_w").limit(1).collect()
    val schema = spark.read.parquet(s"$path/unigrams").schema
    spark.createDataFrame(
        java.util.Arrays.asList(truncated: _*), schema)
      .write.mode("overwrite").parquet(s"$path/unigrams")
    val e = intercept[IllegalArgumentException] { LangModel.readModel(spark, path) }
    assert(e.getMessage.contains("manifest declares"))
    model.release()
  }

  test("backoff and empty-reference misuse are refused") {
    val model = lm()
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      LangModel.score(docs, "doc_id", "text", model, backoff = 0.0)
    }
    model.release()
    val empty = LangModel.train(Seq(Tuple1("  ")).toDF("text"), "text")
    intercept[IllegalArgumentException] {
      LangModel.score(docs, "doc_id", "text", empty)
    }
  }
}
