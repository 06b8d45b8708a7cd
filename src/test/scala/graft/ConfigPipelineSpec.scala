package graft

import graft.dedup.Duplicates
import graft.impute.{Constant, Median, Mode}
import graft.outliers.{Clip, Iqr, ZScore}
import graft.pipeline._
import graft.quality.{InRange, NotNull}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ConfigPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val fullYaml = """
    |run_id: demo
    |stages:
    |  - module: normalize
    |    rename_columns: {old_name: new_name}
    |    standardize_text: [city]
    |    value_mappings:
    |      status: {F: FINISHED, "null": UNKNOWN}
    |  - module: impute
    |    strategies: {price: median, city: mode, note: "constant:n/a"}
    |  - module: dedup
    |    subset: [city, status]
    |    keep: last
    |    tiebreak: [id]
    |  - module: outliers
    |    detect:
    |      price: {method: iqr, multiplier: 3.0}
    |      qty: {method: zscore, threshold: 2.5}
    |    handle: {price: clip, qty: "constant:0"}
    |  - module: validate
    |    rules:
    |      - {rule: not_null, column: city}
    |      - {rule: in_range, column: price, min: 0, max: 100}
    |""".stripMargin

  test("parses a full config into the expected typed stages") {
    val spec = ConfigPipeline.parse(fullYaml)
    assert(spec.runId == "demo")
    assert(spec.stages.map(_.name) ==
      Seq("normalize", "impute", "dedup", "outliers", "validate"))
    val norm = spec.stages(0).asInstanceOf[NormalizeStage].cfg
    assert(norm.renameColumns == Map("old_name" -> "new_name"))
    assert(norm.standardizeTextColumns == Seq("city"))
    assert(norm.valueMappings("status")("null") == "UNKNOWN")
    val imp = spec.stages(1).asInstanceOf[ImputeStage].strategies
    assert(imp == Map("price" -> Median, "city" -> Mode, "note" -> Constant("n/a")))
    val ded = spec.stages(2).asInstanceOf[DedupStage]
    assert(ded.subset == Seq("city", "status") && ded.keep == Duplicates.KeepLast)
    val out = spec.stages(3).asInstanceOf[OutlierStage]
    assert(out.specs == Map("price" -> Iqr(3.0), "qty" -> ZScore(2.5)))
    assert(out.strategies("price") == Clip)
    val rules = spec.stages(4).asInstanceOf[ValidateStage].rules
    assert(rules == Seq(NotNull("city"), InRange("price", 0, 100)))
  }

  test("config-driven run matches the equivalent hand-built pipeline") {
    val df = Seq(
      (1L, "a", Some(10.0)), (2L, "a", None), (3L, "b", Some(500.0)),
      (4L, "a", Some(12.0)), (5L, "b", Some(14.0))
    ).toDF("id", "grp", "price")
    val yaml = """
      |run_id: t
      |stages:
      |  - module: impute
      |    strategies: {price: median}
      |  - module: dedup
      |    subset: [grp]
      |    keep: first
      |    tiebreak: [id]
      |""".stripMargin
    val viaConfig = ConfigPipeline.run(df, yaml).df.orderBy("id").collect()
    val viaTyped = Pipeline.run(df, Seq(
      ImputeStage(Map("price" -> Median)),
      DedupStage(Seq("grp"), Duplicates.KeepFirst, Seq(col("id")))
    )).df.orderBy("id").collect()
    assert(viaConfig.toSeq == viaTyped.toSeq)
  }

  test("load() reads a config artifact from disk") {
    val p = java.nio.file.Files.createTempFile("graft-pipeline", ".yaml")
    java.nio.file.Files.writeString(p, fullYaml)
    val spec = ConfigPipeline.load(p.toString)
    assert(spec.runId == "demo" && spec.stages.size == 5)
  }

  private def configError(yaml: String): String =
    intercept[ConfigPipeline.ConfigError](ConfigPipeline.parse(yaml)).getMessage

  test("rejects invalid configs with the offending path") {
    assert(configError("run_id: x\nstages:\n  - module: frobnicate\n")
      .contains("unknown module 'frobnicate'"))
    assert(configError("stages: []\n").contains("missing required key(s): run_id"))
    assert(configError("run_id: x\nstages: []\n").contains("at least one stage required"))
    assert(configError(
      "run_id: x\nstages:\n  - module: impute\n    strategies: {c: sometimes}\n")
      .contains("unknown strategy 'sometimes'"))
    assert(configError(
      "run_id: x\nstages:\n  - module: dedup\n    keep: first\n")
      .contains("missing required key(s): subset"))
    assert(configError(
      "run_id: x\nstages:\n  - module: normalize\n    renmae_columns: {a: b}\n")
      .contains("unknown key(s): renmae_columns"))
    assert(configError(
      "run_id: x\nstages:\n  - module: outliers\n    detect: {c: {method: grubbs}}\n    handle: {}\n")
      .contains("unknown method 'grubbs'"))
    assert(configError(
      "run_id: x\nstages:\n  - module: validate\n    rules:\n      - {rule: in_range, column: c}\n")
      .contains("missing required key"))
    // curation stages validate too
    assert(configError(
      "run_id: x\nstages:\n  - module: sample\n    key_column: id\n    fraction: 1.5\n")
      .contains("not in [0,1]"))
    assert(configError(
      "run_id: x\nstages:\n  - module: quota\n    group_column: g\n    key_column: id\n    n: 0\n")
      .contains("quota must be in"))
    assert(configError(
      "run_id: x\nstages:\n  - module: quota\n    group_column: g\n    key_column: id\n    n: 2.5\n")
      .contains("expected an integer"))
    assert(configError(
      "run_id: x\nstages:\n  - module: pii_redact\n")
      .contains("missing required key(s): text_column"))
    // silent-empty-corpus typos fail at parse time
    assert(configError(
      "run_id: x\nstages:\n  - module: text_filter\n    text_column: text\n    min_quality: 30\n")
      .contains("not in [0,1]"))
    assert(configError(
      "run_id: x\nstages:\n  - module: text_filter\n    text_column: text\n    languages: [EN]\n")
      .contains("unknown language 'EN'"))
    assert(configError(
      "run_id: x\nstages:\n  - module: sample\n    key_column: id\n    fraction: .nan\n")
      .contains("not in [0,1]"))
    assert(configError(
      "run_id: x\nstages:\n  - module: quota\n    group_column: g\n    key_column: id\n    n: 4294967297\n")
      .contains("quota must be in"))
  }

  test("curation stages from config hash-match the hand-built chain") {
    val docs = Seq(
      (1L, "s1", "the cat and the dog sat on the mat in the sun"),
      (2L, "s1", "THE CAT and the dog sat on the mat in the sun  "), // dup of 1
      (3L, "s1", "the quick brown fox is one of the animals that jump over dogs"),
      (4L, "s2", "zz"), // fails min_quality / language gate
      (5L, "s2", "write to a@b.co about the plan and the offer that is in the mail")
    ).toDF("doc_id", "source", "text")
    val yaml = """
      |run_id: cur
      |stages:
      |  - module: text_filter
      |    text_column: text
      |    min_quality: 0.2
      |    languages: [en]
      |  - module: pii_redact
      |    text_column: text
      |  - module: exact_dedup
      |    text_column: text
      |    id_column: doc_id
      |  - module: quota
      |    group_column: source
      |    key_column: doc_id
      |    n: 5
      |  - module: sample
      |    key_column: doc_id
      |    fraction: 1.0
      |""".stripMargin
    val viaConfig = ConfigPipeline.run(docs, yaml).df
    val byHand = Pipeline.run(docs, Seq(
      TextFilterStage("text", 0.2, Seq("en")),
      PiiRedactStage("text"),
      ExactDedupStage("text", "doc_id"),
      QuotaStage("source", "doc_id", 5),
      SampleStage("doc_id", 1.0, 0L))).df
    assert(viaConfig.collect().toSet == byHand.collect().toSet)
    val kept = viaConfig.select("doc_id").as[Long].collect().sorted
    assert(!kept.contains(2L), "exact duplicate dropped")
    assert(!kept.contains(4L), "low-quality doc gated")
    assert(kept.contains(1L) && kept.contains(3L))
    // redaction flowed through the chain: doc 5's email is masked
    val texts = viaConfig.filter(col("doc_id") === 5L)
      .select("text").as[String].collect()
    assert(texts.length == 1 && texts(0).contains("<EMAIL>") && !texts(0).contains("a@b.co"))
  }

  test("decontaminate stage drops benchmark-overlapping docs via bench_path") {
    val span = (1 to 12).map(i => s"bench$i").mkString(" ")
    val benchDir = java.nio.file.Files.createTempDirectory("graft-bench").toFile
    try {
      Seq((100L, span)).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(benchDir.getAbsolutePath)
      val docs = Seq(
        (1L, s"clean words only here with nothing shared at all today $span"),
        (2L, "a fully clean document with its own words and no overlap")
      ).toDF("doc_id", "text")
      val yaml = s"""
        |run_id: decon
        |stages:
        |  - module: decontaminate
        |    text_column: text
        |    id_column: doc_id
        |    bench_path: ${benchDir.getAbsolutePath}
        |    ngram: 8
        |""".stripMargin
      val res = ConfigPipeline.run(docs, yaml)
      assert(res.df.select("doc_id").as[Long].collect().toSeq === Seq(2L))
      // the contamination evidence surfaces as a report, reference-style
      val rep = res.reports("0:decontaminate").collect()
      assert(rep.map(_.getLong(0)).toSeq === Seq(1L) && rep(0).getLong(1) >= 1L)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(benchDir)
    }
  }

  test("near_dedup stage drops minhash near-duplicates from config") {
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val near = (1 to 48).map(i => s"word$i").mkString(" ")
    val docs = Seq((1L, base), (2L, near),
      (3L, (100 to 160).map(i => s"tok$i").mkString(" ")))
      .toDF("doc_id", "text")
    val yaml = """
      |run_id: nd
      |stages:
      |  - module: near_dedup
      |    text_column: text
      |    id_column: doc_id
      |    threshold: 0.5
      |""".stripMargin
    val kept = ConfigPipeline.run(docs, yaml).df
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L)) // larger-id near-dup dropped
    val bad = intercept[IllegalArgumentException] {
      ConfigPipeline.run(docs, yaml.replace("0.5", ".nan"))
    }
    assert(bad.getMessage.contains("threshold"))
  }

  test("span_dedup stage cuts copied passages in place, frame keeps flowing") {
    val passage = (1 to 20).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $passage gamma", "src1"),
      (2L, s"one two $passage three", "src2"))
      .toDF("doc_id", "text", "source")
    val yaml = """
      |run_id: sd
      |stages:
      |  - module: span_dedup
      |    text_column: text
      |    id_column: doc_id
      |    ngram: 8
      |""".stripMargin
    val res = ConfigPipeline.run(docs, yaml)
    val rows = res.df.orderBy("doc_id").collect()
    // both docs survive (span dedup cuts text, never drops rows) and
    // non-text columns ride through
    assert(rows.map(_.getAs[String]("source")).toSeq == Seq("src1", "src2"))
    assert(rows(0).getAs[String]("text") == s"alpha beta $passage gamma")
    assert(rows(1).getAs[String]("text") == "one two three")
    // the report names the edited doc and the token count
    val rep = res.reports.collect { case (k, v) if k.endsWith("span_dedup") => v }.head
    val repRows = rep.collect()
    assert(repRows.length == 1 && repRows(0).getLong(0) == 2L
      && repRows(0).getInt(1) == 20)
    // ngram bound validated at config time
    val bad = intercept[IllegalArgumentException] {
      ConfigPipeline.run(docs, yaml.replace("ngram: 8", "ngram: 1"))
    }
    assert(bad.getMessage.contains("ngram"))
  }

  test("decontaminate stage validates fpp and ngram at config time") {
    val base = (extra: String) => s"""
      |run_id: bad
      |stages:
      |  - module: decontaminate
      |    text_column: text
      |    id_column: doc_id
      |    bench_path: /tmp/nowhere
      |$extra
      |""".stripMargin
    val df = Seq((1L, "x")).toDF("doc_id", "text")
    val e1 = intercept[IllegalArgumentException] {
      ConfigPipeline.run(df, base("    fpp: .nan"))
    }
    assert(e1.getMessage.contains("fpp"))
    val e2 = intercept[IllegalArgumentException] {
      ConfigPipeline.run(df, base("    ngram: 0"))
    }
    assert(e2.getMessage.contains("ngram"))
  }

  test("mojibake_filter stage drops artifact docs and reports their counts") {
    val docs = Seq(
      (1L, "clean ascii prose", "web"),
      (2L, "mangled cafÃ© text", "web"),   // mojibake marker
      (3L, "torn�byte", "web"))            // replacement char
      .toDF("doc_id", "text", "source")
    val yaml = """
      |run_id: mjf
      |stages:
      |  - module: mojibake_filter
      |    text_column: text
      |    id_column: doc_id
      |""".stripMargin
    val res = ConfigPipeline.run(docs, yaml)
    val kept = res.df.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L), s"kept $kept")
    // surviving frame keeps every original column (filter, not project)
    assert(res.df.columns.toSeq == Seq("doc_id", "text", "source"))
    val rep = res.reports("0:mojibake_filter").orderBy("doc_id").collect()
    assert(rep.map(_.getLong(0)).toSeq == Seq(2L, 3L))
    assert(rep(0).getAs[Long]("n_mojibake") == 1L)
    assert(rep(1).getAs[Long]("n_replacement") == 1L)
    // unknown keys refuse at config time with the offending path
    val e = intercept[IllegalArgumentException] {
      ConfigPipeline.run(docs, yaml.replace("id_column: doc_id",
        "id_column: doc_id\n    threshold: 2"))
    }
    assert(e.getMessage.contains("threshold"))
  }

  test("lm_filter stage drops low-probability and unscoreable docs, reports them") {
    // reference: repetitive in-domain text; corpus: one in-domain doc,
    // one OOV gibberish doc, one single-token doc (unscoreable)
    val tmp = java.nio.file.Files.createTempDirectory("lm-ref").toString
    Seq(Tuple1("the cat sat on the mat the cat sat"))
      .toDF("text").write.mode("overwrite").parquet(tmp)
    val docs = Seq(
      (1L, "the cat sat on the mat", "web"),
      (2L, "zz1 zz2 zz3 zz4 zz5 zz6", "web"),
      (3L, "hello", "web"))
      .toDF("doc_id", "text", "source")
    val yaml = s"""
      |run_id: lmf
      |stages:
      |  - module: lm_filter
      |    text_column: text
      |    id_column: doc_id
      |    ref_path: $tmp
      |    min_logprob: -3.0
      |""".stripMargin
    val res = ConfigPipeline.run(docs, yaml)
    val kept = res.df.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L), s"kept $kept")
    // dropped docs (OOV + unscoreable) land in the report with scores
    val rep = res.reports("0:lm_filter").orderBy("doc_id").collect()
    assert(rep.map(_.getLong(0)).toSeq == Seq(2L, 3L))
    assert(rep(1).getLong(1) == 0L && rep(1).isNullAt(2)) // unscoreable
    // everything is consumed: drop the stage's cached LM count tables
    // (Result.release is idempotent; frames stay usable afterwards)
    res.release()
    res.release()
    assert(res.df.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L))
    // config-time refusals with path: sign typo and bad backoff
    val e1 = intercept[IllegalArgumentException] {
      ConfigPipeline.run(docs, yaml.replace("min_logprob: -3.0", "min_logprob: 3.0"))
    }
    assert(e1.getMessage.contains("min_logprob"))
    val e2 = intercept[IllegalArgumentException] {
      ConfigPipeline.run(docs,
        yaml.replace("min_logprob: -3.0", "min_logprob: -3.0\n    backoff: 1.5"))
    }
    assert(e2.getMessage.contains("backoff"))
  }

  test("ft_filter stage gates on a persisted classifier, reports drops") {
    // Persisted feature-keyed model: "good" pushes the sigmoid above the
    // threshold, "bad" below; doc 3 is blank (no features, null score)
    // and must DROP + report — no quality evidence is not a pass.
    val path = java.nio.file.Files.createTempDirectory("ft-mdl").toString
    graft.text.FastText.writeModelFeatures(spark,
      Seq(("good", 2.0), ("bad", -2.0)).toDF("feature", "weight"),
      bias = 0.0, path)
    val docs = Seq(
      (1L, "good good good", "web"),
      (2L, "bad bad bad", "web"),
      (3L, " ", "web"))
      .toDF("doc_id", "text", "source")
    val yaml = s"""
      |run_id: ftf
      |stages:
      |  - module: ft_filter
      |    text_column: text
      |    id_column: doc_id
      |    model_path: $path
      |    min_score: 0.5
      |""".stripMargin
    val res = ConfigPipeline.run(docs, yaml)
    val kept = res.df.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L), s"kept $kept")
    val rep = res.reports("0:ft_filter").orderBy("doc_id").collect()
    assert(rep.map(_.getLong(0)).toSeq == Seq(2L, 3L))
    assert(rep(1).getLong(1) == 0L && rep(1).isNullAt(3)) // blank: no evidence
    res.release()
    assert(res.df.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L))
    // config-time refusals: threshold outside the sigmoid's range both
    // ways (0 keeps everything, 1 drops everything), unknown key
    val e1 = intercept[IllegalArgumentException] {
      ConfigPipeline.run(docs, yaml.replace("min_score: 0.5", "min_score: 0.0"))
    }
    assert(e1.getMessage.contains("min_score"))
    val e2 = intercept[IllegalArgumentException] {
      ConfigPipeline.run(docs, yaml.replace("min_score: 0.5", "min_score: 1.0"))
    }
    assert(e2.getMessage.contains("min_score"))
    val e3 = intercept[IllegalArgumentException] {
      ConfigPipeline.run(docs,
        yaml.replace("min_score: 0.5", "min_score: 0.5\n    backoff: 0.4"))
    }
    assert(e3.getMessage.contains("backoff"))
  }

  test("gopher_filter stage drops rule-violating docs and reports which rule fired") {
    val docs = Seq(
      (1L, "the cat and dog have sat with that mat be good", "web"),
      (2L, "1 2 3 4 5 6 7 8 9 10 11 12", "web"),  // digits: alpha + word-len fail
      (3L, "- a\n- b\n- c", "web"))                 // all-bullet, too short
      .toDF("doc_id", "text", "source")
    val yaml = """
      |run_id: gq
      |stages:
      |  - module: gopher_filter
      |    text_column: text
      |    id_column: doc_id
      |    min_words: 5
      |    min_mean_word_len: 2.0
      |    min_stop_hits: 2
      |""".stripMargin
    val res = ConfigPipeline.run(docs, yaml)
    assert(res.df.columns.toSeq == Seq("doc_id", "text", "source"),
      "frame shape must survive the gate")
    assert(res.df.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
    val rep = res.reports("0:gopher_filter").orderBy("doc_id").collect()
    assert(rep.map(_.getLong(0)).toSeq == Seq(2L, 3L))
    // the report names the fired rule: doc 2 fails alpha, doc 3 fails bullets
    val r2 = rep(0); val r3 = rep(1)
    assert(!r2.getAs[Boolean]("r6_alpha") && r2.getAs[Boolean]("r4_bullets"))
    assert(!r3.getAs[Boolean]("r4_bullets"))
    // config-time refusals with path
    val e1 = intercept[IllegalArgumentException] {
      ConfigPipeline.run(docs, yaml.replace("min_words: 5", "min_words: 50\n    max_words: 10"))
    }
    assert(e1.getMessage.contains("min_words"))
    val e2 = intercept[IllegalArgumentException] {
      ConfigPipeline.run(docs, yaml.replace("min_stop_hits: 2", "min_stop_hits: 9"))
    }
    assert(e2.getMessage.contains("min_stop_hits"))
    val e3 = intercept[IllegalArgumentException] {
      ConfigPipeline.run(docs, yaml + "    min_alpha_frac: .nan\n")
    }
    assert(e3.getMessage.contains("min_alpha_frac"))
  }

  test("chunking stage re-shapes the frame and carries metadata columns") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" "), "web"),
      (2L, "short doc", "book"),
      (3L, "   ", "web")) // blank -> zero chunks
      .toDF("doc_id", "text", "source")
    val yaml = """
      |run_id: ch
      |stages:
      |  - module: chunking
      |    text_column: text
      |    id_column: doc_id
      |    max_tokens: 4
      |    overlap: 1
      |""".stripMargin
    val res = ConfigPipeline.run(docs, yaml)
    assert(res.df.columns.toSet ==
      Set("doc_id", "chunk_id", "chunk_text", "n_tokens", "source"))
    val rows = res.df.orderBy("doc_id", "chunk_id").collect()
    // doc 1: 10 tokens, stride 3 => 1 + ceil(6/3) = 3 chunks; doc 2: 1
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc(1L).length == 3 && byDoc(2L).length == 1 && !byDoc.contains(3L))
    assert(byDoc(1L).map(_.getAs[String]("chunk_text")).toSeq ==
      Seq("t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
    assert(byDoc(1L).forall(_.getAs[String]("source") == "web"))
  }

  test("chunking stage validates max_tokens and overlap at config time") {
    val df = Seq((1L, "x", "s")).toDF("doc_id", "text", "source")
    val base = (mt: String, ov: String) => s"""
      |run_id: bad
      |stages:
      |  - module: chunking
      |    text_column: text
      |    id_column: doc_id
      |    max_tokens: $mt
      |    overlap: $ov
      |""".stripMargin
    // overlap >= max_tokens leaves a non-positive stride: refused with path
    val e1 = intercept[IllegalArgumentException] {
      ConfigPipeline.run(df, base("16", "16"))
    }
    assert(e1.getMessage.contains("overlap")
      && e1.getMessage.contains("stages[0].overlap"))
    val e2 = intercept[IllegalArgumentException] {
      ConfigPipeline.run(df, base("0", "0"))
    }
    assert(e2.getMessage.contains("max_tokens"))
  }

  test("embedding_centroids stage is report-only: frame passes through") {
    val emb = Seq(
      (1L, Array(1.0f, 2.0f), "a"),
      (2L, Array(3.0f, 6.0f), "a"),
      (3L, Array(5.0f, 5.0f), "b"))
      .toDF("vec_id", "embedding", "label")
    val yaml = """
      |run_id: ec
      |stages:
      |  - module: embedding_centroids
      |    group_column: label
      |    vector_column: embedding
      |""".stripMargin
    val res = ConfigPipeline.run(emb, yaml)
    assert(res.df.collect().length == 3) // untouched
    val rep = res.reports("0:embedding_centroids").orderBy("label", "pos").collect()
    assert(rep.length == 4) // 2 labels x 2 dims
    val a0 = rep(0)
    assert(a0.getAs[String]("label") == "a" && a0.getAs[Long]("n") == 2
      && a0.getAs[Double]("centroid") == 2.0 && a0.getAs[Double]("variance") == 1.0)
    // unknown keys still refused with the module's path
    val bad = intercept[IllegalArgumentException] {
      ConfigPipeline.run(emb, yaml.replace("vector_column: embedding",
        "vector_column: embedding\n    extra_key: 1"))
    }
    assert(bad.getMessage.contains("extra_key") || bad.getMessage.contains("unknown"))
  }

  test("shard_assign stage matches the typed API and validates at config time") {
    val docs = Seq((0L, "a b"), (1L, "c"), (2L, "d e f"))
      .toDF("doc_id", "text")
    val yaml = """
      |run_id: shards
      |stages:
      |  - module: shard_assign
      |    key_column: doc_id
      |    n_shards: 4
      |""".stripMargin
    val out = ConfigPipeline.run(docs, yaml).df.orderBy("doc_id").collect()
    val expect = docs.select(col("doc_id"),
        graft.ops.Sharding.shardId(col("doc_id"), 4).as("shard"))
      .orderBy("doc_id").collect().map(_.getInt(1)).toSeq
    assert(out.map(_.getAs[Int]("shard")).toSeq == expect)
    // n_shards is range-checked at CONFIG time
    val bad = intercept[IllegalArgumentException] {
      ConfigPipeline.run(docs, yaml.replace("n_shards: 4", "n_shards: 0"))
    }
    assert(bad.getMessage.contains("n_shards"))
  }

  /** A small curation corpus plus the side inputs its join-back stages
    * read: an LM reference, a persisted fastText model, a benchmark set.
    * Planted: an exact dup (2 of 1), a near dup (3 of 1), an off-domain
    * doc (5) for the LM gate, a contaminated doc (6), a "bad" doc (7)
    * for the fastText gate. */
  private def withCurationInputs(body: (String, String, String, String) => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-join-back").toFile
    val p = (name: String) => new java.io.File(dir, name).getAbsolutePath
    val story = "the cat sat on the mat and the dog sat by the door while the " +
      "sun was warm and the day was long and the cat was happy"
    val span = (1 to 12).map(i => s"bench$i").mkString(" ")
    try {
      Seq(
        (1L, s"$story with the dog"),
        (2L, s"THE ${story.drop(4)}  with the dog  "),
        (3L, s"$story with the bird"),
        (4L, "the dog was happy and the cat sat on the mat by the door " +
          "and the day was warm and the sun was long on the cat"),
        (5L, "quarterly revenue guidance exceeded consensus estimates while " +
          "margins compressed amid elevated logistics expenditures overseas"),
        (6L, s"the cat sat on the mat and $span and the dog sat by the door"),
        (7L, s"the cat was sad and the dog was sad bad bad bad and the day was long")
      ).toDF("doc_id", "text").write.parquet(p("corpus"))
      Seq.fill(4)(Tuple1(story)).toDF("text").write.parquet(p("ref"))
      Seq((100L, span)).toDF("doc_id", "text").write.parquet(p("bench"))
      graft.text.FastText.writeModelFeatures(spark,
        Seq(("cat", 1.0), ("bad", -4.0)).toDF("feature", "weight"),
        bias = 0.0, p("model"))
      body(p("corpus"), p("ref"), p("model"), p("bench"))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("release() leaves no cached frame behind once the result is written") {
    withCurationInputs { (corpus, ref, model, bench) =>
      spark.catalog.clearCache()
      val res = Pipeline.run(spark.read.parquet(corpus), Seq(
        NearDedupStage("text", "doc_id", 0.7),
        LmFilterStage("text", "doc_id", ref, -6.0, 0.4),
        FtFilterStage("text", "doc_id", model, 0.5),
        DecontaminateStage("text", "doc_id", bench, 8, 0.01)))
      val out = s"${java.nio.file.Files.createTempDirectory("graft-out")}/kept"
      res.df.write.parquet(out)
      res.release()
      assert(spark.sharedState.cacheManager.isEmpty,
        "a stage's cache outlived Result.release")
      // the frame stays correct after the release (it recomputes)
      assert(res.df.select("doc_id").as[Long].collect().toSet ==
        spark.read.parquet(out).select("doc_id").as[Long].collect().toSet)
    }
  }

  test("a fused curation chain evaluates each input row once") {
    withCurationInputs { (corpus, ref, _, bench) =>
      val stages = Seq(
        TextFilterStage("text", 0.2, Seq("en")),
        ExactDedupStage("text", "doc_id"),
        NearDedupStage("text", "doc_id", 0.7),
        LmFilterStage("text", "doc_id", ref, -6.0, 0.4),
        DecontaminateStage("text", "doc_id", bench, 8, 0.01))
      val evals = spark.sparkContext.longAccumulator("input row evaluations")
      val seen = udf { () => evals.add(1L); true }.asNondeterministic()
      val res = Pipeline.run(spark.read.parquet(corpus).filter(seen()), stages)
      val out = s"${java.nio.file.Files.createTempDirectory("graft-out")}/kept"
      res.df.write.parquet(out)
      res.release()
      assert(evals.value == 7L, s"${evals.value} evaluations of 7 input rows")
      // the same chain one stage at a time, each stage's output cut loose
      val stepwise = stages.foldLeft(spark.read.parquet(corpus)) { (acc, stage) =>
        val r = Pipeline.run(acc, Seq(stage))
        val next = r.df.localCheckpoint()
        r.release()
        next
      }
      val kept = spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
      assert(kept.toSeq == stepwise.select("doc_id").as[Long].collect().sorted.toSeq)
      // every gate fired: exact dup, near dup, off-domain, contaminated
      assert(kept.toSeq == Seq(1L, 4L, 7L), s"kept ${kept.mkString(",")}")
    }
  }

  test("the QA chain caches its outliers and impute inputs and evaluates each input row twice") {
    val yaml = """
      |run_id: qa
      |stages:
      |  - module: normalize
      |    standardize_text: [l_returnflag]
      |    value_mappings:
      |      l_returnflag: {a: A, n: N, r: R}
      |  - module: validate
      |    rules:
      |      - {rule: not_null, column: l_quantity}
      |      - {rule: in_set, column: l_returnflag, allowed: [A, N, R]}
      |  - module: dedup
      |    subset: []
      |    keep: first
      |    tiebreak: [l_orderkey]
      |  - module: outliers
      |    detect:
      |      l_extendedprice: {method: iqr, multiplier: 3.0}
      |      l_quantity: {method: zscore, threshold: 3.0}
      |    handle: {l_extendedprice: clip, l_quantity: clip}
      |  - module: impute
      |    strategies: {l_quantity: median, l_discount: mean}
      |""".stripMargin
    val n = 200
    val dir = java.nio.file.Files.createTempDirectory("graft-qa").toString
    (1 to n).map { i =>
      val k = if (i % 50 == 0) i - 1 else i // a few exact duplicate rows
      (k.toLong, k % 7,
        if (k % 31 == 0) None else Some((k % 40 + 1).toDouble),
        if (k % 67 == 0) 90000.0 else 1000.0 + (k % 97) * 12.5,
        if (k % 23 == 0) None else Some((k % 10) * 0.01),
        Seq(" a", "N", "r ", "R", "x")(k % 5))
    }.toDF("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_returnflag")
      .write.parquet(s"$dir/in")
    spark.catalog.clearCache()
    val evals = spark.sparkContext.longAccumulator("input row evaluations")
    val seen = udf { () => evals.add(1L); true }.asNondeterministic()
    val res = ConfigPipeline.run(spark.read.parquet(s"$dir/in").filter(seen()), yaml)
    Artifacts.write(spark, res, dir, "qa")
    res.release()
    assert(evals.value == 2L * n, s"${evals.value} evaluations of $n input rows")
    assert(spark.sharedState.cacheManager.isEmpty, "a stage's cache outlived Result.release")
    // the same chain one stage at a time, each output and report cut loose
    val stages = ConfigPipeline.parse(yaml).stages
    val stepReports = Map.newBuilder[String, DataFrame]
    val stepwise = stages.zipWithIndex.foldLeft(spark.read.parquet(s"$dir/in")) {
      case (acc, (stage, i)) =>
        val r = Pipeline.run(acc, Seq(stage))
        val next = r.df.localCheckpoint()
        r.reports.foreach { case (k, df) =>
          stepReports += s"$i:${k.dropWhile(_ != ':').drop(1)}" -> df.localCheckpoint()
        }
        r.release()
        next
    }
    // the z-score bounds are double reductions: compare at 1e-9
    def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toSeq.map {
      case d: Double => BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_UP).toString
      case v => String.valueOf(v)
    }.mkString("|")).sorted
    val cleaned = Artifacts.readCleaned(spark, dir, "qa")
    assert(cleaned.count() < n, "the planted duplicates were dropped")
    assert(rows(cleaned) == rows(stepwise))
    val expected = stepReports.result()
    assert(res.reports.keySet == expected.keySet &&
      expected.keySet == Set("0:normalize", "1:validate", "3:outliers", "4:impute"))
    expected.foreach { case (name, df) =>
      assert(rows(Artifacts.readReport(spark, dir, "qa", name)) == rows(df), name)
    }
  }
}
