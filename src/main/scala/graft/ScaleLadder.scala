package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.Q

/** Scale-ladder evidence tools (SURVEY §5): derive a deterministic N×
  * corpus from the sf0.1 tables and measure the heavy dedup/ANN family's
  * growth exponent across it.
  *
  * Everything the engine claims about 100 TB behavior is plan-shaped
  * (PlanQualitySpec pins pushdown/broadcast/partition pruning), but plans
  * don't expose super-linear CONSTANTS — a quadratic per-row lambda or a
  * candidate-pair blow-up only shows up when the data actually grows. The
  * driver corpus is read-only and capped at sf0.1, so the ladder derives
  * its own larger corpus in java.io.tmpdir:
  *
  *   copy 0   = the sf0.1 table verbatim;
  *   copy k>0 = ids shifted to a disjoint band (doc/vec/user ids by
  *              k·10⁷ = k·IdBand; event_id by k·10⁹ = k·100·IdBand,
  *              since event ids already span more than one 10⁷ band at
  *              sf0.1) and content re-seeded so copies don't collide:
  *              - documents: every token suffixed `~k` — token/shingle/gram
  *                equality (and hence the planted dup structure) is
  *                PRESERVED WITHIN a copy and DESTROYED ACROSS copies, so
  *                duplicate pairs/spans scale linearly with the factor,
  *                like a real corpus, instead of quadratically like naive
  *                replication;
  *              - embeddings: deterministic per-element jitter (xxhash64 of
  *                (vec_id, k, i), amplitude 0.02) — cluster geometry is
  *                kept, exact clones across copies are not;
  *              - events: event/user ids shifted, timestamps kept — series
  *                count scales, per-series length (window cost) does not.
  *
  * Determinism: no RNG anywhere — content is a pure function of (source
  * row, k), so two runs derive byte-identical corpora and ladder numbers
  * are reproducible.
  */
object ScaleCorpus {

  val IdBand = 10000000L

  /** Derive `srcDir`'s documents/embeddings/events at `factor`× into
    * `outDir` (only the tables the heavy family reads; the TPC-H star is
    * driver-owned and not part of the ladder). Idempotent via a DONE
    * marker. */
  def derive(spark: SparkSession, srcDir: String, outDir: String, factor: Int): Unit = {
    val done = new java.io.File(outDir, "_LADDER_DONE")
    if (done.exists()) return
    val parts = math.max(factor, spark.sparkContext.defaultParallelism)

    def write(df: DataFrame, name: String): Unit =
      df.repartition(parts).write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    // A source id at or above its band width would collide with the
    // shifted copies, silently merging rows across bands and corrupting
    // the ladder's "duplicates scale linearly" premise — refuse instead.
    def assertBand(df: DataFrame, idCol: String, band: Long, table: String): Unit = {
      // max over an empty table is SQL null — diagnose, don't NPE
      val row = df.agg(max(col(idCol))).collect()(0)
      require(!row.isNullAt(0),
        s"$table is empty — cannot derive a ladder corpus from it")
      val mx = row.getLong(0)
      require(mx < band,
        s"$table.$idCol max $mx >= band width $band — shifted copies " +
          "would collide; widen the band before deriving")
    }

    val d = spark.read.parquet(s"$srcDir/documents.parquet")
    assertBand(d, "doc_id", IdBand, "documents")
    write((0 until factor).map { k =>
      if (k == 0) d
      else d.select(
        (col("doc_id") + lit(k * IdBand)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", "$1~" + k).as("text"),
        col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")))
    }.reduce(_ unionByName _), "documents")

    val e = spark.read.parquet(s"$srcDir/embeddings.parquet")
    assertBand(e, "vec_id", IdBand, "embeddings")
    write((0 until factor).map { k =>
      if (k == 0) e
      else e.select(
        (col("vec_id") + lit(k * IdBand)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x + ((pmod(xxhash64(col("vec_id"), lit(k), i), lit(1000))
            .cast("double") / 1000.0 - 0.5) * 0.02).cast("float")).cast("float")
        ).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _), "embeddings")

    // events.ts is parquet TIMESTAMP(NANOS), read as a long (a
    // Session.build default; Tables.events handles either form on the way
    // back in).
    val ev = spark.read.parquet(s"$srcDir/events.parquet")
    assertBand(ev, "event_id", 100 * IdBand, "events")
    assertBand(ev, "user_id", IdBand, "events")
    write((0 until factor).map { k =>
      if (k == 0) ev
      else ev
        .withColumn("event_id", col("event_id") + lit(k * 100 * IdBand))
        .withColumn("user_id", col("user_id") + lit(k * IdBand))
    }.reduce(_ unionByName _), "events")

    // orders + lineitem (r12): both shift o_orderkey/l_orderkey by the
    // SAME band, so the FK join structure replicates intact — the CDC
    // lifecycle and the lineitem-valued operators (winsorize, IQR) can
    // ladder. Values repeat verbatim across bands: exactly the regime
    // where the value-histogram lanes should flatline.
    val o = spark.read.parquet(s"$srcDir/orders.parquet")
    assertBand(o, "o_orderkey", IdBand, "orders")
    write((0 until factor).map { k =>
      if (k == 0) o
      else o.withColumn("o_orderkey", col("o_orderkey") + lit(k * IdBand))
    }.reduce(_ unionByName _), "orders")
    val li = spark.read.parquet(s"$srcDir/lineitem.parquet")
    assertBand(li, "l_orderkey", IdBand, "lineitem")
    write((0 until factor).map { k =>
      if (k == 0) li
      else li.withColumn("l_orderkey", col("l_orderkey") + lit(k * IdBand))
    }.reduce(_ unionByName _), "lineitem")

    done.createNewFile(): Unit
  }

  /** The corpus directory at `factor`×: `srcDir` itself at ×1, else the
    * derived copy under java.io.tmpdir/graft-scale (derived on first use). */
  def at(spark: SparkSession, srcDir: String, factor: Int): String =
    if (factor == 1) srcDir
    else {
      val d = new java.io.File(System.getProperty("java.io.tmpdir"), s"graft-scale/x$factor")
        .getAbsolutePath
      derive(spark, srcDir, d, factor)
      d
    }
}

/** Scale-ladder evidence main: `runMain graft.ScaleLadder [mode]`, where the
  * first argument picks the mode:
  *
  *  - `[query ...]` (default: the heavy dedup/ANN family) — the growth
  *    ladder. For each factor in SPARK_GRAFT_LADDER_FACTORS (default
  *    1,4,16,64) and each query, time warm-up + min of
  *    SPARK_GRAFT_BENCH_ITERS (default 2) on the [[ScaleCorpus]] at that
  *    factor, then fit the growth exponent ([[exponent]]). A query whose
  *    run exceeds SPARK_GRAFT_LADDER_CUTOFF seconds (default 180) is not
  *    advanced to the next factor — reported as `truncated` rather than
  *    hanging the ladder; a query that THROWS is reported with its
  *    exception under `failed` (never as truncated — a crash is not a
  *    deliberate cutoff). Writes scaling_detail.json.
  *  - `probe:skew [factor]` (default 16) — planted hot join key under
  *    AQE skew-join on/off and a salted join ([[skewProbe]]). Writes
  *    skew_detail.json.
  *  - `probe:minhash [factor]` (default 64) — boilerplate mega-cluster
  *    through the MinHash band join ([[minhashProbe]]). Writes
  *    skew_minhash.json.
  *  - `probe:pagerank [edgesBase]` (default 200000) — PageRank on
  *    synthetic graphs laddered like the queries ([[pagerank]]). Writes
  *    scaling_r11_pagerank.json.
  *
  * SPARK_GRAFT_LADDER_OUT overrides the artifact path of every mode. All
  * modes run on one [[Session]] (default `local[16]`), time with
  * [[Bench.warmMin]] and stamp the artifact with [[Bench.weather]].
  *
  * Distributed mode: SPARK_GRAFT_MASTER=local-cluster[2,8,24576] runs
  * the same modes against REAL executor JVMs — serialized task closures,
  * network shuffle exchange, and broadcast transport instead of
  * in-process references — the one execution-path class a local[n] run
  * cannot price (see [[Session]] for the jar and executor memory).
  */
object ScaleLadder {
  import Bench.{num, obj, str}

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def arg[T](default: T)(parse: String => T): T = args.lift(1).fold(default)(parse)
    // Sandbox-proportional skew thresholds: the hot partitions here are
    // tens of MB, production defaults trigger at 256 MB (a 100 TB hot
    // key exceeds that by 3+ orders of magnitude). The probes show the
    // MECHANISM at proportional size, not the absolute default.
    val skewConfs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        sys.env.getOrElse("SPARK_GRAFT_SKEW_THRESHOLD", "8m"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        sys.env.getOrElse("SPARK_GRAFT_SKEW_ADVISORY", "8m"))
    val (file, confs, measure) = args.headOption match {
      case Some("probe:skew") =>
        // Force the shuffled-join path: a 21-row dim would broadcast and
        // hide the skewed exchange the probe exists to exercise.
        ("skew_detail.json", skewConfs ++ Seq(
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1"),
          skewProbe(_: SparkSession, srcDir, arg(16)(_.toInt)))
      case Some("probe:minhash") =>
        ("skew_minhash.json", skewConfs, minhashProbe(_: SparkSession, srcDir, arg(64)(_.toInt)))
      case Some("probe:pagerank") =>
        ("scaling_r11_pagerank.json", Nil, pagerank(_: SparkSession, arg(200000L)(_.toLong)))
      case _ =>
        val queries = SparkEntry.select(if (args.nonEmpty) args.toSeq else Seq(
          "dedup_minhash", "dedup_components", "dedup_spans", "dedup_jaccard",
          "ann_ivfpq", "ann_ivfpq_rerank", "llm_curation_full", "text_tfidf"))
        ("scaling_detail.json", Nil, ladder(_: SparkSession, srcDir, queries))
    }
    val spark = Session.build(16, confs: _*)
    val json = measure(spark)
    println(json)
    Bench.write(sys.env.getOrElse("SPARK_GRAFT_LADDER_OUT", file), json)
    spark.stop()
  }

  private def factors: Seq[Int] = sys.env.getOrElse("SPARK_GRAFT_LADDER_FACTORS", "1,4,16,64")
    .split(",").map(_.trim.toInt).toSeq

  private def iters: Int = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt

  /** Growth exponent b of t = a·f^b: least squares on (ln f, ln t) over
    * factors ≥ 4 (the ×1 point is dominated by fixed plan/JVM overhead
    * that would bias b DOWN; with it excluded, b is the marginal
    * data-growth exponent — the number that predicts 100× behavior).
    * NaN below two points. */
  def exponent(points: Seq[(Int, Double)]): Double = {
    val fit = points.filter(_._1 >= 4).map { case (f, t) => (math.log(f), math.log(t)) }
    if (fit.size < 2) Double.NaN
    else {
      val mx = fit.map(_._1).sum / fit.size
      val my = fit.map(_._2).sum / fit.size
      fit.map { case (x, y) => (x - mx) * (y - my) }.sum /
        fit.map { case (x, _) => (x - mx) * (x - mx) }.sum
    }
  }

  /** Time each name at each factor, factor-major so each factor's input
    * is prepared once (`at(f)` returns the frame builder for a name).
    * Returns per name the JSON fields `times`, `exponent`, `truncated`
    * (stopped advancing because slow) and `failed` (broke). */
  private def climb(spark: SparkSession, names: Seq[String])(
      at: Int => String => DataFrame): Seq[(String, Seq[(String, String)])] = {
    val cutoff = sys.env.getOrElse("SPARK_GRAFT_LADDER_CUTOFF", "180").toDouble
    val times = scala.collection.mutable.LinkedHashMap[(String, Int), Double]()
    val alive = scala.collection.mutable.Set[String](names: _*)
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    factors.foreach { f =>
      if (alive.nonEmpty) {
        val frame = at(f)
        names.filter(alive).foreach { n =>
          try {
            val t = Bench.warmMin(spark, iters, cutoff)(frame(n)).best.sec
            times((n, f)) = t
            println(f"[ladder] $n%-22s x$f%-3d $t%8.2f s")
            if (t > cutoff) {
              alive -= n
              println(s"[ladder] $n exceeded cutoff ${cutoff}s — not advancing")
            }
          } catch {
            case e: Throwable =>
              alive -= n
              failed(n) = s"x$f: ${e.getClass.getSimpleName}: ${e.getMessage}"
              println(s"[ladder] $n FAILED at ${failed(n)}")
          }
        }
      }
    }
    names.map { n =>
      val pts = factors.flatMap(f => times.get((n, f)).map(f -> _))
      n -> Seq(
        "times" -> obj(pts.map { case (f, t) => s"x$f" -> num(t) }: _*),
        "exponent" -> num(exponent(pts)),
        "truncated" -> (!alive(n) && !failed.contains(n)).toString,
        "failed" -> failed.get(n).fold("null")(str))
    }
  }

  private def ladder(spark: SparkSession, srcDir: String, queries: Seq[Q]): String = {
    val byName = queries.map(q => q.name -> q).toMap
    val rows = climb(spark, queries.map(_.name)) { f =>
      val dir = ScaleCorpus.at(spark, srcDir, f)
      println(s"[ladder] factor x$f dir=$dir")
      n => byName(n).run(spark, dir)
    }
    obj("metric" -> str("scaling"), "master" -> str(spark.sparkContext.master),
      "cpus" -> Session.cpus(16), "iters" -> iters.toString,
      "factors" -> str(factors.mkString(",")), "load" -> Bench.weather(),
      "queries" -> obj(rows.map { case (n, fields) => n -> obj(fields: _*) }: _*),
      "src" -> str(srcDir))
  }

  /** PageRank scale rung (SCALING.md "PageRank rung"): the ladder corpus
    * can't exercise [[graft.graph.PageRank]] — the registered queries walk
    * the driver-owned TPC-H purchase graph, which the ladder doesn't
    * derive — so this mode ladders the operator on DETERMINISTIC
    * synthetic graphs: at factor f, edge e of E = edgesBase·f has
    * src = e mod N, dst = Knuth-scatter(e) mod N, N = max(E/10, 100) (a
    * random-ish directed graph with mild in-degree skew — the shape, not
    * the data, is what the rung measures). 3 iterations, the registered
    * queries' configuration.
    *
    * What the exponent proves: per-iteration cost is one edge×rank join +
    * one edge-sized map-side-combined aggregation + a node-frame
    * checkpoint — all linear structures; a super-linear exponent would
    * mean the iteration loop re-executes prior rounds (the lineage-
    * truncation failure this operator's checkpoint discipline exists to
    * prevent). */
  private def pagerank(spark: SparkSession, base: Long): String = {
    val (knuth, prime) = (2654435761L, 999999937L)
    val rows = climb(spark, Seq("pagerank")) { f => _ =>
      val edges = base * f
      val nodes = math.max(edges / 10, 100L)
      val e = spark.range(edges).select(
        pmod(col("id"), lit(nodes)).as("src"),
        pmod(pmod(col("id") * knuth, lit(prime)), lit(nodes)).as("dst"))
      graft.graph.PageRank.ranks(e, "src", "dst", iterations = 3)
    }
    obj(Seq("metric" -> str("pagerank_ladder"), "edges_base" -> base.toString,
      "iterations" -> "3", "load" -> Bench.weather()) ++ rows.head._2: _*)
  }

  /** Planted-skew evidence probe (SCALING.md "Skew rung"): rewrite the ×N
    * corpus's `source` so ONE join key holds ~90% of the fact rows (the
    * power-law hot key of a real crawl), and drive the same sort-merge
    * join three ways:
    *
    *   A. AQE skew-join ON (the default posture) — expect
    *      OptimizeSkewedJoin to split the hot partition (plan shows
    *      `skew=true`), so no reducer owns 90% of the corpus;
    *   B. AQE skew-join OFF — the counterfactual straggler: the hot key
    *      serializes through one task;
    *   C. skew-join OFF + [[graft.ops.Skew.saltedJoin]] (factor 8) — the
    *      explicit fallback for plans AQE can't re-split.
    *
    * Meant for the distributed master (local-cluster[2,8,24576]). Each
    * mode is warm-up + min of 2. */
  private def skewProbe(spark: SparkSession, srcDir: String, factor: Int): String = {
    val dir = ScaleCorpus.at(spark, srcDir, factor)

    // The skewed fact: ~90% of documents share one source key — the
    // boilerplate/hot-domain shape of a real crawl. Deterministic (id
    // mod), so every mode joins the identical frame.
    def fact: DataFrame = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(10)) < 9, lit("src_hot"))
          .otherwise(col("source")).as("source"),
        col("text"))
    // Dimension: one weight row per source (dimension-sized, but the
    // probe forbids broadcasting it — see the session confs). MATERIALIZED
    // as a local relation, deliberately: OptimizeSkewedJoin pattern-matches
    // SMJ(Sort(Shuffle), Sort(Shuffle)) — a dim arriving through its own
    // aggregation (e.g. a distinct() kept lazy in the plan) interposes a
    // HashAggregate between the Sort and the shuffle stage and silently
    // DISABLES the skew rule (measured here first-hand; that failure
    // mode is exactly when the salted fallback earns its keep).
    lazy val dim: DataFrame = {
      val sources = fact.select(col("source")).distinct()
        .collect().map(_.getString(0)).sorted.toSeq // bounded: one row per source
      import spark.implicits._
      sources.map(s => (s, s.length.toDouble / 10.0)).toDF("source", "w")
    }

    // GLOBAL aggregate downstream, deliberately: a groupBy on the JOIN
    // key would inherit the join's hash partitioning, and AQE refuses to
    // split a skewed join whose output distribution a downstream
    // operator relies on — the split would break key co-location. A
    // global agg partial-aggregates per partition, so the join output
    // has no required distribution and the skew rule is free to act
    // (exactly the shape of a scoring/filter pass over a joined corpus).
    def run(label: String, skewJoin: Boolean, salted: Boolean): Bench.Run = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewJoin.toString)
      val best = Bench.warmMin(spark, 2) {
        val joined =
          if (salted) graft.ops.Skew.saltedJoin(fact, dim, "source",
            factor = 8, seedCols = Seq(col("doc_id")))
          else fact.join(dim, Seq("source"))
        joined.agg(count(lit(1)).as("n"),
          sum(crc32(col("text")).cast("double") * col("w")).as("weighted"))
      }.best
      println(f"[skew] $label%-28s ${best.sec}%8.2f s rows=${best.rows}")
      best
    }

    val hot = fact.groupBy("source").count().orderBy(col("count").desc)
      .limit(1).collect()(0)
    val total = fact.count()
    println(s"[skew] corpus x$factor: $total rows, hot key '${hot.getString(0)}' " +
      f"holds ${hot.getLong(1)} (${100.0 * hot.getLong(1) / total}%.1f%%)")

    val aqe = run("A: AQE skew-join ON", skewJoin = true, salted = false)
    val straggler = run("B: skew-join OFF", skewJoin = false, salted = false)
    val saltRun = run("C: OFF + saltedJoin(8)", skewJoin = false, salted = true)

    // Keep only the join lines of the plans — the artifact wants the
    // decision, not 200 lines of scan detail.
    def joinLines(r: Bench.Run): String = r.df.queryExecution.executedPlan.toString
      .linesIterator
      .filter(l => l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")
        || l.contains("AQEShuffleRead"))
      .map(_.trim).mkString(" | ")
    val aqeSplit = aqe.df.queryExecution.executedPlan.toString.contains("skew=true")
    println(s"[skew] AQE split observed in executed plan: $aqeSplit")
    obj("metric" -> str("skew_probe"), "master" -> str(spark.sparkContext.master),
      "factor" -> factor.toString, "rows" -> total.toString,
      "hot_share" -> num(hot.getLong(1).toDouble / total, 2),
      "threshold" -> str(sys.env.getOrElse("SPARK_GRAFT_SKEW_THRESHOLD", "8m")),
      "load" -> Bench.weather(),
      "aqe_on_sec" -> num(aqe.sec, 2), "aqe_split_observed" -> aqeSplit.toString,
      "skew_off_sec" -> num(straggler.sec, 2), "salted_sec" -> num(saltRun.sec, 2),
      "aqe_plan" -> str(joinLines(aqe)), "off_plan" -> str(joinLines(straggler)),
      "salted_plan" -> str(joinLines(saltRun)))
  }

  /** Skew rung for the engine's heaviest real exchange — the MinHash LSH
    * band self-join (SCALING.md "MinHash mega-cluster rung").
    *
    * The planted shape: a boilerplate mega-cluster — SPARK_GRAFT_MH_HOT
    * (default 0.01) of all documents rewritten to ONE identical text
    * (site chrome, license headers, templated pages; every real crawl has
    * this). Identical text → identical 64-lane signature → the same band
    * hash in EVERY band, so the candidate self-join's hot bucket emits
    * bands·m·(m−1)/2 pairs. This is the skew class AQE cannot repair:
    * OptimizeSkewedJoin splits a hot PARTITION across tasks, but the
    * quadratic OUTPUT still has to be produced, shuffled to the distinct,
    * and estimated (m = 10⁸ at 100 TB → 10¹⁶ candidate pairs — unrunnable
    * no matter how it is split).
    *
    * Two modes over the SAME derived ×factor corpus, each warm-up + one
    * timed run:
    *
    *   A. collapsed — [[graft.dedup.MinHash.dedup]] as shipped: identical
    *      signatures collapse to their min-id representative through one
    *      skew-robust aggregation (map-side partial combine), so the
    *      mega-cluster enters the band join as ONE row;
    *   B. pair-derived — the pre-collapse counterfactual (losers read off
    *      the full [[graft.dedup.MinHash.nearDuplicatePairs]] list), which
    *      pays the quadratic bucket.
    *
    * The probe asserts both modes keep the SAME document set (the collapse
    * is an optimization, not a semantics change), times both, records the
    * hot-bucket arithmetic, and checks whether AQE flagged the band join
    * skewed in mode B (it typically does — and it still cannot help). */
  private def minhashProbe(spark: SparkSession, srcDir: String, factor: Int): String = {
    val hotShare = sys.env.getOrElse("SPARK_GRAFT_MH_HOT", "0.01").toDouble
    val dir = ScaleCorpus.at(spark, srcDir, factor)

    // One fixed boilerplate text — long enough that shingling is real
    // work, identical across ladder copies (the rewrite happens AFTER the
    // copy-suffixing, so the cluster genuinely spans the whole corpus).
    val boiler = (1 to 60).map(i => s"boilerplate_token_$i").mkString(" ")
    val mod = 1000000L
    val cut = (hotShare * mod).toLong
    def corpus: DataFrame = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        when(pmod(col("doc_id") * lit(2654435761L) % lit(999999937L), lit(mod)) < cut,
          lit(boiler)).otherwise(col("text")).as("text"))

    val total = corpus.count()
    val m = corpus.filter(col("text") === boiler).count()
    val bands = 16
    val hotPairs = bands.toLong * m * (m - 1) / 2
    println(s"[mh-skew] corpus x$factor: $total docs, mega-cluster m=$m " +
      s"(${100.0 * m / total}%), hot-bucket candidates = $hotPairs")

    def timed(label: String)(frame: => DataFrame): Bench.Run = {
      val r = Bench.warmMin(spark, 1)(frame).best
      println(f"[mh-skew] $label%-14s ${r.sec}%8.2f s kept=${r.rows}")
      r
    }
    val a = timed("A collapsed") {
      graft.dedup.MinHash.dedup(corpus, "text", "doc_id", threshold = 0.7)
    }
    // the exact formulation dedup used before the collapse
    val b = timed("B pair-derived") {
      val c = corpus
      val losers = graft.dedup.MinHash
        .nearDuplicatePairs(c, "text", "doc_id", threshold = 0.7)
        .select(col("id_b").as("_gf_loser")).distinct()
      c.join(losers, c("doc_id") === col("_gf_loser"), "left_anti")
    }
    require(a.rows == b.rows,
      s"collapse changed the kept set: ${a.rows} vs ${b.rows} — the modes must agree")
    val aqeSplit = b.df.queryExecution.executedPlan.toString.contains("skew=true")
    println(s"[mh-skew] AQE flagged the band join skewed in mode B: $aqeSplit")
    obj("metric" -> str("minhash_skew_probe"), "master" -> str(spark.sparkContext.master),
      "factor" -> factor.toString, "docs" -> total.toString, "cluster_m" -> m.toString,
      "hot_share" -> num(m.toDouble / total, 2), "hot_bucket_candidates" -> hotPairs.toString,
      "load" -> Bench.weather(),
      "collapsed_sec" -> num(a.sec, 2), "pair_derived_sec" -> num(b.sec, 2),
      "kept" -> a.rows.toString, "kept_equal" -> "true", "aqe_split_observed_b" -> aqeSplit.toString)
  }
}
