package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-Pair-Encoding tokenizer training + encoding (Sennrich, Haddow &
  * Birch, ACL 2016) — "train a tokenizer on the corpus", the step a
  * pre-training pipeline runs between curation and packing.
  *
  * Split of labor, Spark-first:
  *
  *  - **Word counting is the corpus-scale half** and runs distributed:
  *    one explode + map-side-combined count — only (word, partial count)
  *    pairs shuffle, text never does. This is the ONLY pass over the
  *    corpus; at 100 TB it is one scan.
  *  - **The merge loop runs on the driver over the counted VOCABULARY**,
  *    which is vocab-bounded (top `maxVocab` types by count, the
  *    IVF-codebook/LM-table precedent for bounded driver state) — the
  *    standard implementation choice (BPE training needs only the
  *    word→count table; reference tokenizer trainers do exactly this).
  *    Deterministic: ties on pair count break lexicographically, ties on
  *    word count break on the word, so two runs of any partitioning
  *    produce the SAME merge table.
  *  - **Encoding is distributed again** via the native
  *    [[graft.functions.BpeEncode]] expression (no Scala UDF): each text
  *    row's words are greedily merged by rank in one pass per rule
  *    application. The merge table rides the serialized expression
  *    (numMerges-bounded, like a broadcast dimension).
  *
  * Reference analogue: none (the reference has no tokenizer); this is
  * the token-counting row's (SURVEY row 54) training-side completion.
  */
object Bpe {

  /** End-of-word marker (the paper's `</w>`): merges never cross word
    * boundaries, and a subword that ends a word is distinct from the
    * same subword mid-word. */
  val EndOfWord = "</w>"

  /** Ordered merge rules; rank = position. */
  final case class Model(merges: Vector[(String, String)]) {
    require(merges.map(m => (m._1, m._2)).distinct.size == merges.size,
      "duplicate merge rules")
    def vocabSeed: Set[String] = merges.map { case (a, b) => a + b }.toSet
  }

  /** Corpus-scale word counts — the one distributed pass. */
  def wordCounts(corpus: DataFrame, textCol: String): DataFrame =
    corpus
      .select(explode(TextAnalysis.tokens(col(textCol))).as("_gf_w"))
      .filter(length(col("_gf_w")) > 0)
      .groupBy("_gf_w").agg(count(lit(1)).as("_gf_c"))

  /** Train `numMerges` rules on the corpus. `maxVocab` bounds driver
    * state (top types by (count desc, word)); `minPairCount` stops the
    * loop when the best pair drops below it (rare-pair merges are
    * noise — the paper's guidance). */
  def train(corpus: DataFrame, textCol: String, numMerges: Int,
            maxVocab: Int = 1000000, minPairCount: Long = 2): Model = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(maxVocab >= 1, s"maxVocab must be >= 1, got $maxVocab")
    require(minPairCount >= 1, s"minPairCount must be >= 1, got $minPairCount")
    val counted = wordCounts(corpus, textCol)
      .orderBy(col("_gf_c").desc, col("_gf_w"))
      .limit(maxVocab)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    trainFromCounts(counted, numMerges, minPairCount)
  }

  /** The bounded merge loop, exact and deterministic. Exposed for specs
    * and for callers that already hold a count table. */
  def trainFromCounts(counted: Seq[(String, Long)], numMerges: Int,
                      minPairCount: Long = 2): Model = {
    // word -> (symbol sequence, count)
    var vocab: Array[(Array[String], Long)] = counted.iterator.map {
      case (w, c) =>
        (w.toCharArray.map(_.toString) :+ EndOfWord, c)
    }.toArray
    val merges = Vector.newBuilder[(String, String)]
    var round = 0
    var continue = true
    while (round < numMerges && continue) {
      val pairCounts = new java.util.HashMap[(String, String), Long]()
      vocab.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          pairCounts.merge(k, c, (a, b) => a + b): Unit
          i += 1
        }
      }
      // best = max count, ties lexicographic on (first, second) — a total
      // order, so the merge table is partition- and run-independent.
      var best: (String, String) = null
      var bestC = 0L
      pairCounts.forEach { (k, v) =>
        if (v > bestC || (v == bestC && best != null &&
            (k._1 < best._1 || (k._1 == best._1 && k._2 < best._2))))
          { best = k; bestC = v }
      }
      if (best == null || bestC < minPairCount) continue = false
      else {
        merges += best
        val merged = best._1 + best._2
        vocab = vocab.map { case (syms, c) =>
          if (syms.length < 2) (syms, c)
          else {
            val out = Array.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == best._1 && syms(i + 1) == best._2) {
                out += merged; i += 2
              } else { out += syms(i); i += 1 }
            }
            (out.result(), c)
          }
        }
        round += 1
      }
    }
    Model(merges.result())
  }

  /** Encode one word into subwords under the model — greedy by rank
    * (repeatedly merge the best-ranked adjacent pair), the standard
    * apply-time algorithm. Static kernel shared by the expression. */
  def encodeWord(word: String, ranks: java.util.HashMap[(String, String), Int]): Array[String] = {
    if (word.isEmpty) return Array.empty
    var syms = word.toCharArray.map(_.toString) :+ EndOfWord
    var done = false
    while (!done && syms.length >= 2) {
      var bestRank = Int.MaxValue
      var bestAt = -1
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrDefault((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestAt = i }
        i += 1
      }
      if (bestAt < 0) done = true
      else {
        // merge EVERY occurrence of the chosen pair (left to right)
        val a = syms(bestAt); val b = syms(bestAt + 1); val m = a + b
        val out = Array.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
            out += m; j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.result()
      }
    }
    syms
  }

  private val Format = "graft-bpe-v1"

  /** Persist a trained merge table — the "train the tokenizer once on a
    * sample, ship it to the 100 TB encode pass" lifecycle. One tiny
    * rank-ordered parquet, the public text shape alongside (merges.txt +
    * vocab.json via [[writeTextFormat]], so the artifact is consumable
    * outside graft), and a format-tagged manifest written LAST (the
    * [[graft.sim.Ivf.writeIndex]] completeness-marker convention). */
  def writeModel(spark: org.apache.spark.sql.SparkSession, model: Model,
                 path: String): Unit = {
    import spark.implicits._
    model.merges.zipWithIndex
      .map { case ((a, b), r) => (r, a, b) }
      .toDF("rank", "first", "second")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/merges")
    writeTextFormat(spark, model, path)
    graft.Manifest.write(spark, path, "format" -> Format,
      "num_merges" -> model.merges.size, "end_of_word" -> EndOfWord)
  }

  /** Re-open a persisted merge table. Rank order restores the exact
    * training order (BPE rules are meaningless unordered). Refusals:
    * missing manifest, wrong format, rank-count mismatch against the
    * manifest (a partially-copied merges file would otherwise encode
    * silently differently). */
  def readModel(spark: org.apache.spark.sql.SparkSession, path: String): Model = {
    val declared = graft.Manifest.read(spark, path, "BPE merge table", Format)
      .int("num_merges")
    val rows = spark.read.parquet(s"$path/merges")
      .orderBy("rank").collect()
      .map(r => (r.getAs[String]("first"), r.getAs[String]("second")))
    if (rows.length != declared) throw new IllegalArgumentException(
      s"$path/merges holds ${rows.length} rules but the manifest declares " +
        s"$declared — refusing a partially-copied model")
    Model(rows.toVector)
  }

  /** A model as read back from the public text format: the ordered merge
    * table plus the vocab exactly as the file lists it (id order). */
  final case class TextModel(model: Model, vocab: Vector[String])

  /** The token inventory a model can emit, in the conventional id order:
    * base symbols (every merge input that no earlier merge produced, plus
    * [[EndOfWord]] and any caller-handed `alphabet` entries) sorted, then
    * merge products in rank order. Deterministic from the model alone, so
    * two trainers producing the same merges export the same vocab. */
  def vocabTokens(model: Model, alphabet: Seq[String] = Nil): Vector[String] = {
    val products = model.merges.map { case (a, b) => a + b }.toSet
    val base = (model.merges.iterator.flatMap { case (a, b) => Iterator(a, b) }
      .filterNot(products.contains) ++ Iterator(EndOfWord) ++ alphabet.iterator)
      .toVector.distinct.sorted
    base ++ model.merges.map { case (a, b) => a + b }
  }

  /** JSON string escaping for vocab tokens: `"`/`\`/control chars and all
    * non-ASCII as \\uXXXX, so the file is plain-ASCII JSON any consumer
    * (and our [[graft.Manifest.parse]] read-back) parses identically. */
  private def jsonEscape(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c >= 0x20 && c < 0x7f => sb.append(c)
      case c => sb.append(f"\\u${c.toInt}%04x")
    }
    sb.result()
  }

  private def writeText(spark: org.apache.spark.sql.SparkSession,
                        path: String, content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readText(spark: org.apache.spark.sql.SparkSession,
                       path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) throw new IllegalArgumentException(
      s"$path is missing — not a text-format BPE model directory")
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Export the merge table in the PUBLIC text shape — `merges.txt`
    * (the subword-nmt format: a `#version: 0.2` header, then one
    * "first second" pair per line in rank order) plus `vocab.json`
    * (token → integer id, the HuggingFace-tokenizers layout, ids in
    * [[vocabTokens]] order) — so the trained tokenizer is consumable
    * outside graft. Symbols never contain whitespace (words are
    * whitespace-split before training), so the space-separated line
    * format is unambiguous. Overload below re-exports a read-back
    * [[TextModel]] with its vocab verbatim. */
  def writeTextFormat(spark: org.apache.spark.sql.SparkSession, model: Model,
                      path: String, alphabet: Seq[String] = Nil): Unit =
    writeTextFormat(spark, TextModel(model, vocabTokens(model, alphabet)), path)

  def writeTextFormat(spark: org.apache.spark.sql.SparkSession,
                      tm: TextModel, path: String): Unit = {
    val products = tm.model.merges.map { case (a, b) => a + b }
    val missing = products.filterNot(tm.vocab.contains)
    require(missing.isEmpty,
      s"vocab is missing ${missing.size} merge products (first: " +
        s"'${missing.head}') — the export would not round-trip")
    val merges = ("#version: 0.2" +:
      tm.model.merges.map { case (a, b) => s"$a $b" }).mkString("", "\n", "\n")
    writeText(spark, s"$path/merges.txt", merges)
    val vocab = tm.vocab.zipWithIndex
      .map { case (t, i) => s""""${jsonEscape(t)}": $i""" }
      .mkString("{", ", ", "}")
    writeText(spark, s"$path/vocab.json", vocab)
  }

  /** Re-open a text-format model. Refusals: missing files, a symbol
    * containing whitespace (not ours), duplicate rules, vocab ids that
    * are not dense 0..n-1, and merge products absent from the vocab (a
    * merges/vocab pair from different trainings). Round-trips byte-equal
    * through [[writeTextFormat]] (BpeSpec pins it). */
  def readTextFormat(spark: org.apache.spark.sql.SparkSession,
                     path: String): TextModel = {
    val lines = readText(spark, s"$path/merges.txt").split("\n", -1)
      .iterator.filterNot(l => l.startsWith("#") || l.isEmpty).toVector
    val merges = lines.map { l =>
      val parts = l.split(" ", -1)
      if (parts.length != 2 || parts.exists(_.isEmpty))
        throw new IllegalArgumentException(
          s"$path/merges.txt line '$l' is not a 'first second' pair")
      (parts(0), parts(1))
    }
    val model = Model(merges)
    val vocabTxt = readText(spark, s"$path/vocab.json")
    val parsed = graft.Manifest.parse(s"$path/vocab.json", vocabTxt)
    val tokens = parsed.keys
    val byId = new Array[String](tokens.size)
    tokens.foreach { tok =>
      val i = parsed.int(tok)
      if (i < 0 || i >= byId.length || byId(i) != null)
        throw new IllegalArgumentException(
          s"$path/vocab.json ids are not dense 0..${byId.length - 1} " +
            s"(token '$tok' has id $i)")
      byId(i) = tok
    }
    val vocab = byId.toVector
    val missing = merges.map { case (a, b) => a + b }.filterNot(vocab.contains)
    if (missing.nonEmpty) throw new IllegalArgumentException(
      s"$path/vocab.json is missing ${missing.size} merge products " +
        s"(first: '${missing.head}') — merges/vocab from different trainings")
    TextModel(model, vocab)
  }

  /** Distributed encode: (idCol, n_words, n_subwords, subwords) — one
    * codegen'd projection, zero shuffle. */
  def encode(df: DataFrame, idCol: String, textCol: String,
             model: Model): DataFrame = {
    val sub = graft.functions.BpeEncodeFun.bpeEncode(col(textCol), model.merges)
    df.select(col(idCol),
        size(filter(TextAnalysis.tokens(col(textCol)), t => length(t) > 0))
          .as("n_words"),
        sub.as("subwords"))
      .select(col(idCol), col("n_words"),
        size(col("subwords")).as("n_subwords"), col("subwords"))
  }
}
