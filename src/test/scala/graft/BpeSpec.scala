package graft

import graft.text.Bpe

/** Pins for the BPE trainer/encoder ([[graft.text.Bpe]]): the paper's
  * classic fixture hand-derived merge by merge, deterministic
  * tie-breaks, the greedy apply side (including the canonical
  * "lowest" → low + est</w>), minPairCount stop, and refusals. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  // Sennrich et al. §3.2's corpus shape: {low:5, lower:2, newest:6,
  // widest:3}. Hand-derived rounds (count ties break lexicographically):
  //   r1: (e,s):9 (t,</w>):9 (es? no) tie {(e,s),(s,t),(t,</w>)} -> (e,s)
  //   r2: (es,t):9 vs (t,</w>):9 -> "es" < "t" -> (es,t)
  //   r3: (est,</w>):9 -> (est,</w>)
  //   r4: (l,o):7 (o,w):7 -> (l,o)
  //   r5: (lo,w):7 -> (lo,w)
  private val classicCounts = Seq[(String, Long)](
    ("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))

  test("the classic fixture derives the paper's merge sequence") {
    val m = Bpe.trainFromCounts(classicCounts, numMerges = 5)
    assert(m.merges == Vector(
      ("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o"), ("lo", "w")))
  }

  test("greedy encode: 'lowest' becomes low + est</w>") {
    val m = Bpe.trainFromCounts(classicCounts, numMerges = 5)
    val ranks = new java.util.HashMap[(String, String), Int]()
    m.merges.zipWithIndex.foreach { case (p, i) => ranks.put(p, i) }
    assert(Bpe.encodeWord("lowest", ranks).toSeq == Seq("low", "est</w>"))
    // in-vocab word merges fully up to its subwords
    assert(Bpe.encodeWord("newest", ranks).toSeq ==
      Seq("n", "e", "w", "est</w>"))
    // unseen characters stay single symbols
    assert(Bpe.encodeWord("xyz", ranks).toSeq == Seq("x", "y", "z", "</w>"))
    assert(Bpe.encodeWord("", ranks).isEmpty)
  }

  test("minPairCount stops the loop; numMerges caps it") {
    // every pair occurs once -> below minPairCount=2 -> no merges
    val m0 = Bpe.trainFromCounts(Seq(("abc", 1L)), numMerges = 10)
    assert(m0.merges.isEmpty)
    val m1 = Bpe.trainFromCounts(classicCounts, numMerges = 2)
    assert(m1.merges == Vector(("e", "s"), ("es", "t")))
  }

  test("distributed train + native encode end to end") {
    val corpus = Seq(
      "low low low low low newest newest newest newest newest newest",
      "lower lower widest widest widest", "").toDF("text")
    val model = Bpe.train(corpus, "text", numMerges = 5)
    assert(model.merges == Vector(
      ("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o"), ("lo", "w")))
    val enc = Bpe.encode(
        Seq((1L, "Lowest  newest"), (2L, ""), (3L, "low")).toDF("doc_id", "text"),
        "doc_id", "text", model)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_words") ->
          r.getSeq[String](r.fieldIndex("subwords")).toList)).toMap
    // case-folded by the tokenizer; two words -> concatenated subwords
    assert(enc(1L)._2 == Seq("low", "est</w>", "n", "e", "w", "est</w>"))
    assert(enc(1L)._1 == 2)
    assert(enc(2L) == (0 -> Seq.empty))
    assert(enc(3L)._2 == Seq("low", "</w>"))
  }

  test("the encode projection is shuffle-free") {
    val model = Bpe.trainFromCounts(classicCounts, numMerges = 3)
    val plan = Bpe.encode(Seq((1L, "low")).toDF("doc_id", "text"),
        "doc_id", "text", model)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("persisted model round-trips rule-for-rule and refuses foreign dirs") {
    val m = Bpe.trainFromCounts(classicCounts, numMerges = 5)
    val path = java.nio.file.Files.createTempDirectory("bpe-model").toString
    Bpe.writeModel(spark, m, path)
    assert(Bpe.readModel(spark, path).merges == m.merges)
    // missing manifest = not a model (or interrupted write)
    val empty = java.nio.file.Files.createTempDirectory("bpe-empty").toString
    intercept[IllegalArgumentException] { Bpe.readModel(spark, empty) }
    // wrong format tag refuses (drop the hadoop-local .crc sidecar so the
    // hand-rewrite isn't masked by a checksum error)
    def rewrite(json: String): Unit = {
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(path, ".manifest.json.crc"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(path, "manifest.json"), json): Unit
    }
    rewrite("""{"format": "graft-lm-v1", "total": 3}""")
    intercept[IllegalArgumentException] { Bpe.readModel(spark, path) }
    // empty manifest
    rewrite("")
    intercept[IllegalArgumentException] { Bpe.readModel(spark, path) }
    // rank-count mismatch (partially-copied merges) refuses
    rewrite("""{"format": "graft-bpe-v1", "num_merges": 9, "end_of_word": "</w>"}""")
    intercept[IllegalArgumentException] { Bpe.readModel(spark, path) }
  }

  test("text format round-trips byte-equal and is what writeModel ships") {
    val m = Bpe.trainFromCounts(classicCounts, numMerges = 5)
    val p1 = java.nio.file.Files.createTempDirectory("bpe-txt1").toString
    val p2 = java.nio.file.Files.createTempDirectory("bpe-txt2").toString
    Bpe.writeTextFormat(spark, m, p1)
    val tm = Bpe.readTextFormat(spark, p1)
    assert(tm.model.merges == m.merges)
    // vocab: base symbols sorted (</w> sorts first), then products in rank order
    assert(tm.vocab == Vector(
      "</w>", "e", "l", "o", "s", "t", "w",
      "es", "est", "est</w>", "lo", "low"))
    // write the read-back verbatim -> byte-identical files
    Bpe.writeTextFormat(spark, tm, p2)
    def bytes(dir: String, f: String) =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, f)).toSeq
    assert(bytes(p1, "merges.txt") == bytes(p2, "merges.txt"))
    assert(bytes(p1, "vocab.json") == bytes(p2, "vocab.json"))
    // the public shape itself: header + rank-ordered space-separated pairs
    assert(new String(bytes(p1, "merges.txt").toArray, "UTF-8") ==
      "#version: 0.2\ne s\nes t\nest </w>\nl o\nlo w\n")
    // writeModel ships the same two files alongside the parquet
    val p3 = java.nio.file.Files.createTempDirectory("bpe-full").toString
    Bpe.writeModel(spark, m, p3)
    assert(bytes(p3, "merges.txt") == bytes(p1, "merges.txt"))
    assert(bytes(p3, "vocab.json") == bytes(p1, "vocab.json"))
    // non-ASCII alphabet entries escape to \uXXXX and survive the trip
    val p4 = java.nio.file.Files.createTempDirectory("bpe-uni").toString
    Bpe.writeTextFormat(spark, m, p4, alphabet = Seq("é", "\""))
    val tm4 = Bpe.readTextFormat(spark, p4)
    assert(tm4.vocab.contains("é") && tm4.vocab.contains("\""))
    assert(!new String(bytes(p4, "vocab.json").toArray, "UTF-8").contains("é"))
  }

  test("text format refusals: missing files, bad lines, foreign vocab") {
    val m = Bpe.trainFromCounts(classicCounts, numMerges = 3)
    val empty = java.nio.file.Files.createTempDirectory("bpe-txtempty").toString
    intercept[IllegalArgumentException] { Bpe.readTextFormat(spark, empty) }
    val p = java.nio.file.Files.createTempDirectory("bpe-txtbad").toString
    Bpe.writeTextFormat(spark, m, p)
    def rewrite(f: String, s: String): Unit = {
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(p, s".$f.crc"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p, f), s): Unit
    }
    // a merge line that is not a 'first second' pair
    rewrite("merges.txt", "#version: 0.2\ne s\nes\n")
    intercept[IllegalArgumentException] { Bpe.readTextFormat(spark, p) }
    // vocab from a different training (missing a merge product)
    rewrite("merges.txt", "#version: 0.2\ne s\nq z\n")
    intercept[IllegalArgumentException] { Bpe.readTextFormat(spark, p) }
    // non-dense vocab ids
    rewrite("merges.txt", "#version: 0.2\ne s\n")
    rewrite("vocab.json", """{"e": 0, "s": 2, "es": 3}""")
    intercept[IllegalArgumentException] { Bpe.readTextFormat(spark, p) }
    // empty vocab
    rewrite("vocab.json", "")
    assert(intercept[IllegalArgumentException] {
      Bpe.readTextFormat(spark, p)
    }.getMessage.contains("vocab.json is corrupt"))
    // exporting a vocab that lacks a product refuses at write time
    intercept[IllegalArgumentException] {
      Bpe.writeTextFormat(spark, Bpe.TextModel(m, Vector("e", "s")), p)
    }
  }

  test("refusals: bad numMerges/maxVocab/minPairCount, duplicate rules") {
    val c = Seq(Tuple1("a b")).toDF("text")
    intercept[IllegalArgumentException] { Bpe.train(c, "text", 0) }
    intercept[IllegalArgumentException] { Bpe.train(c, "text", 1, maxVocab = 0) }
    intercept[IllegalArgumentException] { Bpe.train(c, "text", 1, minPairCount = 0) }
    intercept[IllegalArgumentException] {
      Bpe.Model(Vector(("a", "b"), ("a", "b"))) }
  }
}
