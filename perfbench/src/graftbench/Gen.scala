package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File
import java.security.MessageDigest

/** Seeded input generator. Every value is a pure function of (seed, row
  * id, salt) through xxhash64, every frame starts from a `spark.range`
  * with a fixed slice count, and nothing shuffles before the write, so
  * one seed gives byte-identical parquet data pages on any machine and
  * core count.
  * The program under test sees only these files; the planted-label
  * tables are read by the benchmark's own checks. */
object Gen {

  /** Parquet slices per generated table, fixed so bytes do not depend on
    * the core count. */
  val Slices = 4

  final case class Table(name: String, path: String, rows: Long, bytes: Long)

  /** What a workload's generator wrote: `rows` is the input-row count
    * behind `rows_per_s`, `digest` a sha256 over every file's data pages. */
  final case class Inputs(tables: Seq[Table], rows: Long, bytes: Long,
                          digest: String, rates: Seq[(String, Double)]) {
    def path(name: String): String = tables.find(_.name == name).get.path
  }

  private def hash(seed: Long, id: Column, salt: Int, more: Column*): Column =
    xxhash64(Seq(lit(seed), id, lit(salt)) ++ more: _*)
  private def pick(seed: Long, id: Column, salt: Int, n: Long): Column =
    pmod(hash(seed, id, salt), lit(n))
  private def unif(seed: Long, id: Column, salt: Int, more: Column*): Column =
    pmod(hash(seed, id, salt, more: _*), lit(1000000L)).cast("double") / 1e6

  // ---------------------------------------------------------------- lineitem

  val LineitemRows = 20000L
  val NullRate = 0.02
  val DupRate = 0.01
  val OutlierRate = 0.005
  val CaseRate = 0.03
  val SpaceRate = 0.02
  val BadCategoryRate = 0.005

  /** A `lineitem`-shaped row as a function of its row key `r`. */
  private def lineitemCols(seed: Long, r: Column): Seq[Column] = {
    def dirty(base: Column, salt: Int): Column = {
      val x = unif(seed, r, salt)
      val b1 = BadCategoryRate
      val b2 = b1 + CaseRate
      val b3 = b2 + SpaceRate
      val b4 = b3 + NullRate
      when(x < b1, lit("X")).when(x < b2, lower(base))
        .when(x < b3, concat(lit(" "), base, lit("  ")))
        .when(x < b4, lit(null).cast("string")).otherwise(base)
    }
    def nullable(c: Column, salt: Int): Column =
      when(unif(seed, r, salt) < NullRate, lit(null).cast("double")).otherwise(c)
    val qty = (pick(seed, r, 4, 50) + 1).cast("double")
    val price = round(qty * (lit(900.0) + pick(seed, r, 5, 100000).cast("double") / 100.0), 2)
    Seq(
      (floor(r / 4) + 1).cast("long").as("l_orderkey"),
      (pick(seed, r, 1, 20000) + 1).as("l_partkey"),
      (pick(seed, r, 2, 1000) + 1).as("l_suppkey"),
      (pmod(r, lit(7L)) + 1).cast("int").as("l_linenumber"),
      nullable(qty, 3).as("l_quantity"),
      when(unif(seed, r, 7) < OutlierRate, price * 100).otherwise(price).as("l_extendedprice"),
      nullable(pick(seed, r, 9, 11).cast("double") / 100.0, 8).as("l_discount"),
      (pick(seed, r, 10, 9).cast("double") / 100.0).as("l_tax"),
      dirty(element_at(array(lit("A"), lit("N"), lit("R")),
        (pick(seed, r, 11, 3) + 1).cast("int")), 12).as("l_returnflag"),
      dirty(element_at(array(lit("F"), lit("O")),
        (pick(seed, r, 13, 2) + 1).cast("int")), 14).as("l_linestatus"),
      timestamp_seconds(lit(694224000L) + pick(seed, r, 15, 2500) * 86400L).as("l_shipdate"))
  }

  def qaTabular(spark: SparkSession, seed: Long, dir: String): Inputs = {
    val nDup = (LineitemRows * DupRate).toLong
    val nBase = LineitemRows - nDup
    val base = spark.range(0, nBase, 1, Slices).select(lineitemCols(seed, col("id")): _*)
    // exact copies of seeded earlier rows: the copy re-derives every
    // column from the same row key
    val dups = spark.range(0, nDup, 1, Slices)
      .select(lineitemCols(seed, pick(seed, col("id"), 16, nBase)): _*)
    val t = write(base.unionByName(dups), dir, "lineitem")
    inputs(Seq(t), t.rows, Seq(
      "null" -> NullRate, "duplicate" -> DupRate, "outlier" -> OutlierRate,
      "case_variant" -> CaseRate, "space_variant" -> SpaceRate,
      "bad_category" -> BadCategoryRate))
  }

  // ------------------------------------------------------------------ corpus

  val CorpusDocs = 800L
  val ExactDupRate = 0.03
  val NearDupRate = 0.05
  val MojibakeRate = 0.01
  val ShortRate = 0.02
  val GibberishRate = 0.01
  val PiiRate = 0.05
  val BenchHits = 10
  val BenchMisses = 10
  val RefDocs = 300L

  val ExactBase = 1000000L
  val NearBase = 2000000L
  val Dim = 64
  val Clusters = 16L

  private val Vocab: Seq[String] = Seq(
    "the", "a", "and", "of", "to", "in", "is", "that", "for", "it", "with",
    "as", "was", "on", "be", "by", "this", "are", "at", "from") ++ Seq(
    "spark", "table", "column", "query", "stream", "batch", "window", "filter",
    "group", "order", "merge", "value", "vector", "index", "shard", "token",
    "corpus", "schema", "engine", "cluster", "driver", "worker", "memory",
    "buffer", "record", "report", "metric", "sample", "signal", "model",
    "train", "score", "label", "source", "format", "parquet", "storage",
    "network", "latency", "reader", "writer", "planner", "operator",
    "partition", "shuffle", "broadcast", "join", "sort", "hash", "scan",
    "project", "aggregate", "harvest", "country", "market", "garden", "river",
    "mountain", "forest", "harbor", "village", "castle", "bridge", "station",
    "library", "museum", "theater", "kitchen", "lantern", "letter", "number",
    "picture", "history", "science", "music", "doctor", "teacher", "student",
    "farmer", "meadow", "artist", "winter", "summer", "morning", "evening",
    "yellow", "purple", "silver", "golden", "quiet", "bright", "gentle",
    "simple", "careful", "rapid", "steady", "modern", "ancient", "public",
    "private", "useful", "honest", "famous")
  private val vocab = array(Vocab.map(lit): _*)

  /** 40 to 100 seeded words for row key `r`. */
  private def words(seed: Long, r: Column, salt: Int): Column = {
    val n = (pick(seed, r, salt, 61) + 40).cast("int")
    transform(sequence(lit(0), n - 1), i =>
      element_at(vocab, (pmod(hash(seed, r, salt + 1, i), lit(Vocab.size.toLong)) + 1).cast("int")))
  }

  /** One to three seeded word substitutions, keyed by the copy's id `j`. */
  private def edit(seed: Long, ws: Column, j: Column): Column = {
    val forced = pmod(hash(seed, j, 40), size(ws).cast("long"))
    transform(ws, (w, i) =>
      when(i.cast("long") === forced || pmod(hash(seed, j, 41, i), lit(40L)) === 0L,
        element_at(vocab, (pmod(hash(seed, j, 42, i), lit(Vocab.size.toLong)) + 1).cast("int")))
        .otherwise(w))
  }

  /** The defect a base document with key `r` carries, or null. Copies of
    * a document carry its defect too, so a near-copy differs from its
    * original only by the word edits. */
  private def defect(seed: Long, r: Column): Column = {
    val x = unif(seed, r, 50)
    val b1 = MojibakeRate
    val b2 = b1 + ShortRate
    val b3 = b2 + GibberishRate
    val b4 = b3 + PiiRate
    when(x < b1, lit("mojibake")).when(x < b2, lit("short"))
      .when(x < b3, lit("gibberish")).when(x < b4, lit("pii"))
  }

  private def render(seed: Long, r: Column, ws: Column): Column = {
    val d = defect(seed, r)
    val gib = array_join(transform(sequence(lit(0), lit(30)), i =>
      concat(lit("#"), substring(md5(concat(lit(seed.toString), r.cast("string"),
        i.cast("string"))), 1, 5), lit("!"))), " ")
    when(d === "mojibake", concat(array_join(ws, " "), lit(" cafÃ© menu")))
      .when(d === "short", array_join(slice(ws, 1, 8), " "))
      .when(d === "gibberish", gib)
      .when(d === "pii", concat(array_join(ws, " "),
        lit(" contact "), lit("user"), r.cast("string"),
        lit("@example.com from 10.0.0.12 ssn 123-45-6789")))
      .otherwise(array_join(ws, " "))
  }

  /** A document's embedding: a seeded point near one of `Clusters`
    * centres; copies share their original's vector. */
  private def embedding(seed: Long, r: Column): Column =
    transform(sequence(lit(0), lit(Dim - 1)), d =>
      (unif(seed, pmod(r, lit(Clusters)), 90, d) * 2 - 1 + (unif(seed, r, 91, d) - 0.5) * 0.4)
        .cast("float"))

  private def docCols(seed: Long, id: Column, r: Column, ws: Column): Seq[Column] = Seq(
    id.as("doc_id"), render(seed, r, ws).as("text"),
    concat(lit("src"), pmod(r, lit(20L)).cast("string")).as("source"),
    embedding(seed, r).as("embedding"))

  private def baseDocs(spark: SparkSession, seed: Long): DataFrame =
    spark.range(0, CorpusDocs, 1, Slices)
      .select(docCols(seed, col("id"), col("id"), words(seed, col("id"), 1)): _*)

  /** `n` copies of seeded base documents with ids from `idBase`, word-
    * edited when `edited`; `orig` names the copied document. */
  private def copies(spark: SparkSession, seed: Long, n: Long, idBase: Long, salt: Int,
                     edited: Boolean): DataFrame =
    spark.range(0, n, 1, Slices)
      .select((col("id") + idBase).as("doc_id"),
        pick(seed, col("id"), salt, CorpusDocs).as("orig"))
      .select(col("orig") +: docCols(seed, col("doc_id"), col("orig"),
        if (edited) edit(seed, words(seed, col("orig"), 1), col("doc_id"))
        else words(seed, col("orig"), 1)): _*)

  def curationBatch(spark: SparkSession, seed: Long, dir: String): Inputs = {
    val base = baseDocs(spark, seed)
    val exact = copies(spark, seed, (CorpusDocs * ExactDupRate).toLong, ExactBase, 60,
      edited = false)
    val near = copies(spark, seed, (CorpusDocs * NearDupRate).toLong, NearBase, 61,
      edited = true)
    val docs = write(base.unionByName(exact.drop("orig")).unionByName(near.drop("orig")),
      dir, "corpus")
    val labels = write(
      base.select(col("doc_id"), defect(seed, col("doc_id")).as("kind"),
          lit(null).cast("long").as("orig"))
        .unionByName(exact.select(col("doc_id"), lit("exact").as("kind"), col("orig")))
        .unionByName(near.select(col("doc_id"), lit("near").as("kind"), col("orig"))),
      dir, "labels")
    // decontamination bench: 12-word spans of seeded corpus documents
    // (each must knock its source out) plus texts sharing no 8-gram
    val hits = spark.range(0, BenchHits, 1, 1).select(
      (col("id") + 8000000L).as("doc_id"),
      array_join(slice(words(seed, pick(seed, col("id"), 70, CorpusDocs), 1), 5, 12), " ")
        .as("text"))
    val misses = spark.range(BenchHits, BenchHits + BenchMisses, 1, 1).select(
      (col("id") + 8000000L).as("doc_id"),
      array_join(transform(sequence(lit(0), lit(11)), i =>
        concat(lit("zq"), pmod(hash(seed, col("id"), 71, i), lit(997L)).cast("string"))), " ")
        .as("text"))
    val bench = write(hits.unionByName(misses), dir, "bench")
    // the LM gate's trusted reference slice: same vocabulary, fresh keys
    val ref = write(spark.range(9000000L, 9000000L + RefDocs, 1, Slices)
      .select(col("id").as("doc_id"), array_join(words(seed, col("id"), 80), " ").as("text")),
      dir, "lm_ref")
    inputs(Seq(docs, labels, bench, ref), docs.rows, Seq(
      "duplicate" -> ExactDupRate, "near_duplicate" -> NearDupRate,
      "mojibake" -> MojibakeRate, "short" -> ShortRate,
      "gibberish" -> GibberishRate, "pii" -> PiiRate,
      "bench_hits" -> BenchHits.toDouble / CorpusDocs))
  }

  // ---------------------------------------------------------------- plumbing

  private def write(df: DataFrame, dir: String, name: String): Table = {
    val path = s"$dir/$name"
    df.write.mode("overwrite").parquet(path)
    val rows = df.sparkSession.read.parquet(path).count()
    Table(name, path, rows, dataFiles(path).map(_.length).sum)
  }

  /** A table's parquet part files in write order (the part number leads
    * the file name). */
  def dataFiles(path: String): Seq[File] =
    Option(new File(path).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)

  /** sha256 over the data pages of every table's part files, in table
    * and write order. The footer is left out: parquet-mr writes each
    * column's encodings from a hash set whose order changes from one JVM
    * to the next, so footers differ where the data does not. */
  def digest(paths: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    paths.foreach(p => dataFiles(p).foreach { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val footer = java.nio.ByteBuffer.wrap(bytes, bytes.length - 8, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      md.update(f.getName.take(10).getBytes("UTF-8"))
      md.update(bytes, 0, bytes.length - 8 - footer)
    })
    md.digest().map(b => f"$b%02x").mkString
  }

  private def inputs(tables: Seq[Table], rows: Long,
                     rates: Seq[(String, Double)]): Inputs =
    Inputs(tables, rows, tables.map(_.bytes).sum, digest(tables.map(_.path)), rates)
}
