package graft

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileContext, Options, Path, UnsupportedFileSystemException}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.yaml.snakeyaml.{LoaderOptions, Yaml}
import org.yaml.snakeyaml.constructor.SafeConstructor

/** The one codec of the `manifest.json` that marks a saved artifact
  * complete: every model, index, export and snapshot in `src/main`
  * writes and opens its manifest here (EntrySpec holds the code to
  * that).
  *
  * MANIFEST CONTRACT
  *  - A saved artifact is a directory: its data first, then its
  *    manifest, written LAST. The manifest's presence marks the
  *    artifact complete, and its `format` tag names the writer.
  *  - [[write]] renders one JSON object (integers, doubles, strings,
  *    lists, lists of objects; strings through one escaper) into
  *    `manifest.json.tmp`, then renames it over the manifest with
  *    OVERWRITE, which is atomic where the filesystem provides it
  *    (HDFS). A reader sees the old manifest or the new one, never a
  *    truncated one. A store without FileContext support deletes, then
  *    renames; readers absorb that window (next bullet).
  *  - A missing manifest is retried briefly (bounded, ≈1.2 s) only
  *    while `manifest.json.tmp` exists, i.e. while a commit is in
  *    flight. With no commit in flight it is refused at once.
  *  - [[read]] refuses with an IllegalArgumentException that names the
  *    path: a missing manifest; an empty or unparsable one ("corrupt");
  *    a `format` field, and only that field, that is not an expected
  *    tag ("foreign"). The typed getters of [[Fields]] refuse a missing
  *    or mistyped field ("corrupt"). No NullPointerException or
  *    NumberFormatException escapes a read.
  *  - Parsing is SnakeYAML (JSON is YAML flow syntax) with
  *    SafeConstructor: a manifest from a shared filesystem cannot
  *    instantiate classes through `!!` tags. Duplicate keys are
  *    refused.
  *  - Callers keep their own data checks (row counts, dims, metrics):
  *    the codec knows the file, not what it describes. Tags, keys and
  *    values on disk are each artifact's own, so artifacts written
  *    earlier still open.
  *  - Single writer: two concurrent writers of one artifact race;
  *    serialize writes externally.
  */
object Manifest {

  private val FileName = "manifest.json"

  /** One parsed JSON object. Getters refuse a missing or mistyped field,
    * naming `src` and the field. */
  final class Fields private[Manifest] (src: String, prefix: String,
                                        m: java.util.Map[_, _]) {
    /** Keys in file order. */
    def keys: Seq[String] = m.keySet.asScala.toSeq.map(String.valueOf)

    def long(k: String): Long = get(k) match {
      case n: java.lang.Integer => n.longValue
      case n: java.lang.Long => n
      case other => wrong(k, other, "an integer")
    }

    def int(k: String): Int = {
      val v = long(k)
      if (v.isValidInt) v.toInt else wrong(k, v, "a 32-bit integer")
    }

    /** A number; also the spellings `Double.toString` writes that YAML
      * reads as text (`NaN`, `Infinity`, some exponent forms). */
    def double(k: String): Double = get(k) match {
      case n: java.lang.Number => n.doubleValue
      case s: String if s.toDoubleOption.isDefined => s.toDouble
      case other => wrong(k, other, "a number")
    }

    def string(k: String): String = get(k) match {
      case s: String => s
      case other => wrong(k, other, "a string")
    }

    /** A string field holding a Spark DDL schema, parsed. */
    def schema(k: String): StructType = {
      val ddl = string(k)
      try StructType.fromDDL(ddl)
      catch {
        case e: Exception => corrupt(src,
          s"field '$prefix$k' pins an unparsable schema '$ddl': ${e.getMessage}")
      }
    }

    def strings(k: String): Seq[String] = list(k).zipWithIndex.map {
      case (s: String, _) => s
      case (other, i) => wrong(s"$k[$i]", other, "a string")
    }

    def objects(k: String): Seq[Fields] = list(k).zipWithIndex.map {
      case (o: java.util.Map[_, _], i) => new Fields(src, s"$prefix$k[$i].", o)
      case (other, i) => wrong(s"$k[$i]", other, "an object")
    }

    private def list(k: String): Seq[Any] = get(k) match {
      case l: java.util.List[_] => l.asScala.toSeq
      case other => wrong(k, other, "a list")
    }

    private[Manifest] def get(k: String): Any = m.get(k)

    private def wrong(k: String, v: Any, want: String): Nothing = corrupt(src,
      s"field '$prefix$k' is ${if (v == null) "missing" else s"'$v', not $want"}")
  }

  /** Write the manifest of the artifact at `dir`: `fields` in order, as
    * one JSON object (nested objects as ListMaps). Callers write it LAST. */
  def write(spark: SparkSession, dir: String, fields: (String, Any)*): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val mp = new Path(s"$dir/$FileName")
    val tmp = new Path(s"$dir/$FileName.tmp")
    val fs = mp.getFileSystem(conf)
    val out = fs.create(tmp, true)
    try out.write(render(ListMap(fields: _*)).getBytes(UTF_8))
    finally out.close()
    // FileSystem.rename refuses an existing target; FileContext's
    // OVERWRITE replaces it (atomically on HDFS). Without FileContext
    // support: delete, then rename, a window readers retry across.
    try FileContext.getFileContext(mp.toUri, conf)
      .rename(tmp, mp, Options.Rename.OVERWRITE)
    catch {
      case _: UnsupportedOperationException | _: UnsupportedFileSystemException =>
        if (fs.exists(mp)) fs.delete(mp, false)
        if (!fs.rename(tmp, mp)) throw new IllegalStateException(
          s"manifest commit failed: could not rename $tmp over $mp")
    }
  }

  /** Open the manifest of the graft `what` at `dir`, refusing it unless
    * its `format` is one of `formats`. */
  def read(spark: SparkSession, dir: String, what: String,
           formats: String*): Fields = {
    val src = s"$dir/$FileName"
    val mp = new Path(src)
    val tmp = new Path(s"$src.tmp")
    val fs = mp.getFileSystem(spark.sessionState.newHadoopConf())
    def text(attempt: Int): String =
      try {
        val in = fs.open(mp)
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      } catch {
        case _: java.io.FileNotFoundException if attempt < 5 && fs.exists(tmp) =>
          Thread.sleep(40L << attempt)
          text(attempt + 1)
        case _: java.io.FileNotFoundException => throw new IllegalArgumentException(
          s"$src is missing — not a graft $what, or its write was " +
            "interrupted (the manifest is written last)")
      }
    val fields = parse(src, text(0))
    fields.get("format") match {
      case f: String if formats.contains(f) => fields
      case f => throw new IllegalArgumentException(
        s"$src holds ${if (f == null) "no format" else s"format '$f'"}, not " +
          s"${formats.mkString(" or ")} — refusing foreign data as a graft $what")
    }
  }

  /** Parse `text`, the content of `src`, as one JSON object. */
  def parse(src: String, text: String): Fields = {
    val opts = new LoaderOptions()
    opts.setAllowDuplicateKeys(false)
    val doc =
      try new Yaml(new SafeConstructor(opts)).load[Object](text)
      catch { case e: Exception => corrupt(src, e.getMessage) }
    doc match {
      case m: java.util.Map[_, _] => new Fields(src, "", m)
      case null => corrupt(src, "empty")
      case _ => corrupt(src, "not a JSON object")
    }
  }

  private def corrupt(src: String, why: String): Nothing =
    throw new IllegalArgumentException(s"$src is corrupt: $why")

  private def render(v: Any): String = v match {
    case s: String => "\"" + escape(s) + "\""
    case n @ (_: Int | _: Long | _: Double) => n.toString
    case m: ListMap[_, _] => m.map { case (k, x) =>
      render(String.valueOf(k)) + ": " + render(x) }.mkString("{", ", ", "}")
    case xs: Seq[_] => xs.map(render).mkString("[", ", ", "]")
    case other => throw new IllegalArgumentException(
      s"a manifest holds no ${other.getClass.getName} value")
  }

  /** JSON string escape: quote, backslash and control characters. */
  private def escape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}
