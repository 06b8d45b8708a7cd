package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.immutable.ListMap

/** Pins for the manifest codec ([[graft.Manifest]]): what it writes reads
  * back typed, a write leaves no temp file behind, and every refusal is
  * a named IllegalArgumentException. */
class ManifestSpec extends SparkSpec {

  private val Tag = "graft-test-v1"
  private def tmpDir(): String =
    Files.createTempDirectory("graft-manifest").toString
  private def read(dir: String) = Manifest.read(spark, dir, "test artifact", Tag)

  test("numbers, escaped strings, lists and lists of objects round-trip") {
    val dir = tmpDir()
    val ddl = "`a\"b` STRING,`c\\d` INT COMMENT 'tab\there'"
    Manifest.write(spark, dir, "format" -> Tag, "n" -> 3,
      "big" -> Long.MinValue, "x" -> -0.125, "tiny" -> 1e-300, "huge" -> 1e10,
      "nan" -> Double.NaN, "ddl" -> ddl, "keys" -> Seq("k", "é"),
      "shards" -> Seq(ListMap("shard" -> 0, "rows" -> 5L),
        ListMap("shard" -> 1, "rows" -> 7L)))
    val m = read(dir)
    assert(m.keys == Seq("format", "n", "big", "x", "tiny", "huge", "nan",
      "ddl", "keys", "shards"))
    assert(m.int("n") == 3 && m.long("n") == 3L)
    assert(m.long("big") == Long.MinValue)
    assert(m.double("x") == -0.125 && m.double("tiny") == 1e-300)
    assert(m.double("huge") == 1e10 && m.double("nan").isNaN)
    assert(m.string("ddl") == ddl)
    assert(m.schema("ddl").fieldNames.toSeq == Seq("a\"b", "c\\d"))
    assert(m.strings("keys") == Seq("k", "é"))
    assert(m.objects("shards").map(s => (s.int("shard"), s.long("rows"))) ==
      Seq((0, 5L), (1, 7L)))
    // flat JSON, fields in the order given
    assert(Files.readString(Paths.get(dir, "manifest.json")).startsWith(
      s"""{"format": "$Tag", "n": 3, "big": -9223372036854775808, "x": -0.125, """))
  }

  test("a write and an overwrite leave no temp file behind") {
    val dir = tmpDir()
    Manifest.write(spark, dir, "format" -> Tag, "v" -> 0)
    Manifest.write(spark, dir, "format" -> Tag, "v" -> 1)
    assert(read(dir).int("v") == 1)
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("manifest.json"))
    assert(!names.exists(_.contains("tmp")), names)
  }

  test("a missing manifest refuses at once unless a commit is in flight") {
    val dir = tmpDir()
    val t0 = System.nanoTime()
    val e = intercept[IllegalArgumentException](read(dir))
    val waitedMs = (System.nanoTime() - t0) / 1000000
    assert(e.getMessage.startsWith(s"$dir/manifest.json is missing"))
    assert(waitedMs < 500, s"refusal waited $waitedMs ms")
    // a temp file marks a commit in flight: the read waits for the rename
    Files.writeString(Paths.get(dir, "manifest.json.tmp"), "{}")
    val staged = Paths.get(dir, "staged.json")
    Files.writeString(staged, s"""{"format": "$Tag", "v": 2}""")
    val commit = new Thread(() => {
      Thread.sleep(100)
      Files.move(staged, Paths.get(dir, "manifest.json"),
        StandardCopyOption.ATOMIC_MOVE): Unit
    })
    commit.start()
    try assert(read(dir).int("v") == 2) finally commit.join()
    // the wait is bounded: a stale temp file alone still refuses
    Files.delete(Paths.get(dir, "manifest.json"))
    intercept[IllegalArgumentException](read(dir))
  }

  test("refusals name the file: empty, unparsable, foreign, missing or mistyped field") {
    val dir = tmpDir()
    val src = s"$dir/manifest.json"
    def refusal(text: String)(get: Manifest.Fields => Any = _ => ()): String = {
      Files.writeString(Paths.get(src), text)
      intercept[IllegalArgumentException](get(read(dir))).getMessage
    }
    assert(refusal("")() == s"$src is corrupt: empty")
    assert(refusal("[1, 2]")() == s"$src is corrupt: not a JSON object")
    assert(refusal("[1, 2, oops")().startsWith(s"$src is corrupt: "))
    // SafeConstructor: a class tag is refused, not instantiated
    assert(refusal("""{"format": !!java.lang.Runtime {}}""")()
      .startsWith(s"$src is corrupt: "))
    assert(refusal(s"""{"format": "$Tag", "format": "$Tag"}""")()
      .startsWith(s"$src is corrupt: "))
    // only the format field decides, not the tag appearing elsewhere
    val foreign = refusal(s"""{"format": "graft-other-v1", "note": "$Tag"}""")()
    assert(foreign.startsWith(s"$src holds format 'graft-other-v1', not $Tag"))
    assert(foreign.contains("foreign"))
    assert(refusal("""{"rows": 1}""")().startsWith(s"$src holds no format"))
    val ok = s"""{"format": "$Tag", "n": "7", "big": 3000000000, "xs": [1], """ +
      """"shards": [{"shard": 0}]}"""
    assert(refusal(ok)(_.long("rows")) == s"$src is corrupt: field 'rows' is missing")
    assert(refusal(ok)(_.long("n")) == s"$src is corrupt: field 'n' is '7', not an integer")
    assert(refusal(ok)(_.double("format")).contains("field 'format'"))
    assert(refusal(ok)(_.int("big")).contains("not a 32-bit integer"))
    assert(refusal(ok)(_.string("big")).contains("not a string"))
    assert(refusal(ok)(_.schema("format")).startsWith(
      s"$src is corrupt: field 'format' pins an unparsable schema '$Tag': "))
    assert(refusal(ok)(_.strings("xs")).contains("field 'xs[0]' is '1'"))
    assert(refusal(ok)(_.objects("xs")).contains("field 'xs[0]' is '1'"))
    assert(refusal(ok)(_.objects("shards").map(_.long("rows"))) ==
      s"$src is corrupt: field 'shards[0].rows' is missing")
  }
}
