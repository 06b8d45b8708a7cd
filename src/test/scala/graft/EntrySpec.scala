package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.queries.Q

class EntrySpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query runs on sf0.001 and returns rows or a valid empty result") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      // Gate invariant (the r10 red-row class): the driver's correctness
      // canonicalizer sorts the frame column-wise in pandas, which cannot
      // factorize nested values — a registered query emitting a top-level
      // array/map/struct column errors the gate instead of being checked.
      // Flatten (pc_0..pc_k scalars, or a melted (id, pos, value) frame)
      // before registering; there is deliberately NO exempt list.
      val nested = df.schema.fields.filter(f => f.dataType match {
        case _: org.apache.spark.sql.types.ArrayType |
             _: org.apache.spark.sql.types.MapType |
             _: org.apache.spark.sql.types.StructType => true
        case _ => false
      })
      assert(nested.isEmpty,
        s"$name emits nested top-level column(s) ${
          nested.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ")
        } — the driver's canonicalizer cannot sort them; flatten the output")
      // Gate invariant (the r11 red-row class): a DECIMAL output column
      // reads as pandas `object` from Spark parquet but float64 from
      // DuckDB, so the driver's hash diverges even when values match
      // (cdc_apply, r11). Emit dround(cast(x AS DOUBLE), n) instead —
      // decimals are for intermediate exact arithmetic, never for output.
      val decimals = df.schema.fields.filter(
        _.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType])
      assert(decimals.isEmpty,
        s"$name emits DecimalType output column(s) ${
          decimals.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ")
        } — pandas reads Spark decimal as object vs DuckDB float64; " +
          "emit dround(cast(... as double), n) instead")
      val n = df.count()
      assert(n >= 0, s"$name failed")
    }
  }

  test("oracle keys are a subset of query keys") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
  }

  test("select refuses names that are not registered, listing each") {
    val regs = SparkEntry.registry
    assert(SparkEntry.select(Nil).map(_.name) == regs.map(_.name))
    val two = Seq(regs(3).name, regs(1).name)
    assert(SparkEntry.select(two :+ two.head).map(_.name) == two)
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq(regs.head.name, "dedup_minhsh", "typo_name")))
    assert(e.getMessage.contains("dedup_minhsh, typo_name"))
  }

  test("determinism lanes refuse unknown and oracle-pinned names") {
    val (rowsOnly, pinned) = SparkEntry.registry.partition(_.oracle.isEmpty)
    assert(Determinism.lanes(Nil) == rowsOnly)
    assert(Determinism.lanes(Seq(rowsOnly.head.name)) == Seq(rowsOnly.head))
    val unknown = intercept[IllegalArgumentException](Determinism.lanes(Seq("dedup_minhsh")))
    assert(unknown.getMessage.contains("dedup_minhsh"))
    val oracle = intercept[IllegalArgumentException](
      Determinism.lanes(Seq(rowsOnly.head.name, pinned.head.name)))
    assert(oracle.getMessage.contains(pinned.head.name))
  }

  test("bench reports a failed query and a cache leak by name") {
    val ok = Q("ok", (s, _) => s.range(3).toDF("id"), None)
    val boom = Q("boom", (_, _) => throw new IllegalStateException("planted"), None)
    val leaky = Q("leaky", (s, _) => s.range(4).toDF("id").persist(), None)
    val rows = Seq(ok, boom, leaky).map(Bench.row(spark, _, sfDir, iters = 1))
    assert(rows.map(r => r.name -> (r.error, r.leaked)) == Seq(
      "ok" -> (None, false),
      "boom" -> (Some("java.lang.IllegalStateException"), false),
      "leaky" -> (None, true)))
    assert(rows.head.min >= 0 && rows(1).min == -1 && rows(1).n == 0)
    assert(Bench.outcomes(rows) ==
      """"failed":{"boom":"java.lang.IllegalStateException"},"leaked":["leaky"]""")
    assert(Bench.outcomes(rows, leakedNames = false) ==
      """"failed":{"boom":"java.lang.IllegalStateException"},"leaked":1""")
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("artifact numbers ignore a comma-decimal default locale") {
    val (saved, savedFormat) =
      (java.util.Locale.getDefault, java.util.Locale.getDefault(java.util.Locale.Category.FORMAT))
    try {
      java.util.Locale.setDefault(java.util.Locale.forLanguageTag("de-DE"))
      assert(f"${0.123}%.3f" == "0,123") // the locale does bite
      assert(Bench.num(0.123) == "0.123")
    } finally {
      java.util.Locale.setDefault(saved)
      java.util.Locale.setDefault(java.util.Locale.Category.FORMAT, savedFormat)
    }
  }

  test("one session factory and five mains in src/main") {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val files: Seq[Path] =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    def holding(s: String) =
      files.filter(f => Files.readString(f).contains(s)).map(_.getFileName.toString)
    assert(holding("SparkSession.builder") == Seq("Session.scala"))
    assert(holding("nanosAsLong") == Seq("Session.scala"))
    // one cache owner: comments that name these calls live in Cached too
    for (call <- Seq(".persist(", ".cache()", ".unpersist(", "heckpoint("))
      assert(holding(call) == Seq("Cached.scala"), call)
    // one manifest codec: comments that name the file live in Manifest too
    assert(holding("manifest.json") == Seq("Manifest.scala"))
    assert(holding("snakeyaml").sorted == Seq("ConfigPipeline.scala", "Manifest.scala"))
    val mains = files.flatMap { f =>
      var obj = ""
      Files.readAllLines(f).asScala.flatMap { l =>
        if (l.startsWith("object ")) obj = l.split("[\\s{]+")(1)
        if (l.contains("def main(")) Some(obj) else None
      }
    }
    assert(mains.sorted == Seq("Bench", "Determinism", "ExplainDump", "ScaleLadder", "Verify"))
  }
}
