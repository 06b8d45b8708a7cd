package graft

import graft.dict.DataDictionary
import graft.profile.Profiler
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count_distinct, when}
import org.apache.spark.sql.types._

class ProfilerSpec extends SparkSpec {
  import spark.implicits._

  test("schemaProfile counts nulls and distincts per column") {
    val df = Seq(
      (Some(1), Some("a")), (Some(2), None), (None, Some("a")), (Some(2), Some("b"))
    ).toDF("x", "s")
    val p = Profiler.schemaProfile(df, exact = true).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(p("x").getLong(2) == 3) // non_null
    assert(p("x").getLong(3) == 1) // null_count
    assert(p("x").getLong(5) == 2) // distinct
    assert(p("s").getLong(5) == 2)
    assert(p("s").getDouble(4) == 25.0) // missing_pct
  }

  test("describe matches hand-computed stats") {
    val df = Seq(1.0, 2.0, 3.0, 4.0, 100.0).toDF("v")
    val r = Profiler.describe(df, Seq("v")).collect()(0)
    assert(r.getAs[Long]("n") == 5)
    assert(r.getAs[Double]("mean") == 22.0)
    assert(r.getAs[Double]("median") == 3.0)
    assert(r.getAs[Double]("q1") == 2.0)
    assert(r.getAs[Double]("q3") == 4.0)
    // pandas-style (bias-corrected) sample skew: g1=1.49753 -> G1=2.23243
    assert(math.abs(r.getAs[Double]("skew") - 2.2324) < 0.001)
    // A magExp hint the data exceeds (|v| ≤ 10^0 claimed, 100 seen) is
    // refused by name: x^4 on its grid (1e8·1e14) overflows a long.
    val e = intercept[Exception](Profiler.describe(df, Seq("v"), magExp = Map("v" -> 0)).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("fix its magExp hint"))), e.toString)
  }

  test("describeBy groups stats per key and matches per-group describe") {
    val df = Seq(("a", 1.0), ("a", 3.0), ("a", 5.0), ("b", 10.0), ("b", 20.0))
      .toDF("g", "v")
    val by = Profiler.describeBy(df, Seq("g"), Seq("v")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(by("a").getAs[Long]("n") == 3 && by("a").getAs[Double]("mean") == 3.0)
    assert(by("b").getAs[Double]("mean") == 15.0 && by("b").getAs[Double]("median") == 15.0)
    // grouped output must agree with running describe on the slice
    val solo = Profiler.describe(df.filter($"g" === "a"), Seq("v")).collect()(0)
    assert(by("a").getAs[Double]("stddev") == solo.getAs[Double]("stddev"))
  }

  test("describeBy: one-row group emits null stddev, keys excluded by default") {
    val df = Seq(("a", 1.0, 10.0), ("a", 3.0, 20.0), ("b", 9.0, 30.0))
      .toDF("g", "v", "w").withColumn("gnum", when($"g" === "a", 1.0).otherwise(2.0))
    val out = Profiler.describeBy(df, Seq("gnum")) // default cols
    assert(!out.columns.contains("gnum") ||
      out.select("column_name").distinct().collect().map(_.getString(0)).toSet == Set("v", "w"),
      "grouping key must not be profiled")
    val b = Profiler.describeBy(df, Seq("g"), Seq("v")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(b("b").getAs[Long]("n") == 1 && b("b").isNullAt(b("b").fieldIndex("stddev")),
      "single-row group: stddev undefined, not 0.0")
    assert(b("a").getAs[Double]("stddev") > 0.0)
  }

  test("entropyProfile: uniform, constant and unique columns") {
    val df = Seq(
      ("a", "k", 1), ("b", "k", 2), ("c", "k", 3), ("d", "k", 4),
      ("a", "k", 5), ("b", "k", 6), ("c", "k", 7), ("d", "k", 8))
      .toDF("uniform4", "const", "uniq")
    val by = Profiler.entropyProfile(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(by("uniform4").getAs[Double]("entropy_bits") == 2.0)
    assert(by("uniform4").getAs[Double]("entropy_norm") == 1.0)
    assert(by("uniform4").getAs[Double]("top_ratio") == 0.25)
    assert(by("const").getAs[Double]("entropy_bits") == 0.0)
    assert(by("const").getAs[Double]("entropy_norm") == 0.0)
    assert(by("const").getAs[Long]("distinct_vals") == 1)
    assert(by("uniq").getAs[Double]("entropy_bits") == 3.0) // log2(8)
    assert(by("uniq").getAs[Double]("top_ratio") == 0.125)
  }

  test("entropyProfile excludes nulls") {
    val df = Seq(Some("x"), Some("x"), None, Some("y")).toDF("c")
    val r = Profiler.entropyProfile(df, Seq("c")).collect()(0)
    assert(r.getAs[Long]("n") == 3 && r.getAs[Long]("distinct_vals") == 2)
  }

  test("association: determinism gives H bits and V=1, independence gives 0") {
    val dep = Seq(("x", "X"), ("x", "X"), ("y", "Y"), ("y", "Y")).toDF("a", "b")
    val m1 = Profiler.association(dep, Seq(("a", "b"))).collect()(0)
    assert(m1.getAs[Double]("mi_bits") == 1.0) // b determined by a, H(b)=1 bit
    assert(m1.getAs[Double]("chi2") == 4.0)    // 2x2 fully dependent, n=4
    assert(m1.getAs[Long]("dof") == 1)
    assert(m1.getAs[Double]("cramers_v") == 1.0)

    val indep = Seq(("x", "1"), ("x", "2"), ("y", "1"), ("y", "2")).toDF("a", "b")
    val m2 = Profiler.association(indep, Seq(("a", "b"))).collect()(0)
    assert(m2.getAs[Double]("mi_bits") == 0.0)
    assert(m2.getAs[Double]("chi2") == 0.0)
    assert(m2.getAs[Double]("cramers_v") == 0.0)
    assert(m2.getAs[Long]("n") == 4)
  }

  test("formatMasks classifies value shapes and ranks by frequency") {
    val df = Seq("AB-12", "CD-34", "xy 9", null, "AB-127").toDF("v")
    val out = Profiler.formatMasks(df, "v").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(out.head == ("AA-99", 2L))
    assert(out.toMap == Map("AA-99" -> 2L, "AA-999" -> 1L, "aa 9" -> 1L))
    val pctTop = Profiler.formatMasks(df, "v").collect().head.getAs[Double]("pct")
    assert(pctTop == 0.5) // 2 of 4 non-null values
  }

  test("benford counts leading digits of exact cents") {
    val df = Seq(1.0, 1.5, 19.99, 2.5, 900.0, 0.0, -5.0).toDF("amt")
    val rows = Profiler.benford(df, "amt").collect()
      .map(r => r.getAs[Int]("digit") -> r.getAs[Long]("cnt")).toMap
    // 1.0→100, 1.5→150, 19.99→1999 lead 1; 2.5→250 lead 2; 900.0→90000 lead 9
    assert(rows == Map(1 -> 3L, 2 -> 1L, 9 -> 1L))
    val d1 = Profiler.benford(df, "amt").collect().head
    assert(d1.getAs[Double]("benford_pct") == 0.3010) // log10(2)
  }

  test("duplicateSummary flags keep=False style duplicate rows") {
    val df = Seq(("a", 1), ("a", 2), ("b", 3), ("c", 4), ("a", 5))
      .toDF("k", "v")
    val r = Profiler.duplicateSummary(df, Seq("k")).collect()(0)
    assert(r.getAs[Long]("duplicate_rows") == 3)
    assert(r.getAs[Long]("duplicate_groups") == 1)
    assert(r.getAs[Double]("duplicate_pct") == 60.0)
  }

  test("valueCounts orders by count desc then value") {
    val df = Seq("b", "a", "b", "c", "a", "b").toDF("v")
    val rows = Profiler.valueCounts(df, "v").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("b", 3L), ("a", 2L), ("c", 1L)))
  }

  test("highCardinality finds wide string columns") {
    val df = (1 to 30).map(i => (s"id$i", "const")).toDF("wide", "narrow")
    val rows = Profiler.highCardinality(df, 10, exact = true).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("wide"))
  }

  test("exact distincts equal count_distinct per column, in one keyed pass") {
    val schema = StructType(Seq(
      StructField("i", IntegerType), StructField("none", IntegerType),
      StructField("d", DoubleType), StructField("t", TimestampType),
      StructField("p2", DecimalType(10, 2)), StructField("p4", DecimalType(12, 4)),
      StructField("a", ArrayType(IntegerType)), StructField("s", StringType)))
    val ts = (x: String) => java.sql.Timestamp.valueOf(x)
    val dec = (x: String) => new java.math.BigDecimal(x)
    val rows = Seq(
      Row(1, null, Double.NaN, ts("2024-01-01 00:00:00"), dec("1.50"), dec("1.5000"), Seq(1, 2), "x"),
      Row(1, null, Double.NaN, ts("2024-01-01 00:00:00"), dec("1.50"), dec("1.5001"), Seq(2, 1), "x"),
      Row(2, null, -0.0, ts("2024-01-02 00:00:00"), dec("2.00"), dec("2.0000"), Seq(1, 2), null),
      Row(null, null, 0.0, null, null, dec("2.0000"), null, "y"),
      Row(3, null, 1.5, ts("2024-01-01 00:00:00"), dec("-1.50"), null, Seq(), "z"),
      Row(null, null, null, ts("2024-01-03 12:00:00"), dec("1.50"), dec("1.5000"), Seq(1, 2), "x"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val want = df.columns.map(c =>
      c -> df.agg(count_distinct(col(c))).collect()(0).getLong(0)).toMap
    // NaN twice, -0.0 = 0.0, the all-null column 0 (not null)
    assert(want("d") == 3 && want("none") == 0 && want("a") == 3, want)
    val byIdx = Profiler.exactDistincts(df).collect()
      .map(r => df.columns(r.getInt(0)) -> r.getLong(1)).toMap
    assert(byIdx == want - "none", "a column with no non-null value has no row")
    def counts(p: DataFrame) = p.select("column_name", "distinct_count").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts(DataDictionary.build(df)) == want)
    assert(counts(Profiler.schemaProfile(df, exact = true)) == want)
    assert(counts(Profiler.highCardinality(df, 0, exact = true)) == Map("s" -> 3L))
  }

  test("approx (100 TB) path tracks the exact path closely") {
    val df = (1 to 5000).map(i => i.toDouble + (i % 7) * 0.1).toDF("x")
    def stats(exact: Boolean) = Profiler
      .describe(df, Seq("x"), exactQuantiles = exact, exactMoments = exact,
        magExp = Map("x" -> 4))
      .collect().head
    val e = stats(true); val a = stats(false)
    for (f <- Seq("mean", "stddev", "q1", "median", "q3", "skew")) {
      val (ev, av) = (e.getAs[Double](f), a.getAs[Double](f))
      assert(math.abs(ev - av) <= math.max(1e-2, math.abs(ev) * 1e-2),
        s"$f: exact=$ev approx=$av")
    }
  }
}
