package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Pins [[Num.qsum]] against the DECIMAL(38,0) reference form it
  * replaced: the two must be BIT-IDENTICAL — same quantized integer total,
  * same nearest-double recompose — and layout-independent, because the
  * profiling statistics and the trained-model lanes (FastText,
  * Ivf/IvfPq/Pq Lloyd means, Pca moments) rely on exactly that
  * equivalence for the oracle and shuffle-determinism gates. Past its
  * exact range it must refuse by name, never wrap. */
class NumQsumSpec extends SparkSpec {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
  import org.apache.spark.sql.types.LongType

  /** The r14 reference: quantize to grid, sum as DECIMAL(38,0). */
  private def decQsum(x: Column, scale: Column): Column =
    sum(floor(x * scale + lit(0.5)).cast("long").cast(DecimalType(38, 0)))
      .cast(DoubleType) / scale

  private def fixture(parts: Int) = {
    import spark.implicits._
    // deterministic mixed-sign, mixed-magnitude values incl. exact ties
    val rnd = new scala.util.Random(42)
    val rows = (0 until 5000).map { i =>
      val g = i % 7
      val v = (rnd.nextDouble() - 0.5) * math.pow(10.0, i % 5) // up to ~1e4
      (g, v)
    } ++ Seq((0, 0.5e-12), (1, -0.5e-12), (2, 0.0)) // grid-tie edges
    rows.toDF("g", "x").repartition(parts)
  }

  test("qsum is bit-identical to the DECIMAL(38,0) reference form") {
    // The trainers' 1e12 and 1e9 grids, the entropy/association 1e4 grid,
    // and describe's 10^(14−k·E) grid on x^k (fixture |x| ≤ 10^4: E = 4).
    val cases = Seq(col("x") -> 1e12, col("x") -> 1e9, col("x") -> 1e4) ++
      (1 to 4).map(k => Seq.fill(k)(col("x")).reduce(_ * _) -> s"1e${14 - 4 * k}".toDouble)
    val aggs = cases.flatMap { case (x, g) => Seq(Num.qsum(x, lit(g)), decQsum(x, lit(g))) }
    val both = fixture(4).groupBy("g").agg(aggs.head, aggs.tail: _*).collect()
    assert(both.nonEmpty)
    for (r <- both; ((_, g), i) <- cases.zipWithIndex) {
      val (fast, ref) = (r.getDouble(1 + 2 * i), r.getDouble(2 + 2 * i))
      assert(java.lang.Double.doubleToLongBits(fast) == java.lang.Double.doubleToLongBits(ref),
        s"case $i (grid $g) diverged for group ${r.get(0)}: $fast vs $ref")
    }
  }

  test("merged partials past 2^32 rows per group keep the exact total") {
    // Synthetic partial buffers of one group: 2^31 + 1 rows of the largest
    // low limb, twice, and 2^31 + 1 rows of a large negative value —
    // 3·2^31 + 3 rows, where a plain long sum of the low limbs wraps.
    val rows = BigInt(2).pow(31) + 1
    val parts = Seq(BigInt(Int.MaxValue), BigInt(Int.MaxValue), -(BigInt(2).pow(52) + 1)).map(_ * rows)
    val total = parts.sum
    def limbs(v: BigInt) = Array((v >> 31).toLong, (v & Int.MaxValue).toLong)
    // The aggregate's own merge and recompose, compiled as Spark runs them.
    val agg = Num.QSum(BoundReference(0, LongType, nullable = true))
    val merge = UnsafeProjection.create(agg.mergeExpressions,
      agg.aggBufferAttributes ++ agg.inputAggBufferAttributes)
    val eval = UnsafeProjection.create(Seq(agg.evaluateExpression), agg.aggBufferAttributes)
    val merged = parts.map(limbs).foldLeft(InternalRow(null, 0L)) { (acc, p) =>
      merge(InternalRow(if (acc.isNullAt(0)) null else acc.getLong(0), acc.getLong(1), p(0), p(1))).copy()
    }
    assert(merged.getLong(0) == (total >> 31).toLong && merged.getLong(1) == (total & Int.MaxValue).toLong)
    assert(eval(merged).getDouble(0) == total.toDouble)
    // The typed-aggregator form (Pca's moments) agrees.
    val buf = new Array[Long](2)
    parts.map(limbs).foreach(Num.qmerge(buf, _, 0))
    assert(Num.qtotal(buf, 0, 1.0) == total.toDouble)
  }

  test("a total past 2^84 refuses by name, with ANSI off too") {
    val ansi = "spark.sql.ansi.enabled"
    val saved = spark.conf.get(ansi)
    // n rows of q = 2^62: ΣQ = n·2^62 reaches the bound 2^84 at n = 2^22.
    def total(n: Long): Double = spark.range(0, n, 1, 4)
      .agg(Num.qsum(lit(math.pow(2, 62)), lit(1.0))).head().getDouble(0)
    try {
      spark.conf.set(ansi, "false")
      assert(total((1L << 22) - 1) == math.pow(2, 84) - math.pow(2, 62))
      val e = intercept[Exception](total(1L << 22))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains(Num.Overflow))), e.toString)
      val buf = Array(1L << 53, 0L)
      assert(intercept[ArithmeticException](Num.qtotal(buf, 0, 1.0)).getMessage == Num.Overflow)
    } finally spark.conf.set(ansi, saved)
  }

  test("qsum and qmean are layout-independent") {
    def run(parts: Int): Map[Int, (Double, Double)] =
      fixture(parts).groupBy("g").agg(
        Num.qsum(col("x"), lit(1e12)).as("s"),
        Num.qmean(col("x"), lit(1e12)).as("m")).collect()
        .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val a = run(1)
    val b = run(13)
    assert(a == b, "qsum/qmean moved under a different partition layout")
  }

  test("qsum null semantics match sum()") {
    import spark.implicits._
    val df = Seq[(Int, Option[Double])](
      (0, Some(1.25)), (0, None), (1, None)).toDF("g", "x")
    val r = df.groupBy("g").agg(
      Num.qsum(col("x"), lit(1e12)).as("s")).orderBy("g").collect()
    assert(r(0).getDouble(1) == 1.25) // null skipped
    assert(r(1).isNullAt(1))          // all-null group -> null
  }
}
