package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** EXACT distributed quantiles without a global sort — the
  * value-histogram path: on the ≤ 4-decimal value contract the DISTINCT
  * value set is bounded by the value DOMAIN, not the row count (a
  * [0, 500] metric has ≤ 5M possible 4dp values no matter whether the
  * corpus holds 10⁵ or 10¹² rows), so one map-side-combined
  * groupBy-count collapses the corpus to a per-group histogram, and
  * every quantile is then a cumulative-sum rank lookup over that tiny
  * frame. Spark's own exact `percentile` buffers all values per group
  * (OOM at corpus scale) and `approx_percentile` is approximate; this
  * is exact AND bounded — the right construction whenever the metric is
  * fixed-precision, which curated-corpus metrics are.
  *
  * Rank rule: value at cumulative count ≥ ceil(p·n) — ANSI
  * PERCENTILE_DISC (a DATA VALUE, never an interpolation). The oracle
  * checks against DuckDB's own independent `quantile_disc`
  * implementation, not a mirror of this plan — the AsofJoin-style
  * stronger oracle.
  *
  * 100 TB: one partial-aggregated exchange of ≤ |domain| rows per
  * group, one histogram-sized window, the quantile probe set broadcast.
  */
object Quantiles {

  /** The shared histogram core: `(groupCols, _v DECIMAL(18,4), _c, _cum,
    * _n)` — distinct-value counts with cumulative and total counts. Every
    * window here runs over the HISTOGRAM (≤ |domain| rows per group),
    * never the corpus. */
  private[graft] def cumHistogram(df: DataFrame, valueCol: String,
                                  groupCols: Seq[String]): DataFrame = {
    val gs = groupCols.map(col)
    val hist = df.where(col(valueCol).isNotNull)
      .select(gs :+ graft.Num.dec4(col(valueCol), valueCol).as("_v"): _*)
      .groupBy(gs :+ col("_v"): _*)
      .agg(count(lit(1)).as("_c"))
    val w = Window.partitionBy(gs: _*).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val n = Window.partitionBy(gs: _*)
    hist
      .withColumn("_cum", sum("_c").over(w))
      .withColumn("_n", sum("_c").over(n))
  }

  /** One row per (groupCols, p) with the exact discrete quantile of
    * `valueCol`. `ps` must be in (0, 1], distinct. Null values are
    * excluded; a group with no non-null values emits nothing. */
  def exact(df: DataFrame, valueCol: String, groupCols: Seq[String],
            ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1),
      s"quantile probes must be in (0, 1], got $ps")
    require(ps.distinct.size == ps.size, s"duplicate probes in $ps")
    val gs = groupCols.map(col)
    val cum = cumHistogram(df, valueCol, groupCols)
    val probes = explode(array(ps.map(lit): _*)).as("p")
    cum.select(gs :+ col("_v") :+ col("_cum") :+ col("_n") :+ probes: _*)
      .where(col("_cum") >= ceil(col("p") * col("_n")))
      .groupBy(gs :+ col("p"): _*)
      .agg(graft.Num.dround(min("_v").cast("double"), 4).as("value"))
  }

  /** Per-VALUE percent ranks without a corpus sort — the ANSI
    * `percent_rank()` of every distinct value, from the histogram:
    * rank(v) = cum(v) − c(v) + 1 (ties share the min rank), pr =
    * (rank − 1) / (n − 1), single-row groups pr = 0 (the ANSI rule).
    * Output: (groupCols, value DOUBLE 4dp, n, pr 6dp) — one row per
    * DISTINCT (group, value); consumers needing per-ROW ranks broadcast-
    * join this frame back, so the corpus itself never sorts or shuffles.
    * The oracle checks against DuckDB's own window `percent_rank()` —
    * an independent implementation, not a mirror. */
  def percentRanks(df: DataFrame, valueCol: String,
                   groupCols: Seq[String]): DataFrame = {
    val gs = groupCols.map(col)
    val cum = cumHistogram(df, valueCol, groupCols)
    val rank = col("_cum") - col("_c") + 1
    val pr = when(col("_n") === 1, lit(0.0))
      .otherwise((rank - 1).cast("double") / (col("_n") - 1).cast("double"))
    cum.select(gs :+ graft.Num.dround(col("_v").cast("double"), 4).as("value")
      :+ col("_n").as("n") :+ graft.Num.dround(pr, 6).as("pr"): _*)
  }

  /** WEIGHTED discrete quantiles — the mass-weighted generalization of
    * [[exact]]: the value at cumulative WEIGHT ≥ p·W (smallest such data
    * value), computed on a (value, Σweight) histogram. The corpus
    * question this answers: "below what document length does half the
    * TOKEN MASS live?" — row-counted quantiles mislead whenever the
    * weight (tokens, bytes, cost) is what downstream consumers pay.
    * Weights must be non-negative integers (counts/bytes — exact
    * cumulative arithmetic; fractional weights would reintroduce float
    * accumulation order); zero-weight rows carry no mass, negative
    * weights refuse loudly. The p·W threshold is one IEEE multiply on
    * identical operands — deterministic cross-engine even on boundaries.
    * Output: (groupCols, p, value); a group with no positive mass emits
    * nothing. */
  def exactWeighted(df: DataFrame, valueCol: String, weightCol: String,
                    groupCols: Seq[String], ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1),
      s"quantile probes must be in (0, 1], got $ps")
    require(ps.distinct.size == ps.size, s"duplicate probes in $ps")
    val gs = groupCols.map(col)
    val w0 = col(weightCol).cast("long")
    val guarded = when(w0 < 0, raise_error(concat(
      lit(s"graft: exactWeighted weight '$weightCol' must be >= 0, got "),
      w0.cast("string")))).otherwise(w0)
    val hist = df.where(col(valueCol).isNotNull && col(weightCol).isNotNull)
      .select(gs :+ graft.Num.dec4(col(valueCol), valueCol).as("_v")
        :+ guarded.as("_w"): _*)
      .groupBy(gs :+ col("_v"): _*)
      .agg(sum(col("_w")).as("_c"))
    val w = Window.partitionBy(gs: _*).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val n = Window.partitionBy(gs: _*)
    val cum = hist
      .withColumn("_cum", sum("_c").over(w))
      .withColumn("_n", sum("_c").over(n))
      .where(col("_n") > 0)
    val probes = explode(array(ps.map(lit): _*)).as("p")
    cum.select(gs :+ col("_v") :+ col("_cum") :+ col("_n") :+ probes: _*)
      .where(col("_cum").cast("double") >= col("p") * col("_n").cast("double"))
      .groupBy(gs :+ col("p"): _*)
      .agg(graft.Num.dround(min("_v").cast("double"), 4).as("value"))
  }

  /** CONTINUOUS (interpolated) exact percentiles from the same bounded
    * histogram — Spark's own `percentile()` semantics, replayed IEEE op
    * for IEEE op (position = p·(n−1); result = (⌈pos⌉−pos)·v_lo +
    * (pos−⌊pos⌋)·v_hi on the two bracketing DATA values), but without
    * `percentile()`'s per-group buffer of every row: the only state is
    * the value histogram, one row per distinct value of the group. That
    * is small for a low-cardinality metric, but NOT for a continuous
    * column, which has about as many distinct values as rows (19,708 in
    * 20,000 generated `l_extendedprice` values); and with no `groupCols`
    * the cumulative window has no partition key, so Spark runs the whole
    * histogram through one task (its "WindowExec: No Partition Defined"
    * warning). Values pass through DECIMAL(18,4) — for doubles that ARE
    * canonical ≤ 4dp decimals (the fixed-precision value contract) the
    * round trip is the identity, and the interpolation then runs on the
    * same operands `percentile()` sees, so results are bit-identical to
    * the buffered builtin.
    *
    * Output: groupCols + one DOUBLE column per (probe, name) pair; one
    * row per group (exactly one row when `groupCols` is empty, with null
    * values if no rows survived the null filter — `percentile()`'s
    * behavior). */
  def contColumns(df: DataFrame, valueCol: String, groupCols: Seq[String],
                  ps: Seq[(Double, String)]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p._1 >= 0 && p._1 <= 1),
      s"percentile probes must be in [0, 1], got ${ps.map(_._1)}")
    require(ps.map(_._2).distinct.size == ps.size,
      s"duplicate output names in $ps")
    val gs = groupCols.map(col)
    val cum = cumHistogram(df, valueCol, groupCols)
    def pos(p: Double): Column = lit(p) * (col("_n") - 1).cast("double")
    // bracketing values as aggregates over the histogram: 0-based index i
    // lives at the value whose cumulative count first reaches i + 1
    val aggs = ps.flatMap { case (p, name) =>
      Seq(
        min(when(col("_cum") >= floor(pos(p)) + 1, col("_v"))).as(s"_lo_$name"),
        min(when(col("_cum") >= ceil(pos(p)) + 1, col("_v"))).as(s"_hi_$name"),
        max(col("_n")).as(s"_n_$name"))
    }
    val agged =
      if (gs.isEmpty) cum.agg(aggs.head, aggs.tail: _*)
      else cum.groupBy(gs: _*).agg(aggs.head, aggs.tail: _*)
    val outCols = ps.map { case (p, name) =>
      val n = col(s"_n_$name").cast("double")
      val position = lit(p) * (n - 1)
      val vLo = col(s"_lo_$name").cast("double")
      // ⌈pos⌉ beyond the last index (p = 1) brackets to the max itself
      val vHi = coalesce(col(s"_hi_$name").cast("double"), vLo)
      when(floor(position) === ceil(position), vLo)
        .otherwise((ceil(position) - position) * vLo +
          (position - floor(position)) * vHi)
        .as(name)
    }
    agged.select(gs ++ outCols: _*)
  }
}
