package graft.profile

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distribution artifacts behind the reference's visual modules — the DATA
  * the plots render, as DataFrames (SURVEY §1 scope rule: renderers are
  * out, every rendered artifact is in):
  *  - equi-width histograms (m08_visuals/distributions.py:29-33,
  *    `series.plot(kind="hist", bins=30)`),
  *  - the numeric Pearson correlation matrix
  *    (m08_visuals/summary_plots.py:60, `numeric_df.corr()`).
  *
  * Both are single-pass distributed aggregations: the histogram is one
  * bounds pass + one groupBy on (column, bin) — only #cols·#bins
  * aggregate rows cross the shuffle; the correlation matrix is ONE
  * aggregation computing all k + k + k(k−1)/2 power/cross sums map-side
  * (a 100 TB table is scanned once; pandas `.corr()` is k² passes over
  * memory it couldn't hold).
  */
object Distributions {

  /** Equal-width bucket index for quantize-first rank statistics: maps `v`
    * into [0, buckets) over [lo, hi]. Shared by [[spearmanMatrix]] and
    * [[graft.drift.Drift.ks]] — both otherwise sort the full DISTINCT
    * support through one cumulative-window task, so bucketing first bounds
    * that task's input to `buckets` rows regardless of column cardinality
    * (the standard scale treatment for rank statistics: counts stay exact,
    * the rank/CDF moves by at most one bucket width). Constant support
    * (hi == lo) collapses to bucket 0; the clamp keeps ANSI-safe bounds. */
  def quantizeExpr(v: Column, lo: Column, hi: Column, buckets: Int): Column = {
    require(buckets > 0, s"quantize buckets must be positive, got $buckets")
    val width = (hi - lo) / lit(buckets.toDouble)
    when(hi === lo, lit(0.0)).otherwise(
      least(lit((buckets - 1).toDouble),
        greatest(lit(0.0), floor((v - lo) / width))))
  }

  /** Equi-width histogram per numeric column: (column_name, bin, bin_lo,
    * bin_hi, n). Bin width = (max−min)/bins from a broadcast 1-row bounds
    * frame; values AT max are clamped into the last bin (pandas/matplotlib
    * right-closed last bin). Constant columns collapse into bin 0. Nulls
    * are excluded. Bin edges are emitted at 4dp via the deterministic
    * floor-rounding so an external oracle mirroring the same IEEE
    * expression tree hashes identically. */
  def histogram(df: DataFrame, cols: Seq[String] = Nil, bins: Int = 30): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    val targets = if (cols.nonEmpty) cols else Profiler.numericColumns(df)
    require(targets.nonEmpty, "histogram needs at least one numeric column")
    val bounds = df.agg(
      min(col(targets.head).cast(DoubleType)).as(s"_gf_mn_${targets.head}"),
      targets.tail.flatMap(c => Seq(
        min(col(c).cast(DoubleType)).as(s"_gf_mn_$c"),
        max(col(c).cast(DoubleType)).as(s"_gf_mx_$c"))) :+
        max(col(targets.head).cast(DoubleType)).as(s"_gf_mx_${targets.head}"): _*)
    val entries = targets.map { name =>
      val x = col(name).cast(DoubleType)
      val mn = col(s"_gf_mn_$name"); val mx = col(s"_gf_mx_$name")
      val width = (mx - mn) / lit(bins.toDouble)
      val bin = when(x.isNull, lit(null).cast(IntegerType))
        .when(mx === mn, lit(0))
        .otherwise(least(lit(bins - 1), floor((x - mn) / width).cast(IntegerType)))
      struct(lit(name).as("column_name"), bin.as("bin"),
        mn.as("_gf_mn"), width.as("_gf_w"))
    }
    df.crossJoin(broadcast(bounds))
      .select(explode(array(entries.toIndexedSeq: _*)).as("e"))
      .select("e.*")
      .filter(col("bin").isNotNull)
      .groupBy("column_name", "bin")
      .agg(count(lit(1)).cast(LongType).as("n"),
        // identical IEEE scalars in every row of the group — min is just
        // a deterministic pick, mirrored verbatim in the oracle SQL
        graft.Num.dround(min(col("_gf_mn") + col("bin").cast(DoubleType) * col("_gf_w")), 4).as("bin_lo"),
        graft.Num.dround(min(col("_gf_mn") + (col("bin") + lit(1)).cast(DoubleType) * col("_gf_w")), 4).as("bin_hi"))
      .select("column_name", "bin", "bin_lo", "bin_hi", "n")
      .orderBy("column_name", "bin")
  }

  /** Pearson correlation matrix over numeric columns (upper triangle,
    * col_x < col_y): (col_x, col_y, corr) at 4dp.
    *
    * `exact=true` (the oracle-parity default) computes every sum from
    * per-row deterministically-quantized DECIMAL accumulators — the same
    * partition-order-independence discipline as [[Profiler.describe]]:
    * x, x², and x·y are quantized at 10^(E−14) of their magnitude bound
    * so each per-row value is an integer < 2^53. `magExp` supplies the
    * per-column decimal magnitude E (|x| ≤ 10^E); unhinted columns derive
    * it from the data in one column-pruned max(abs) prepass.
    * `exact=false` is the plain `corr()` built-in — the 100 TB default
    * when no cross-engine hash comparison is needed. */
  /** Gini coefficient + Pareto top-share concentration audit over a
    * non-negative metric (token counts, bytes, event values): HOW
    * CONCENTRATED is the corpus — does 1% of documents carry half the
    * token mass? The data-mixing diagnostic next to [[graft.ops.Skew]]'s
    * join-key heavy hitters: a high-Gini source needs per-document
    * budget caps before it dominates a training mix.
    *
    * Exact arithmetic on the bounded VALUE HISTOGRAM (never a corpus
    * sort): with values ascending, the rank-weighted sum uses the tied-
    * block closed form Σᵢ vᵢ·(cᵢ·cum_beforeᵢ + cᵢ(cᵢ+1)/2) — integers ×
    * exact decimals — and G = 2·S_rv/(n·S_v) − (n+1)/n on a short IEEE
    * chain over the 2dp-rounded exact sums (the decSum rule). The top
    * share takes the ceil(p·n) LARGEST rows' value mass from the
    * descending cumulative histogram — splitting a tied block
    * proportionally is exact decimal arithmetic.
    *
    * Output: (groupCols…, n, total, gini 6dp, top_share 6dp). Negative
    * values refuse loudly (Gini is undefined there — a silently wrong
    * concentration number would mis-size a mixing cap); all-zero groups
    * emit null gini/top_share.
    *
    * 100 TB: one histogram aggregation per group + histogram-sized
    * windows — the corpus never sorts. */
  def gini(df: DataFrame, valueCol: String, groupCols: Seq[String],
           topFraction: Double = 0.01): DataFrame = {
    require(topFraction > 0 && topFraction < 1,
      s"topFraction must be in (0, 1), got $topFraction")
    val gs = groupCols.map(col)
    val v0 = col(valueCol).cast(DecimalType(18, 4))
    val guarded = when(v0 < 0, raise_error(concat(
      lit(s"graft: gini needs non-negative '$valueCol', got "),
      v0.cast("string")))).otherwise(v0)
    val hist = df.where(col(valueCol).isNotNull)
      .select(gs :+ guarded.as("_v"): _*)
      .groupBy(gs :+ col("_v"): _*)
      .agg(count(lit(1)).as("_c"))
    val asc = Window.partitionBy(gs: _*).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val desc = Window.partitionBy(gs: _*).orderBy(col("_v").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(gs: _*)
    val cum = hist
      .withColumn("_cumc", sum("_c").over(asc))
      .withColumn("_n", sum("_c").over(all))
      // rank-weighted value mass of the tied block: the rank factor is
      // pure BIGINT arithmetic (integer div — the double lane would be
      // exact too, but integer is self-evidently so), cast to a TIGHT
      // DECIMAL(16,0) so the product (18,4)×(16,0) = (35,4) stays under
      // precision 38 in BOTH engines (a wider factor makes Spark rescale
      // where DuckDB doesn't — the Trend.ols width lesson). Contract:
      // per-group rank sums < 1e16, i.e. ≲ 1.4e8 rows per group — beyond
      // that, widen per use or pre-aggregate
      .withColumn("_rank",
        expr("(_cumc - _c) * _c + (_c * (_c + 1)) div 2"))
      // refuse loudly past the documented 1e16 contract — a silently
      // nulled rank factor (non-ANSI overflow) would drop that block's
      // mass from the rank-weighted sum and yield a WRONG Gini, the same
      // failure class the negative-value guard above refuses
      .withColumn("_rv", col("_v") * when(col("_rank") >= lit(1e16.toLong),
        raise_error(concat(
          lit(s"graft: gini rank factor overflows DECIMAL(16,0) " +
            s"(per-group rank sums >= 1e16, ~1.4e8 rows/group) for '$valueCol': "),
          col("_rank").cast("string"))))
        .otherwise(col("_rank").cast(DecimalType(16, 0))))
      // descending cumulative count/value for the top-share lane
      .withColumn("_dcumc", sum("_c").over(desc))
      .withColumn("_dcumv", sum(col("_v") * col("_c")).over(desc))
    val k = ceil(lit(topFraction) * col("_n"))
    // value mass of the k largest rows: full blocks above the cut plus a
    // proportional slice of the block straddling it — exact decimals
    val topMass = sum(
      when(col("_dcumc") <= k, col("_v") * col("_c"))
        .when(col("_dcumc") - col("_c") < k,
          col("_v") * (k - (col("_dcumc") - col("_c"))).cast(DecimalType(18, 0)))
        .otherwise(lit(0).cast(DecimalType(18, 4))))
    val agg = cum.groupBy(gs: _*).agg(
      max(col("_n")).as("n"),
      round(sum(col("_v") * col("_c")), 2).cast(DoubleType).as("_sv"),
      round(sum(col("_rv")), 2).cast(DoubleType).as("_srv"),
      round(topMass, 2).cast(DoubleType).as("_topv"))
    val n = col("n").cast(DoubleType)
    val giniExpr = graft.Num.dround(
      lit(2.0) * col("_srv") / (n * col("_sv")) - (n + 1.0) / n, 6)
    agg.select(gs :+ col("n") :+
      graft.Num.dround(col("_sv"), 2).as("total") :+
      when(col("_sv") > 0, giniExpr).as("gini") :+
      when(col("_sv") > 0,
        graft.Num.dround(col("_topv") / col("_sv"), 6)).as("top_share"): _*)
  }

  def correlationMatrix(df: DataFrame, cols: Seq[String] = Nil,
                        exact: Boolean = true,
                        magExp: Map[String, Int] = Map.empty): DataFrame = {
    val targets = if (cols.nonEmpty) cols else Profiler.numericColumns(df)
    require(targets.size >= 2, "correlation needs at least two numeric columns")
    val pairs = for {
      (a, i) <- targets.zipWithIndex; b <- targets.drop(i + 1)
    } yield (a, b)

    val entries: Seq[Column] =
      if (!exact) pairs.map { case (a, b) =>
        struct(lit(a).as("col_x"), lit(b).as("col_y"),
          graft.Num.dround(corr(col(a).cast(DoubleType), col(b).cast(DoubleType)), 4).as("corr"))
      } else {
        val exp = Profiler.magExps(df, targets, magExp)
        def x(c: String): Column = col(c).cast(DoubleType)
        pairs.map { case (a, b) =>
          val (ea, eb) = (exp(a), exp(b))
          // pairwise-complete n (pandas .corr() semantics): rows where
          // either side is null drop out of BOTH sums for this pair
          val bothPresent = x(a).isNotNull && x(b).isNotNull
          def pres(c: Column): Column = when(bothPresent, c)
          val n = count(pres(lit(1))).cast(DoubleType)
          val sa = Profiler.exactSum(pres(x(a)), ea); val sb = Profiler.exactSum(pres(x(b)), eb)
          val saa = Profiler.exactSum(pres(x(a) * x(a)), 2 * ea)
          val sbb = Profiler.exactSum(pres(x(b) * x(b)), 2 * eb)
          val sab = Profiler.exactSum(pres(x(a) * x(b)), ea + eb)
          val num = n * sab - sa * sb
          val den = sqrt(greatest(n * saa - sa * sa, lit(0.0))) *
            sqrt(greatest(n * sbb - sb * sb, lit(0.0)))
          struct(lit(a).as("col_x"), lit(b).as("col_y"),
            graft.Num.dround(num / den, 4).as("corr"))
        }
      }
    df.agg(array(entries.toIndexedSeq: _*).as("m"))
      .select(explode(col("m")).as("e"))
      .select("e.*")
      .orderBy("col_x", "col_y")
  }

  /** Spearman rank correlation matrix (pandas `.corr(method="spearman")`),
    * upper triangle: (col_x, col_y, rho) at 4dp, average ranks for ties,
    * pairwise-complete rows.
    *
    * All-relational, no per-row ranking shuffle: each column's AVERAGE
    * rank is computed at the VALUE level (groupBy value → cumulative count
    * over the distinct support → rank = #smaller + (cnt+1)/2), the pair
    * distribution is one (va, vb) keyed count, and ranks join back on the
    * value keys — so raw rows shuffle once per pair (the pair count) and
    * everything downstream is distinct-value-sized. Rank moments
    * accumulate as exact DECIMALs (ranks are ½-multiples, products
    * ¼-multiples — scales 1 and 2 are exact), making ρ
    * reduction-order-independent and oracle-comparable. The cumulative
    * rank window is single-partition over DISTINCT values — exact rank
    * statistics are inherently a sorted scan of the support, so for
    * unbounded-cardinality columns (prices, floats) pass `quantize > 0`:
    * values bucket into `quantize` equal-width bins (one extra bounds
    * pass) BEFORE the rank window, bounding its input to `quantize` rows
    * per column. ρ then measures the binned ranks — the standard
    * quantize-first treatment; `quantize = 0` (default) is the exact
    * oracle path. Constant columns (zero rank variance) emit null, as
    * pandas NaN. */
  def spearmanMatrix(df: DataFrame, cols: Seq[String] = Nil,
                     quantize: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val targets = if (cols.nonEmpty) cols else Profiler.numericColumns(df)
    require(targets.size >= 2, "spearman needs at least two numeric columns")
    val pairs = for {
      (a, i) <- targets.zipWithIndex; b <- targets.drop(i + 1)
    } yield (a, b)

    // one shared bounds row for every column when quantizing
    val boundsOpt = if (quantize <= 0) None else Some(broadcast(df.agg(
      min(col(targets.head).cast(DoubleType)).as(s"_gf_lo_${targets.head}"),
      targets.tail.flatMap(c => Seq(
        min(col(c).cast(DoubleType)).as(s"_gf_lo_$c"),
        max(col(c).cast(DoubleType)).as(s"_gf_hi_$c"))) :+
        max(col(targets.head).cast(DoubleType)).as(s"_gf_hi_${targets.head}"): _*)))

    val perPair = pairs.map { case (a, b) =>
      val raw = df
        .filter(col(a).isNotNull && col(b).isNotNull)
        .select(col(a).cast(DoubleType).as("va"), col(b).cast(DoubleType).as("vb"))
      val present = boundsOpt match {
        case None => raw
        case Some(bounds) =>
          def q(v: Column, c: String): Column =
            quantizeExpr(v, col(s"_gf_lo_$c"), col(s"_gf_hi_$c"), quantize)
          raw.crossJoin(bounds)
            .select(q(col("va"), a).as("va"), q(col("vb"), b).as("vb"))
      }
      val pc = present.groupBy("va", "vb").agg(count(lit(1)).as("cnt"))
      // Marginal value counts re-aggregate the PAIR-COUNT frame, not the
      // raw rows: identical integers, but the raw table is scanned and
      // shuffled once per pair instead of three times — and because all
      // three aggregations share the pc subplan, Spark's exchange reuse
      // can serve them from one shuffle.
      def ranks(vc: String, out: String): DataFrame = {
        val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        pc.groupBy(col(vc).as("v")).agg(sum("cnt").as("cnt"))
          .withColumn("cum", sum("cnt").over(w))
          .select(col("v").as(s"_$vc"),
            ((col("cum") - col("cnt")).cast(DoubleType) +
              (col("cnt").cast(DoubleType) + lit(1.0)) / lit(2.0)).as(out))
      }
      val j = pc
        .join(ranks("va", "ra"), col("va") === col("_va"))
        .join(ranks("vb", "rb"), col("vb") === col("_vb"))
      def dsum(c: Column, scale: Int): Column =
        sum(c.cast(DecimalType(38, scale))).cast(DoubleType)
      j.agg(
        sum("cnt").cast(DoubleType).as("n"),
        dsum(col("cnt") * col("ra"), 1).as("sa"),
        dsum(col("cnt") * col("rb"), 1).as("sb"),
        dsum(col("cnt") * col("ra") * col("ra"), 2).as("saa"),
        dsum(col("cnt") * col("rb") * col("rb"), 2).as("sbb"),
        dsum(col("cnt") * col("ra") * col("rb"), 2).as("sab"))
        .select(
          lit(a).as("col_x"), lit(b).as("col_y"),
          {
            val num = col("n") * col("sab") - col("sa") * col("sb")
            val va = col("n") * col("saa") - col("sa") * col("sa")
            val vb = col("n") * col("sbb") - col("sb") * col("sb")
            graft.Num.dround(
              when(va > 0 && vb > 0, num / (sqrt(va) * sqrt(vb))), 4).as("rho")
          })
    }
    perPair.reduce(_.unionByName(_)).orderBy("col_x", "col_y")
  }
}
