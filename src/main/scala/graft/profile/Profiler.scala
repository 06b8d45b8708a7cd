package graft.profile

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Config-driven data profiling — the Spark-native counterpart of the
  * reference's `m01_diagnostics/data_diag.py` (generate_data_profile,
  * data_diag.py:20-127).
  *
  * Design: the reference loops per-column over a pandas frame. Here every
  * profile is ONE distributed aggregation pass — all per-column statistics
  * are computed as a single `agg(array(struct(...)))` so a 100 TB table is
  * scanned once, reduced map-side, and only a few KB of aggregate state
  * crosses the shuffle. The long (one-row-per-column) shape is recovered by
  * exploding the array afterwards, on a 1-row DataFrame. Exact distinct
  * counts are the exception: they take one keyed pass of their own
  * ([[exactDistincts]]).
  */
object Profiler {

  private[graft] def numericColumns(df: DataFrame): Seq[String] = numericCols(df)

  private def numericCols(df: DataFrame): Seq[String] =
    df.schema.fields.collect { case f if f.dataType.isInstanceOf[NumericType] => f.name }.toSeq

  /** Schema overview: dtype, non-null/null counts, missing %, distinct count
    * per column (data_diag.py:47-83). `exact=false` (default) uses HLL
    * `approx_count_distinct` — the 100 TB path. `exact=true` matches a SQL
    * oracle bit-for-bit; its counts come from the keyed pass of
    * [[exactDistincts]], not from Spark's multi-`count_distinct` Expand.
    */
  def schemaProfile(df: DataFrame, exact: Boolean = false): DataFrame = {
    val total = count(lit(1))
    perColumn(df, exact) { f =>
      val c = col(f.name)
      Seq(
        lit(f.name).as("column_name"),
        lit(f.dataType.simpleString).as("dtype"),
        count(c).cast(LongType).as("non_null"),
        (total - count(c)).cast(LongType).as("null_count"),
        graft.Num.dround((total - count(c)).cast(DoubleType) / total * 100, 2).as("missing_pct"))
    }.select("column_name", "dtype", "non_null", "null_count", "missing_pct", "distinct_count")
      .orderBy("column_name")
  }

  /** One row per column of `df`: the fields `entry` makes from the
    * column, all columns in ONE aggregation pass, plus its
    * `distinct_count` — HLL `approx_count_distinct` in the same pass, or
    * with `exact` the [[exactDistincts]] count joined on by column index
    * (0 for a column with no non-null value, as `count_distinct`). */
  private[graft] def perColumn(df: DataFrame, exact: Boolean)(
      entry: StructField => Seq[Column]): DataFrame = {
    val entries = df.schema.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
      val distinct =
        if (exact) Nil
        else Seq(approx_count_distinct(col(f.name)).cast(LongType).as("distinct_count"))
      struct((lit(i).as("_gf_idx") +: entry(f)) ++ distinct: _*)
    }
    val agged = df.agg(array(entries: _*).as("m"))
      .select(explode(col("m")).as("e")).select("e.*")
    if (!exact) agged
    else agged.join(broadcast(exactDistincts(df)), Seq("_gf_idx"), "left")
      .withColumn("distinct_count", coalesce(col("distinct_count"), lit(0L)))
  }

  /** Exact distinct count of every column of `df` in ONE keyed pass: each
    * row explodes to (column index, value) pairs, the value in the slot of
    * its column's DataType (one slot per distinct DataType, so values keep
    * their type and equality), nulls dropped; then one `distinct()` and
    * one count per index. Spark's plan for several `count_distinct`s
    * instead expands every row once per column and aggregates the copies
    * in the scan's tasks — on a single-partition frame, in one task.
    * Output: (`_gf_idx`, `distinct_count`); a column with no non-null
    * value has no row. */
  private[graft] def exactDistincts(df: DataFrame): DataFrame = {
    val types = df.schema.fields.map(_.dataType).distinct.toIndexedSeq
    val slots = types.indices.map(j => s"_gf_v$j")
    val pairs = df.schema.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
      struct(lit(i).as("_gf_idx") +: types.zip(slots).map { case (t, s) =>
        (if (t == f.dataType) col(f.name) else lit(null).cast(t)).as(s)
      }: _*)
    }
    df.select(explode(array(pairs: _*)).as("p")).select("p.*")
      .filter(slots.map(col(_).isNotNull).reduce(_ || _))
      .distinct()
      .groupBy("_gf_idx").agg(count(lit(1)).cast(LongType).as("distinct_count"))
  }

  /** Descriptive statistics for numeric columns (data_diag.py:104-110):
    * count/mean/std/min/q1/median/q3/max plus skew and kurtosis.
    *
    * Skew/kurtosis use the bias-corrected (sample) estimators to match the
    * reference's pandas `.skew()`/`.kurt()` (and DuckDB): Spark's built-ins
    * return population moments g1/g2, corrected here via
    *   G1 = g1 * sqrt(n(n-1))/(n-2)
    *   G2 = ((n-1)/((n-2)(n-3))) * ((n+1) g2 + 6).
    * `exactQuantiles=false` switches to `percentile_approx` for the 100 TB
    * path (exact percentile holds all values of a partition in memory).
    *
    * `exactMoments=true` (default) computes mean/std/skew/kurtosis from
    * EXACT power sums (Σx, Σx², Σx³, Σx⁴ of per-row deterministically-
    * quantized powers, summed by graft.Num.qsum) instead of plain double
    * `avg`/`skewness`: double reductions are order-dependent in the last
    * ulps, and the reduction order varies with `defaultParallelism`, so a
    * double-moment gate can flip red on a different core count when a value
    * lands on a rounding boundary. The exact sums are order-independent,
    * making the emitted 4dp stats a pure function of the data, not of the
    * partitioning.
    *
    * Each x^k is quantized to 10^(k·E−14) absolute (E = per-column decimal
    * magnitude with |x| ≤ 10^E) so every per-row quantized value stays an
    * integer < 2^53: such doubles cast to DECIMAL identically in every
    * engine (above 2^53, Spark's shortest-string cast and DuckDB's
    * exact-binary cast can disagree). Relative quantization is ≤ 1e-14 of
    * column magnitude — invisible at the emitted 4dp.
    *
    * E comes from `magExp` when provided (needed for an external-engine
    * oracle, which must quantize identically); a WRONG hint is fatal, not
    * silent — if the data exceeds 10^E the column's stats raise (an E too
    * small zeroes the higher power sums and would emit garbage moments).
    * Unhinted columns derive E from the data (one extra column-pruned
    * max(abs) pass), so the default path is always correctly scaled. */
  def describe(df: DataFrame, cols: Seq[String] = Nil,
               exactQuantiles: Boolean = true,
               exactMoments: Boolean = true,
               magExp: Map[String, Int] = Map.empty,
               groupCols: Seq[String] = Nil): DataFrame = {
    // Default targets exclude the grouping keys — pandas groupby()
    // .describe() never profiles the keys themselves.
    val targets =
      if (cols.nonEmpty) cols
      else numericCols(df).filterNot(groupCols.contains)
    val exps = if (exactMoments) magExps(df, targets, magExp) else Map.empty[String, Int]
    val entries = targets.map { name =>
      val c = col(name).cast(DoubleType)
      val n = count(c).cast(DoubleType)
      // ONE percentile aggregate per column with all three percentages —
      // three separate percentile() calls each buffer + sort the column
      // independently (measured 2× the whole-aggregation cost at sf0.1).
      val qs =
        if (exactQuantiles) percentile(c, array(lit(0.25), lit(0.5), lit(0.75)))
        else percentile_approx(c, array(lit(0.25), lit(0.5), lit(0.75)), lit(100000))
      def q(i: Int): Column = element_at(qs, i)
      val (meanC, stdC, skewC, kurtC) =
        if (exactMoments) {
          // Exact sum of x^k (deterministic IEEE ops, identical both
          // engines) on the 10^(k·E−14) grid.
          val e = exps(name)
          def powSum(k: Int): Column = exactSum(Seq.fill(k)(c).reduce(_ * _), k * e)
          // A magExp hint the data violates must fail, not silently emit
          // mis-scaled moments (the guard never fires on valid data, so
          // an external oracle needs no mirror of it).
          val badHint = coalesce(max(abs(c)) > lit(s"1e$e".toDouble), lit(false))
          def guarded(stat: Column): Column =
            when(badHint, raise_error(lit(
              s"describe: |$name| exceeds 10^$e — fix its magExp hint"))
              .cast(DoubleType)).otherwise(stat)
          val s1 = powSum(1); val s2 = powSum(2)
          val s3 = powSum(3); val s4 = powSum(4)
          val mean = s1 / n
          val m2 = s2 / n - mean * mean
          val m3 = s3 / n - lit(3.0) * mean * (s2 / n) + lit(2.0) * mean * mean * mean
          val m4 = s4 / n - lit(4.0) * mean * (s3 / n) +
            lit(6.0) * mean * mean * (s2 / n) - lit(3.0) * mean * mean * mean * mean
          // Quantized s2 and s1² round independently, so varSamp can land
          // a few ulps below 0 for (near-)constant columns — clamp so the
          // emitted stddev is 0, not NaN (oracle SQL mirrors the clamp).
          // Sample skew needs n>2, sample kurtosis n>3, both need nonzero
          // variance; outside that domain the ANSI divides would throw —
          // emit null (pandas emits NaN there). In the oracle-compared
          // queries every group is far inside the domain, so the guards
          // never bind and need no SQL mirror.
          val varSamp = when(n > 1, (s2 - s1 * s1 / n) / (n - lit(1.0)))
          val g1 = m3 / sqrt(m2 * m2 * m2)
          val g2 = m4 / (m2 * m2) - lit(3.0)
          // The n>1 guard must wrap the clamp: greatest() SKIPS nulls, so
          // greatest(null, 0.0) would turn a one-row group's undefined
          // stddev into a confident 0.0.
          (guarded(mean), when(n > 1, sqrt(greatest(varSamp, lit(0.0)))),
            when(n > 2 && m2 > 0,
              g1 * sqrt(n * (n - lit(1.0))) / (n - lit(2.0))),
            when(n > 3 && m2 > 0,
              ((n - lit(1.0)) / ((n - lit(2.0)) * (n - lit(3.0)))) *
                ((n + lit(1.0)) * g2 + lit(6.0))))
        } else {
          val g1 = skewness(c)
          val g2 = kurtosis(c)
          (avg(c), stddev_samp(c),
            when(n > 2, g1 * sqrt(n * (n - lit(1.0))) / (n - lit(2.0))),
            when(n > 3,
              ((n - lit(1.0)) / ((n - lit(2.0)) * (n - lit(3.0)))) *
                ((n + lit(1.0)) * g2 + lit(6.0))))
        }
      struct(
        lit(name).as("column_name"),
        count(c).cast(LongType).as("n"),
        graft.Num.dround(meanC, 4).as("mean"),
        graft.Num.dround(stdC, 4).as("stddev"),
        graft.Num.dround(min(c), 4).as("min"),
        graft.Num.dround(q(1), 4).as("q1"),
        graft.Num.dround(q(2), 4).as("median"),
        graft.Num.dround(q(3), 4).as("q3"),
        graft.Num.dround(max(c), 4).as("max"),
        graft.Num.dround(skewC, 4).as("skew"),
        graft.Num.dround(kurtC, 4).as("kurtosis"))
    }
    val agged =
      if (groupCols.isEmpty) df.agg(array(entries.toIndexedSeq: _*).as("m"))
      else df.groupBy(groupCols.map(col): _*).agg(array(entries.toIndexedSeq: _*).as("m"))
    agged
      .select(groupCols.map(col) :+ explode(col("m")).as("e"): _*)
      .select(groupCols.map(col) :+ col("e.*"): _*)
      .orderBy((groupCols :+ "column_name").map(col): _*)
  }

  /** The decimal magnitude E (|x| ≤ 10^E, 0 for a column with no nonzero
    * finite value) of each column, which sets the grid of its exact power
    * sums: `hints` as given, the other columns from one column-pruned
    * max(abs) pass. */
  private[graft] def magExps(df: DataFrame, cols: Seq[String],
                             hints: Map[String, Int]): Map[String, Int] = {
    val need = cols.filterNot(hints.contains)
    if (need.isEmpty) hints
    else {
      val aggs = need.map(nm => max(abs(col(nm).cast(DoubleType))).as(nm))
      val r = df.agg(aggs.head, aggs.tail.toIndexedSeq: _*).collect()(0)
      hints ++ need.map { nm =>
        val m = Option(r.getAs[Any](nm)).map(_.asInstanceOf[Double]).getOrElse(0.0)
        nm -> (if (m <= 0 || m.isNaN || m.isInfinite) 0
               else math.max(0, math.ceil(math.log10(m) - 1e-9).toInt))
      }
    }
  }

  /** The exact sum ([[graft.Num.qsum]]) of a column of magnitude ≤ 10^e
    * on the grid 10^(e−14): every quantized value is an integer < 2^53.
    * The grid is a string-parsed literal, equal to the SQL-parsed one
    * (math.pow is not guaranteed correctly rounded for negative
    * exponents). */
  private[graft] def exactSum(x: Column, e: Int): Column =
    graft.Num.qsum(x, lit(s"1e${14 - e}".toDouble))

  /** Per-group descriptive statistics — pandas `groupby().describe()`.
    * One grouped aggregation pass: same exact moment discipline as
    * [[describe]] (the magnitude exponent is derived GLOBALLY, so it bounds
    * every group), only (group, column)-level aggregate rows shuffle. */
  def describeBy(df: DataFrame, groupCols: Seq[String], cols: Seq[String] = Nil,
                 exactQuantiles: Boolean = true,
                 exactMoments: Boolean = true,
                 magExp: Map[String, Int] = Map.empty): DataFrame = {
    require(groupCols.nonEmpty, "describeBy needs at least one group column")
    describe(df, cols, exactQuantiles, exactMoments, magExp, groupCols)
  }

  /** High-cardinality string columns (data_diag.py:85-92): string columns
    * whose distinct count exceeds `threshold`, highest first. */
  def highCardinality(df: DataFrame, threshold: Long = 10, exact: Boolean = false): DataFrame = {
    val stringCols = df.schema.fields.filter(_.dataType == StringType).map(_.name)
    schemaProfile(df.select(stringCols.toIndexedSeq.map(col): _*), exact)
      .filter(col("distinct_count") > threshold)
      .select("column_name", "distinct_count")
      .orderBy(col("distinct_count").desc, col("column_name"))
  }

  /** Duplicate-row summary (data_diag.py:94-102): number of rows belonging
    * to a duplicate group over `subset` (all columns if empty), as count and
    * percent — pandas `df.duplicated(keep=False).sum()` semantics.
    * One groupBy shuffle of (key, count) partial aggregates; no raw-row
    * shuffle beyond the keyed reduction.
    */
  def duplicateSummary(df: DataFrame, subset: Seq[String] = Nil): DataFrame = {
    val keys = if (subset.nonEmpty) subset else df.columns.toSeq
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("cnt"))
      .agg(
        sum(col("cnt")).cast(LongType).as("total_rows"),
        coalesce(sum(when(col("cnt") > 1, col("cnt"))), lit(0L)).cast(LongType)
          .as("duplicate_rows"),
        coalesce(sum(when(col("cnt") > 1, 1L)), lit(0L)).cast(LongType)
          .as("duplicate_groups"))
      .select(
        col("duplicate_rows"),
        col("duplicate_groups"),
        graft.Num.dround(col("duplicate_rows").cast(DoubleType) / col("total_rows") * 100, 2)
          .as("duplicate_pct"))
  }

  /** Categorical distribution — pandas `value_counts()` used throughout the
    * reference's displays (e.g. validate_data.py:33-35). Deterministic
    * ordering: count desc, then value asc. */
  def valueCounts(df: DataFrame, column: String): DataFrame =
    df.groupBy(col(column)).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col(column))

  /** Distribution-shape profile per column: Shannon entropy (bits),
    * normalized entropy (entropy / log2(distinct); 0 for single-valued),
    * and the modal share. Complements the reference's cardinality checks
    * (data_diag.py:85-92) with a concentration measure — near-0 normalized
    * entropy on a supposedly-informative column, or a modal share near 1,
    * is the classic silent-data-bug signal.
    *
    * ONE shuffle total for all requested columns: rows explode to
    * (column_name, value) pairs, aggregate to value frequencies, then to
    * per-column entropies — only (column, value, count) partial-aggregate
    * state crosses the wire, never raw rows. Nulls are excluded (pandas
    * `value_counts(dropna=True)` convention). */
  def entropyProfile(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val targets = if (cols.nonEmpty) cols else df.columns.toSeq
    val pairs = df.select(explode(array(targets.map(c =>
      struct(lit(c).as("column_name"), col(c).cast(StringType).as("value"))): _*)).as("p"))
      .select("p.*")
      .filter(col("value").isNotNull)
    val ln2 = log(lit(2.0))
    val freqs = pairs.groupBy("column_name", "value").agg(count(lit(1)).as("cnt"))
    // Σ c·ln(c) as an exact sum of per-value terms on the 1e-4 grid
    // (graft.Num.qsum): a plain double sum is reduction-order-dependent,
    // and the quantized definition is mirrored verbatim in the SQL
    // oracle. cnt=1 terms are exactly 0, so unique-valued columns
    // contribute none; the grid keeps quantization error ≤ 5e-5·#values
    // (invisible at the emitted 4dp for any n ≳ #values) while the gap
    // between a term's cross-engine ln ulp (~1e-10 at c·ln(c) ~ 1e6) and
    // the grid keeps boundary flips out of reach.
    freqs.groupBy("column_name")
      .agg(
        sum("cnt").cast(LongType).as("n"),
        count(lit(1)).cast(LongType).as("distinct_vals"),
        max("cnt").cast(LongType).as("top_cnt"),
        graft.Num.qsum(col("cnt") * log(col("cnt").cast(DoubleType)), lit(1e4))
          .as("sum_clnc"))
      .select(
        col("column_name"), col("n"), col("distinct_vals"),
        // H = log2(n) - (1/n)·Σ c·ln(c)/ln(2): one pass, no per-value p=c/n
        graft.Num.dround(
          (log(col("n").cast(DoubleType)) - col("sum_clnc") / col("n")) / ln2, 4)
          .as("entropy_bits"),
        graft.Num.dround(
          when(col("distinct_vals") === 1, lit(0.0)).otherwise(
            (log(col("n").cast(DoubleType)) - col("sum_clnc") / col("n")) /
              log(col("distinct_vals").cast(DoubleType))), 4)
          .as("entropy_norm"),
        graft.Num.dround(col("top_cnt").cast(DoubleType) / col("n"), 4)
          .as("top_ratio"))
      .orderBy("column_name")
  }

  /** Categorical association audit per column pair: mutual information
    * (bits), the chi-squared statistic, its degrees of freedom, and
    * Cramér's V — the dependence detectors value_counts can't see.
    * MI ≈ 0 / V ≈ 0 means knowing one column tells you nothing about the
    * other; MI near min(H) / V near 1 means one determines the other
    * (redundant column / leaked label).
    *
    * One row-level shuffle per pair (the joint (a,b) count); marginals and
    * totals re-aggregate the joint frame, so everything past the first
    * groupBy is distinct-pair-sized. Chi-squared uses the zero-cell-free
    * identity Σ obs²·n/(ca·cb) − n (absent joint cells contribute only
    * through the −n term), so the sparse joint frame is sufficient and no
    * expected-count cross join materializes. MI terms sum exactly on a
    * 1e-4 grid (graft.Num.qsum, the entropyProfile discipline) for
    * cross-engine reduction-order independence; chi-squared terms are
    * pure rational arithmetic on counts, same quantized-sum treatment.
    * Null on either side drops the row (pairwise-complete). */
  def association(df: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "association needs at least one column pair")
    val ln2 = log(lit(2.0))
    val perPair = pairs.map { case (a, b) =>
      val joint = df
        .filter(col(a).isNotNull && col(b).isNotNull)
        .groupBy(col(a).cast(StringType).as("va"), col(b).cast(StringType).as("vb"))
        .agg(count(lit(1)).as("cnt"))
      val ma = joint.groupBy("va").agg(sum("cnt").as("ca"))
      val mb = joint.groupBy("vb").agg(sum("cnt").as("cb"))
      val nRow = joint.agg(sum("cnt").as("_gf_n"))
      val ka = ma.agg(count(lit(1)).as("_gf_ka"))
      val kb = mb.agg(count(lit(1)).as("_gf_kb"))
      // miTerm = c·(ln(c·n) − ln(ca·cb)); both products ≤ n², exact doubles
      val miTerm = col("cnt") * (
        log(col("cnt").cast(DoubleType) * col("_gf_n").cast(DoubleType)) -
          log(col("ca").cast(DoubleType) * col("cb").cast(DoubleType)))
      // chiTerm = obs²·n/(ca·cb); Σ − n is the full chi-squared
      val chiTerm = col("cnt").cast(DoubleType) * col("cnt").cast(DoubleType) *
        col("_gf_n").cast(DoubleType) /
        (col("ca").cast(DoubleType) * col("cb").cast(DoubleType))
      joint.join(ma, "va").join(mb, "vb")
        .crossJoin(broadcast(nRow))
        .crossJoin(broadcast(ka)).crossJoin(broadcast(kb))
        .agg(
          max(col("_gf_n")).cast(LongType).as("n"),
          max(col("_gf_ka")).cast(LongType).as("ka"),
          max(col("_gf_kb")).cast(LongType).as("kb"),
          graft.Num.qsum(miTerm, lit(1e4)).as("s"),
          graft.Num.qsum(chiTerm, lit(1e4)).as("schi"))
        .select(
          lit(a).as("col_x"), lit(b).as("col_y"), col("n"),
          // greatest-clamps: term quantization can push the sums a hair
          // below their 0 lower bound; MI and chi2 are non-negative by
          // definition (mirrored in the oracle SQL).
          graft.Num.dround(greatest(col("s"), lit(0.0)) / col("n") / ln2, 4)
            .as("mi_bits"),
          graft.Num.dround(
            when(col("schi").isNotNull, greatest(col("schi") - col("n"), lit(0.0))), 4)
            .as("chi2"),
          ((col("ka") - 1) * (col("kb") - 1)).cast(LongType).as("dof"),
          graft.Num.dround(
            when(col("ka") > 1 && col("kb") > 1, sqrt(
              greatest(col("schi") - col("n"), lit(0.0)) /
                (col("n") * least(col("ka") - 1, col("kb") - 1)))), 4)
            .as("cramers_v"))
    }
    perPair.reduce(_.unionByName(_)).orderBy("col_x", "col_y")
  }

  /** Format-mask profile of a string column: uppercase→A, lowercase→a,
    * digit→9 (punctuation/whitespace kept verbatim), then the top-k masks
    * by frequency — the data-dictionary view that catches mixed formats
    * (IDs with two shapes, stray whitespace, locale-formatted numbers)
    * that dtype and range checks can't see. One keyed count; ties break on
    * the mask string. */
  def formatMasks(df: DataFrame, column: String, k: Int = 10): DataFrame = {
    val mask = regexp_replace(regexp_replace(regexp_replace(
      col(column), "[A-Z]", "A"), "[a-z]", "a"), "[0-9]", "9")
    val grouped = df.filter(col(column).isNotNull)
      .select(mask.as("mask"))
      .groupBy("mask").agg(count(lit(1)).as("cnt"))
    // Broadcast 1-row total, NOT a single-partition window: mask
    // cardinality is unbounded (free text keeps punctuation verbatim), and
    // a lit(1)-partitioned window would funnel every mask row through one
    // task at scale.
    val tot = grouped.agg(sum("cnt").as("_gf_tot"))
    grouped.crossJoin(broadcast(tot))
      .withColumn("pct",
        graft.Num.dround(col("cnt").cast(DoubleType) / col("_gf_tot"), 4))
      .drop("_gf_tot")
      .orderBy(col("cnt").desc, col("mask"))
      .limit(k)
  }

  /** Benford first-digit profile of a positive numeric column: observed vs
    * expected leading-digit shares — the classic fabricated-amount /
    * unit-mix-bug detector for financial columns. The leading digit is
    * taken from the value in exact cents (floor(100·x + 0.5) as a LONG,
    * then first decimal digit) — string-free of double formatting, so the
    * digit is engine-portable. Zero/negative/null values are excluded.
    * One aggregation pass; at most 9 rows of aggregate state shuffle. */
  def benford(df: DataFrame, column: String): DataFrame = {
    val cents = floor(col(column).cast(DoubleType) * 100 + lit(0.5)).cast(LongType)
    val digit = substring(cents.cast(StringType), 1, 1).cast(IntegerType)
    val counted = df
      .filter(col(column).isNotNull && col(column) > 0)
      .select(cents.as("cents"), digit.as("digit"))
      .filter(col("cents") > 0)
      .groupBy("digit").agg(count(lit(1)).as("cnt"))
    val tot = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    counted
      .withColumn("pct", col("cnt").cast(DoubleType) / sum("cnt").over(tot))
      .select(
        col("digit"), col("cnt"),
        graft.Num.dround(col("pct"), 4).as("pct"),
        graft.Num.dround(
          log(lit(1.0) + lit(1.0) / col("digit").cast(DoubleType)) / log(lit(10.0)), 4)
          .as("benford_pct"))
      .orderBy("digit")
  }
}
