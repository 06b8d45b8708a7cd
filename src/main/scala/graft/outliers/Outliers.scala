package graft.outliers

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Detection method per column (detect_outliers.py:16-29). */
sealed trait DetectMethod { def name: String }
final case class Iqr(multiplier: Double = 1.5) extends DetectMethod { val name = "iqr" }
final case class ZScore(threshold: Double = 3.0) extends DetectMethod { val name = "zscore" }
/** Median absolute deviation: robust where mean/stddev (ZScore) are
  * dragged by the very outliers being hunted, and tighter than IQR on
  * heavy-tailed data. Flags |x − median| > threshold · 1.4826 · MAD
  * (1.4826 makes the MAD consistent with σ under normality, so the
  * threshold reads in "robust sigmas" — Iglewicz & Hoaglin's modified
  * z-score with its 3.5 default). */
final case class Mad(threshold: Double = 3.5) extends DetectMethod { val name = "mad" }

/** Handling strategy per column (outlier_handler.py:96-110). */
sealed trait HandleStrategy
case object Clip extends HandleStrategy
case object ReplaceMean extends HandleStrategy
case object ReplaceMedian extends HandleStrategy
final case class ReplaceConstant(value: Double) extends HandleStrategy
/** Global: remove any row with any outlier flag (outlier_handler.py:59-76). */
case object DropRows extends HandleStrategy

/** Detection output: `bounds` is a ONE-ROW frame of per-column lower/upper
  * bounds (broadcast-joined wherever needed — bounds never round-trip
  * through the driver), `flagged` adds `<col>_<method>_outlier` booleans +
  * `any_outlier`. */
final case class Detection(
    specs: Map[String, DetectMethod],
    bounds: DataFrame,
    flagged: DataFrame)

/** Outlier detection + handling — Spark-native counterpart of the
  * reference's m05/m06 modules.
  *
  * Scale design: bounds for every configured column aggregate to one row
  * and broadcast back across the data — the fact table itself never
  * shuffles. Exact quantiles (IQR, replacement medians) ride the
  * value-histogram path ([[graft.ops.Quantiles.contColumns]], r12) whose
  * state is one row per distinct value, not per row; a continuous column
  * has about as many distinct values as rows, though, and the ungrouped
  * cumulative window runs that histogram in one task. Only MAD's
  * deviation median still buffers (its operands are interpolation
  * results, outside the fixed-precision histogram contract).
  */
object Outliers {

  private def lowerName(c: String) = s"_gf_${c}_lo"
  private def upperName(c: String) = s"_gf_${c}_hi"
  def flagName(c: String, m: DetectMethod): String = s"${c}_${m.name}_outlier"

  /** One-row bounds frame for all configured columns, plus a second pass
    * ONLY when MAD columns are configured (the deviation median needs the
    * median first; no single-pass form exists). Every piece aggregates to
    * one row; the data never shuffles.
    *
    * Exact IQR quantiles ride the bounded value-histogram path
    * ([[graft.ops.Quantiles.contColumns]] — Spark's `percentile()`
    * interpolation replayed over distinct-value counts) instead of the
    * builtin's per-column buffer of EVERY row: identical results on the
    * fixed-precision (≤ 4-decimal) value contract, and the only state is
    * one row per distinct value — as many as rows for a continuous
    * column, in one window task (see contColumns). MAD's deviation
    * median stays on `percentile()` — deviations are interpolation
    * RESULTS, not fixed-precision data, so the histogram contract does
    * not hold for them. */
  private def boundsFrame(df: DataFrame,
                          specs: Map[String, DetectMethod]): DataFrame = {
    val sorted = specs.toSeq.sortBy(_._1)
    val iqrFrames: Seq[DataFrame] =
      sorted.collect { case (c0, Iqr(k)) =>
        graft.ops.Quantiles.contColumns(
            df.select(col(c0).cast(DoubleType).as(c0)), c0, Seq.empty,
            Seq(0.25 -> "_gf_q1", 0.75 -> "_gf_q3"))
          .select(
            (col("_gf_q1") - lit(k) * (col("_gf_q3") - col("_gf_q1")))
              .as(lowerName(c0)),
            (col("_gf_q3") + lit(k) * (col("_gf_q3") - col("_gf_q1")))
              .as(upperName(c0)))
      }
    val aggs = sorted.flatMap { case (c0, m) =>
      val c = col(c0).cast(DoubleType)
      m match {
        case Iqr(_) => Seq.empty // histogram lane above
        case ZScore(t) =>
          Seq((avg(c) - lit(t) * stddev_samp(c)).as(lowerName(c0)),
              (avg(c) + lit(t) * stddev_samp(c)).as(upperName(c0)))
        case Mad(_) =>
          Seq(percentile(c, lit(0.5)).as(s"_gf_${c0}_med"))
      }
    }
    val pieces =
      (if (aggs.nonEmpty) Seq(df.agg(aggs.head, aggs.tail: _*)) else Seq.empty) ++
        iqrFrames
    val pass1 = pieces.reduce(_.crossJoin(_))
    val madSpecs = sorted.collect { case (c0, m: Mad) => (c0, m) }
    if (madSpecs.isEmpty) pass1
    else {
      val meds = pass1.select(
        madSpecs.map { case (c0, _) => col(s"_gf_${c0}_med") }: _*)
      val madAggs = madSpecs.map { case (c0, _) =>
        val c = col(c0).cast(DoubleType)
        percentile(abs(c - col(s"_gf_${c0}_med")), lit(0.5)).as(s"_gf_${c0}_madv")
      }
      val pass2 = df.crossJoin(broadcast(meds))
        .agg(madAggs.head, madAggs.tail: _*)
      val finalCols: Seq[Column] = sorted.flatMap {
        case (c0, Mad(t)) =>
          val med = col(s"_gf_${c0}_med")
          val sc = lit(t * 1.4826) * col(s"_gf_${c0}_madv")
          Seq((med - sc).as(lowerName(c0)), (med + sc).as(upperName(c0)))
        case (c0, _) =>
          Seq(col(lowerName(c0)), col(upperName(c0)))
      }
      pass1.crossJoin(pass2).select(finalCols: _*)
    }
  }

  /** Flag outliers per configured column (detect_outliers.py:32-90).
    * Nulls are never outliers (reference dropna semantics). */
  def detect(df: DataFrame, specs: Map[String, DetectMethod]): Detection = {
    val bounds = boundsFrame(df, specs)
    var flagged = df.crossJoin(broadcast(bounds))
    val flagCols = specs.toSeq.sortBy(_._1).map { case (c0, m) =>
      val f = flagName(c0, m)
      flagged = flagged.withColumn(f,
        coalesce(col(c0) < col(lowerName(c0)) || col(c0) > col(upperName(c0)),
          lit(false)))
      f
    }
    flagged = flagged.withColumn("any_outlier",
      flagCols.map(col).reduceOption(_ || _).getOrElse(lit(false)))
    Detection(specs, bounds, flagged)
  }

  /** Bounds + outlier counts per column — the reference's `outlier_log`
    * (detect_outliers.py:62-74). Second pass over the flagged frame. */
  def log(det: Detection): DataFrame = {
    val entries = det.specs.toSeq.sortBy(_._1).map { case (c0, m) =>
      struct(
        lit(c0).as("column_name"),
        lit(m.name).as("method"),
        coalesce(sum(when(col(flagName(c0, m)), 1L)), lit(0L)).as("outlier_count"),
        graft.Num.dround(first(col(lowerName(c0))), 4).as("lower_bound"),
        graft.Num.dround(first(col(upperName(c0))), 4).as("upper_bound"))
    }
    det.flagged.agg(array(entries.toIndexedSeq: _*).as("m"))
      .select(explode(col("m")).as("e")).select("e.*")
      .orderBy("column_name")
  }

  /** Rows containing at least one outlier (reference `outlier_rows`). */
  def outlierRows(det: Detection): DataFrame =
    det.flagged.filter(col("any_outlier")).select(
      det.flagged.columns.filterNot(_.startsWith("_gf_")).toIndexedSeq.map(col): _*)

  /** Apply per-column handling strategies (outlier_handler.py:39-110).
    * Replacement means/medians are whole-column statistics computed in one
    * extra pass and broadcast back (the reference computes the same scalars
    * driver-side). Returns the cleaned frame with flag/bound columns
    * dropped. */
  def handle(det: Detection,
             strategies: Map[String, HandleStrategy]): DataFrame = {
    val base = det.flagged
    if (strategies.valuesIterator.contains(DropRows)) {
      return base.filter(!col("any_outlier"))
        .select(cleanCols(base).map(col): _*)
    }
    // Stats row for mean/median replacements, broadcast. Exact medians
    // ride the bounded-histogram percentile lane (see boundsFrame).
    val statAggs = strategies.toSeq.sortBy(_._1).flatMap {
      case (c0, ReplaceMean) =>
        Some(avg(col(c0).cast(DoubleType)).as(s"_gf_${c0}_mean"))
      case _ => None
    }
    val medFrames =
      strategies.toSeq.sortBy(_._1).collect { case (c0, ReplaceMedian) =>
        graft.ops.Quantiles.contColumns(
          base.select(col(c0).cast(DoubleType).as(c0)), c0, Seq.empty,
          Seq(0.5 -> s"_gf_${c0}_med"))
      }
    val statPieces =
      (if (statAggs.nonEmpty) Seq(base.agg(statAggs.head, statAggs.tail: _*))
       else Seq.empty) ++ medFrames
    var out =
      if (statPieces.isEmpty) base
      else base.crossJoin(broadcast(statPieces.reduce(_.crossJoin(_))))
    strategies.toSeq.sortBy(_._1).foreach { case (c0, strat) =>
      val m = det.specs(c0)
      val isOut = col(flagName(c0, m))
      strat match {
        case Clip =>
          out = out.withColumn(c0, when(isOut,
              least(greatest(col(c0), col(lowerName(c0))), col(upperName(c0))))
            .otherwise(col(c0)))
        case ReplaceMean =>
          out = out.withColumn(c0,
            when(isOut, col(s"_gf_${c0}_mean")).otherwise(col(c0)))
        case ReplaceMedian =>
          out = out.withColumn(c0,
            when(isOut, col(s"_gf_${c0}_med")).otherwise(col(c0)))
        case ReplaceConstant(v) =>
          out = out.withColumn(c0, when(isOut, lit(v)).otherwise(col(c0)))
        case DropRows => // handled above
      }
    }
    out.select(cleanCols(base).map(col): _*)
  }

  private def cleanCols(flagged: DataFrame): IndexedSeq[String] =
    flagged.columns.filterNot(c =>
      c.startsWith("_gf_") || c.endsWith("_outlier") || c == "any_outlier").toIndexedSeq

  /** Cohort-aware outlier audit: per-GROUP bounds instead of global ones
    * (a value ordinary for one segment is extreme for another — global
    * bounds under-flag heavy cohorts and over-flag light ones; the
    * [[graft.impute.Imputer.imputeBy]] complement). One grouped
    * aggregation builds every cohort's bounds (map-side combined,
    * ≤ |groups| rows), broadcast-joined back; the report is one more
    * grouped pass. Iqr and ZScore only — Mad's per-group two-pass median
    * chain is not worth the extra grouped shuffle until someone needs it
    * (refused loudly, not silently approximated).
    * Output: (group, column_name, method, n, outlier_count,
    * lower_bound, upper_bound). */
  def logBy(df: DataFrame, groupCol: String,
            specs: Map[String, DetectMethod]): DataFrame = {
    require(specs.nonEmpty, "logBy needs at least one column spec")
    specs.collect { case (c, m: Mad) => c }.headOption.foreach { c =>
      throw new IllegalArgumentException(
        s"logBy: Mad on '$c' is not supported per-group (its two-pass " +
          "median-of-deviations needs a second grouped shuffle) — use Iqr " +
          "or ZScore, or global Mad via detect()")
    }
    val sorted = specs.toSeq.sortBy(_._1)
    // exact per-group IQR quantiles ride the bounded histogram (see
    // boundsFrame); groups whose column is all-null drop out of a
    // histogram frame, so the left joins below restore them with null
    // bounds — exactly percentile()'s null result for such a group
    val iqrFrames: Seq[DataFrame] =
      sorted.collect { case (c0, Iqr(k)) =>
        graft.ops.Quantiles.contColumns(
            df.select(col(groupCol), col(c0).cast(DoubleType).as(c0)),
            c0, Seq(groupCol), Seq(0.25 -> "_gf_q1", 0.75 -> "_gf_q3"))
          .select(col(groupCol),
            (col("_gf_q1") - lit(k) * (col("_gf_q3") - col("_gf_q1")))
              .as(lowerName(c0)),
            (col("_gf_q3") + lit(k) * (col("_gf_q3") - col("_gf_q1")))
              .as(upperName(c0)))
      }
    val aggs = sorted.flatMap { case (c0, m) =>
      val c = col(c0).cast(DoubleType)
      m match {
        case Iqr(_) => Seq.empty // histogram lane above
        case ZScore(t) =>
          Seq((avg(c) - lit(t) * stddev_samp(c)).as(lowerName(c0)),
              (avg(c) + lit(t) * stddev_samp(c)).as(upperName(c0)))
        case _: Mad => Seq.empty // refused above
      }
    }
    val groupsBase =
      if (aggs.nonEmpty) df.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
      else df.select(col(groupCol)).distinct()
    val bounds = iqrFrames.foldLeft(groupsBase)(
      (acc, f) => acc.join(f, Seq(groupCol), "left"))
    val flagged = df.join(broadcast(bounds), Seq(groupCol), "left")
    val entries = sorted.map { case (c0, m) =>
      struct(
        lit(c0).as("column_name"),
        lit(m.name).as("method"),
        count(col(c0)).as("n"),
        coalesce(sum(when(
          col(c0) < col(lowerName(c0)) || col(c0) > col(upperName(c0)), 1L)),
          lit(0L)).as("outlier_count"),
        graft.Num.dround(first(col(lowerName(c0))), 4).as("lower_bound"),
        graft.Num.dround(first(col(upperName(c0))), 4).as("upper_bound"))
    }
    flagged.groupBy(col(groupCol))
      .agg(array(entries.toIndexedSeq: _*).as("_gf_m"))
      .select(col(groupCol), explode(col("_gf_m")).as("_gf_e"))
      .select(col(groupCol), col("_gf_e.column_name"), col("_gf_e.method"),
        col("_gf_e.n"), col("_gf_e.outlier_count"),
        col("_gf_e.lower_bound"), col("_gf_e.upper_bound"))
  }

  /** Cohort-aware MAD at EXACT discrete medians — the per-group Mad lane
    * [[logBy]] refuses to approximate: both medians here are DATA VALUES
    * selected by the PERCENTILE_DISC rank rule over bounded histograms
    * (the winsorize discipline), so the deviations |v − med| stay exact
    * 4-decimal decimals, the second median is again a data value, and
    * every number replays cross-engine. Differs from [[detect]]'s global
    * Mad only in median flavor (discrete, not interpolated) — the price
    * of exactness and per-group bounded state; bounds read in "robust
    * sigmas" through the same 1.4826 normality constant.
    *
    * Scale shape: two grouped histogram aggregations (each ≤ |domain|
    * rows per group through its exchange) + one broadcast join of the
    * per-group medians; the fact table never sorts.
    *
    * Output: (group, n, median, mad, lower, upper, outlier_count). */
  def madBy(df: DataFrame, groupCol: String, valueCol: String,
            threshold: Double = 3.5): DataFrame = {
    require(threshold > 0, s"threshold must be > 0, got $threshold")
    def discMed(d: DataFrame, vCol: String, out: String): DataFrame =
      graft.ops.Quantiles.cumHistogram(d, vCol, Seq(groupCol))
        .groupBy(col(groupCol))
        .agg(max("_n").as(s"${out}_n"),
          min(when(col("_cum") >= ceil(lit(0.5) * col("_n")), col("_v")))
            .as(out))
    val med = discMed(df, valueCol, "_gf_med")
    val rows = df.where(col(valueCol).isNotNull)
      .select(col(groupCol), graft.Num.dec4(col(valueCol), valueCol).as("_gf_v"))
      .join(broadcast(med), Seq(groupCol))
    val devs = rows.select(col(groupCol),
      abs(col("_gf_v") - col("_gf_med")).as("_gf_d"))
    val mad = discMed(devs, "_gf_d", "_gf_madv")
      .select(col(groupCol), col("_gf_madv"))
    val sc = lit(threshold * 1.4826)
    val bounded = rows.join(broadcast(mad), Seq(groupCol))
      .withColumn("_gf_lo",
        col("_gf_med").cast(DoubleType) - sc * col("_gf_madv").cast(DoubleType))
      .withColumn("_gf_hi",
        col("_gf_med").cast(DoubleType) + sc * col("_gf_madv").cast(DoubleType))
    bounded.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        graft.Num.dround(min(col("_gf_med")).cast(DoubleType), 4).as("median"),
        graft.Num.dround(min(col("_gf_madv")).cast(DoubleType), 4).as("mad"),
        graft.Num.dround(min(col("_gf_lo")), 4).as("lower"),
        graft.Num.dround(min(col("_gf_hi")), 4).as("upper"),
        sum(when(col("_gf_v").cast(DoubleType) < col("_gf_lo") ||
          col("_gf_v").cast(DoubleType) > col("_gf_hi"), 1L).otherwise(0L))
          .as("outlier_count"))
  }

  /** Per-group winsorization summary at EXACT discrete percentiles: the
    * bounds are the values at ranks ceil(pLo·n) / ceil(pHi·n) of the
    * group's sorted non-null values (the ANSI PERCENTILE_DISC rule,
    * selected as an explicit cumulative-count rank lookup so the
    * semantics do not depend on any engine's builtin quantile flavor —
    * a DATA VALUE, never an interpolation, so cross-engine float
    * divergence is impossible).
    * Emits per group: n, the two bounds, clip counts, and the
    * exact-decimal mean before/after clipping — the robust-scaling audit
    * (IQR clipping's percentile-parameterized sibling; heavy tails move
    * the mean, winsorized means don't).
    *
    * Scale shape: the rank lookup runs over the bounded value HISTOGRAM
    * (≤ |domain| rows per group, r12 — no corpus-row window anywhere) +
    * a broadcast-joined bounds frame; values carry ≤ 4 semantic decimals
    * (the Q.money contract) so means are exact decimals. */
  def winsorize(df: DataFrame, valueCol: String, groupCols: Seq[String],
                pLo: Double = 0.01, pHi: Double = 0.99): DataFrame = {
    require(pLo > 0 && pHi < 1 && pLo < pHi,
      s"need 0 < pLo < pHi < 1, got ($pLo, $pHi)")
    val gs = groupCols.map(col)
    val rows = df.where(col(valueCol).isNotNull)
      .select(gs :+ graft.Num.dec4(col(valueCol), valueCol).as("_v"): _*)
    // rank selection over the bounded value HISTOGRAM, not the corpus:
    // the value at rank r is the smallest distinct value whose cumulative
    // count reaches r, so the per-group sort touches ≤ |domain| rows
    // (Quantiles.cumHistogram) — identical bounds to a row_number walk,
    // without the corpus-sized window sort
    val cum = graft.ops.Quantiles.cumHistogram(
      df.where(col(valueCol).isNotNull), valueCol, groupCols)
    val bounds = cum
      .groupBy(gs: _*)
      .agg(
        max(col("_n")).as("n"),
        min(when(col("_cum") >= ceil(lit(pLo) * col("_n")), col("_v"))).as("lo"),
        min(when(col("_cum") >= ceil(lit(pHi) * col("_n")), col("_v"))).as("hi"))
    val clipped = rows.join(broadcast(bounds), groupCols)
      .withColumn("_vw", least(greatest(col("_v"), col("lo")), col("hi")))
    clipped.groupBy(gs: _*)
      .agg(
        max(col("n")).as("n"),
        graft.Num.dround(min(col("lo")).cast("double"), 4).as("lo"),
        graft.Num.dround(min(col("hi")).cast("double"), 4).as("hi"),
        sum(when(col("_v") < col("lo"), 1L).otherwise(0L)).as("n_clipped_lo"),
        sum(when(col("_v") > col("hi"), 1L).otherwise(0L)).as("n_clipped_hi"),
        // exact decimal sums, 2dp-rounded BEFORE the double cast (small
        // numerators convert identically in every engine), one divide
        graft.Num.dround(
          round(sum(col("_v")), 2).cast("double") / count(lit(1)), 4)
          .as("mean_before"),
        graft.Num.dround(
          round(sum(col("_vw")), 2).cast("double") / count(lit(1)), 4)
          .as("mean_after"))
  }
}
