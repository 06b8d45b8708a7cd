package graft.impute

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Imputation strategy per column (impute_data.py:39-95). */
sealed trait ImputeStrategy
case object Mean extends ImputeStrategy
case object Median extends ImputeStrategy
/** Most frequent value; ties broken by smallest value (pandas mode() sorts,
  * reference takes .iloc[0] — same deterministic choice). */
case object Mode extends ImputeStrategy
final case class Constant(value: String) extends ImputeStrategy

/** Column-wise imputation — Spark-native counterpart of the reference's
  * `m07_imputation/impute_data.py`.
  *
  * Scale design: all mean/median fill values come from ONE aggregation
  * pass; each mode needs its own tiny keyed reduction (top-1 of a
  * group-count). Fill values are broadcast back via a 1-row crossJoin —
  * nothing is collected to the driver, the fact table never shuffles.
  * Means accumulate in exact DECIMAL so the fill value is bit-identical
  * across engines and partitionings.
  */
object Imputer {

  private def statName(c: String) = s"_gf_${c}_fill"

  private def statAgg(c: String, s: ImputeStrategy): Option[Column] = s match {
    case Mean =>
      val d = col(c).cast(DecimalType(30, 6))
      Some((sum(d).cast(DoubleType) / count(col(c))).as(statName(c)))
    case Median =>
      Some(percentile(col(c).cast(DoubleType), lit(0.5)).as(statName(c)))
    case _ => None
  }

  /** 1-row frame holding every fill value (mode columns join in via their
    * own top-1 reductions). */
  private def statsFrame(df: DataFrame,
                         strategies: Map[String, ImputeStrategy]): Option[DataFrame] = {
    val aggs = strategies.toSeq.sortBy(_._1)
      .flatMap { case (c, s) => statAgg(c, s) }
    val base = if (aggs.nonEmpty) Some(df.agg(aggs.head, aggs.tail: _*)) else None
    val modes = strategies.toSeq.sortBy(_._1).collect { case (c, Mode) =>
      // Final .agg(first) guarantees exactly ONE row even when the column
      // is entirely null (an empty top-1 frame would otherwise crossJoin
      // the whole dataset away).
      df.filter(col(c).isNotNull)
        .groupBy(col(c)).agg(count(lit(1)).as("_gf_cnt"))
        .orderBy(col("_gf_cnt").desc, col(c))
        .limit(1)
        .agg(first(col(c)).as(statName(c)))
    }
    (base.toSeq ++ modes).reduceOption(_.crossJoin(_))
  }

  /** Fill nulls per configured strategy; non-configured columns untouched.
    * Numeric columns filled with mean/median widen to double (Spark's
    * least-common-type rule — pandas upcasts the same way). */
  def impute(df: DataFrame, strategies: Map[String, ImputeStrategy]): DataFrame = {
    val present = strategies.filter { case (c, _) => df.columns.contains(c) }
    statsFrame(df, present) match {
      case None =>
        // constants only
        present.foldLeft(df) {
          case (acc, (c, Constant(v))) =>
            acc.withColumn(c, coalesce(col(c), lit(v).cast(df.schema(c).dataType)))
          case (acc, _) => acc
        }
      case Some(stats) =>
        var out = df.crossJoin(broadcast(stats))
        present.toSeq.sortBy(_._1).foreach {
          case (c, Constant(v)) =>
            out = out.withColumn(c, coalesce(col(c), lit(v).cast(df.schema(c).dataType)))
          case (c, _) =>
            out = out.withColumn(c, coalesce(col(c), col(statName(c))))
        }
        out.select(df.columns.toIndexedSeq.map(col): _*)
    }
  }

  /** Grouped imputation: fill values computed PER GROUP (cohort-aware
    * fills — a per-segment mean moves far less probability mass than the
    * global one when cohorts differ). Semantics follow pandas
    * groupby().transform(...): a group whose column is entirely null
    * keeps its nulls (no silent fallback to the global statistic), and
    * rows with a NULL group key match no group and keep theirs too.
    *
    * Scale shape: ONE grouped aggregation per strategy family (map-side
    * combined, ≤ |groups| rows) broadcast-joined back — rows never
    * shuffle; Mode's per-group top-1 is a map-side `min_by` argmax
    * ((count desc, value asc) tie-break), never a window. */
  def imputeBy(df: DataFrame, groupCol: String,
               strategies: Map[String, ImputeStrategy]): DataFrame = {
    require(df.columns.contains(groupCol),
      s"imputeBy group column '$groupCol' not in ${df.columns.mkString(", ")}")
    val present = strategies.filter {
      case (c, _) => df.columns.contains(c) && c != groupCol
    }
    val aggs = present.toSeq.sortBy(_._1)
      .flatMap { case (c, s) => statAgg(c, s) }
    var out = df
    if (aggs.nonEmpty) {
      val stats = df.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
      out = out.join(broadcast(stats), Seq(groupCol), "left")
    }
    present.toSeq.sortBy(_._1).collect { case (c, Mode) =>
      val mode = df.filter(col(c).isNotNull)
        .groupBy(col(groupCol), col(c)).agg(count(lit(1)).as("_gf_cnt"))
        .groupBy(col(groupCol))
        .agg(min_by(col(c), struct((-col("_gf_cnt")).as("_gf_n"), col(c)))
          .as(statName(c)))
      mode
    }.foreach { m => out = out.join(broadcast(m), Seq(groupCol), "left") }
    present.toSeq.sortBy(_._1).foreach {
      case (c, Constant(v)) =>
        out = out.withColumn(c, coalesce(col(c), lit(v).cast(df.schema(c).dataType)))
      case (c, _) =>
        out = out.withColumn(c, coalesce(col(c), col(statName(c))))
    }
    out.select(df.columns.toIndexedSeq.map(col): _*)
  }

  /** Changelog — (column_name, strategy, fill_value, nulls_filled), the
    * reference's change_log_rows (impute_data.py:78-90). One extra
    * null-count pass; fill values ride the same stats frame. */
  def changelog(df: DataFrame,
                strategies: Map[String, ImputeStrategy]): DataFrame = {
    val present = strategies.filter { case (c, _) => df.columns.contains(c) }.toSeq.sortBy(_._1)
    val nullAggs = present.map { case (c, _) =>
      (count(lit(1)) - count(col(c))).cast(LongType).as(s"_gf_${c}_nulls")
    }
    val nulls = df.agg(nullAggs.head, nullAggs.tail: _*)
    val withStats = statsFrame(df, present.toMap)
      .map(nulls.crossJoin(_)).getOrElse(nulls)
    val entries = present.map { case (c, s) =>
      val strategyName = s match {
        case Mean => "mean"; case Median => "median"; case Mode => "mode"
        case Constant(_) => "constant"
      }
      val fill: Column = s match {
        case Constant(v) => lit(v)
        case Mean | Median => graft.Num.dround(col(statName(c)), 4).cast("string")
        case Mode => col(statName(c)).cast("string")
      }
      struct(
        lit(c).as("column_name"),
        lit(strategyName).as("strategy"),
        fill.as("fill_value"),
        col(s"_gf_${c}_nulls").as("nulls_filled"))
    }
    withStats.select(explode(array(entries.toIndexedSeq: _*)).as("e")).select("e.*")
      .orderBy("column_name")
  }
}
