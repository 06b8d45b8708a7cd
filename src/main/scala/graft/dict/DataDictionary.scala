package graft.dict

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data-dictionary builder — Spark-native counterpart of the reference's
  * `m00_utils/data_dictionary_builder.py` (semantic typing at :55-77,
  * examples at :80-96).
  *
  * Semantic type combines static signals (column name, Spark dtype) with
  * the reference's data-dependent categorical heuristic
  * `distinct <= min(20, max(5, non_null/2))`. Counts and examples of all
  * columns fold into ONE aggregation pass; exact distincts take one more,
  * keyed pass over (column, value) pairs
  * ([[graft.profile.Profiler.exactDistincts]]). Examples are (min, max) —
  * deterministic, O(1) state — instead of pandas "first N seen" which has
  * no distributed meaning.
  */
object DataDictionary {

  private def staticType(f: StructField): Option[String] = {
    val n = f.name.toLowerCase
    if (n == "id" || n.endsWith("_id") || n.endsWith("key")) Some("identifier")
    else f.dataType match {
      case BooleanType => Some("boolean")
      case _: TimestampType | DateType | TimestampNTZType => Some("datetime")
      case _: IntegerType | LongType | ShortType | ByteType => Some("integer")
      case _: DoubleType | FloatType | _: DecimalType => Some("numeric")
      case StringType => None // data-dependent: categorical vs text
      case other => Some(other.simpleString)
    }
  }

  /** One row per column: semantic type, dtype, distinct/null counts,
    * min/max example values. */
  def build(df: DataFrame): DataFrame =
    graft.profile.Profiler.perColumn(df, exact = true) { f =>
      val c = col(f.name)
      Seq(
        lit(f.name).as("column_name"),
        lit(staticType(f).orNull).cast(StringType).as("_gf_static"),
        lit(f.dataType.simpleString).as("dtype"),
        count(c).as("_gf_non_null"),
        (count(lit(1)) - count(c)).cast(LongType).as("null_count"),
        min(c).cast(StringType).as("example_min"),
        max(c).cast(StringType).as("example_max"))
    }.select(
      col("column_name"),
      coalesce(col("_gf_static"),
        when(col("distinct_count").cast(DoubleType) <=
            least(lit(20.0), greatest(lit(5.0), floor(col("_gf_non_null") / lit(2.0)))),
          lit("categorical")).otherwise(lit("text"))).as("semantic_type"),
      col("dtype"), col("distinct_count"), col("null_count"),
      col("example_min"), col("example_max"))
      .orderBy("column_name")
}
