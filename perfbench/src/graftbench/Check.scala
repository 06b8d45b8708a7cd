package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent output fingerprints. */
object Check {

  /** Floating values print to 9 significant digits, and anything below
    * 1e-9 in magnitude reads as zero, so a last-place difference in a
    * floating sum cannot change a fingerprint. */
  private def canonical(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      when(d.isNull, lit(null).cast(StringType))
        .when(abs(d) < 1e-9, lit("0"))
        .otherwise(format_string("%.9g", d))
    case ArrayType(et @ (DoubleType | FloatType), _) =>
      transform(c, x => canonical(x, et))
    case _ => c
  }

  /** `rows:hash` for each named table, where hash is the sum over rows of
    * xxhash64 of every column, mod 2^64. Equal multisets of rows give
    * equal fingerprints in any row order and partitioning. All tables are
    * hashed in one job. */
  def fingerprints(tables: Seq[(String, DataFrame)]): Seq[(String, String)] = {
    val hashed = tables.map { case (name, df) =>
      val cols = df.schema.fields.toSeq.map(f => canonical(col(s"`${f.name}`"), f.dataType))
      val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
      df.select(lit(name).as("t"), h.cast(DecimalType(20, 0)).as("h"))
    }
    val got = hashed.reduce(_ unionByName _).groupBy("t")
      .agg(count(lit(1)), sum(col("h"))).collect()
      .map(r => r.getString(0) -> f"${r.getLong(1)}:${BigInt(r.getDecimal(2).toBigInteger)
        .mod(BigInt(2).pow(64)).toLong}%016x").toMap
    tables.map { case (name, _) => name -> got.getOrElse(name, "0:0000000000000000") }
  }

  def fingerprint(df: DataFrame): String = fingerprints(Seq("t" -> df)).head._2
}
