package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.ColumnGlue
import org.apache.spark.sql.types._

/** Numeric helpers shared across modules. */
object Num {
  /** Cross-engine-deterministic rounding of a computed DOUBLE:
    * `floor(x·10ⁿ + 0.5)/10ⁿ` — each step is one IEEE op every engine
    * executes identically. `round(double, n)` is NOT portable across
    * engines (Spark rounds the exact binary value, DuckDB's multiply can
    * manufacture an exact tie); see graft.queries.Q.dround. */
  def dround(c: Column, n: Int): Column = {
    val f = math.pow(10, n)
    floor(c * f + lit(0.5)) / f
  }

  /** The histogram backbone's value contract, enforced loudly: cast to
    * DECIMAL(18,4) — values are QUANTIZED at 4 decimal places (the
    * documented fixed-precision contract of the exact-quantile /
    * outlier-bound family; >4-dp inputs round half-up to the grid) —
    * and a magnitude that overflows DECIMAL(18,4) (|v| ≥ 1e14) REFUSES
    * with a named error instead of ANSI's anonymous throw or non-ANSI's
    * silent NULL (a silently nulled histogram row would still shift
    * cumulative ranks and skew every downstream quantile). */
  def dec4(c: Column, label: String): Column = {
    val cast = c.try_cast("decimal(18,4)")
    when(c.isNotNull && cast.isNull, raise_error(concat(
      lit(s"graft: '$label' overflows DECIMAL(18,4) (|v| >= 1e14): "),
      c.cast("string")))).otherwise(cast)
  }

  /** Exact, layout-independent sum of grid-quantized doubles — graft's one
    * exact accumulator. Each value quantizes to the integer grid
    * `q = floor(x·scale + 0.5)` (a long), the q's sum exactly in [[QSum]],
    * and the result is the nearest double of the integer total ΣQ divided
    * by `scale`. Integer addition is exact and commutative, so the result
    * is independent of partition layout and shuffle merge order. The
    * aggregation buffer is two plain longs, which keeps it on the codegen
    * hash-aggregate path; a DECIMAL(38,0) buffer boxes a BigDecimal per row
    * (measured: +4 s on text_ft_train_score at 32c in r14).
    *
    * Any number of rows is exact. The total must satisfy |ΣQ| < 2⁸⁴, the
    * range in which the recompose rounds ΣQ to the nearest double in one
    * IEEE add (ΣQ = −2⁸⁴ is also accepted); past it the sum refuses with
    * the named error [[Overflow]], under ANSI and non-ANSI alike, instead
    * of returning a wrong value. Null inputs are skipped; an all-null or
    * empty group yields null, like sum(). */
  def qsum(x: Column, scale: Column): Column =
    ColumnGlue.column(QSum(ColumnGlue.expression(floor(x * scale + lit(0.5)).cast("long")))
      .toAggregateExpression()) / scale

  /** Exact, layout-independent mean of grid-quantized doubles: [[qsum]]
    * over count of non-null values. The drop-in hardening for a raw
    * `avg(double)` whose partition-merge order must not leak into the
    * result (Lloyd centroid updates, residual offsets): values land on
    * the 1/scale grid, so the mean is deterministic under any scan split
    * or shuffle geometry. */
  def qmean(x: Column, scale: Column): Column = qsum(x, scale) / count(x)

  /** Entity-key coercion, enforced loudly: a non-null key that does not
    * cast to BIGINT refuses with a named error — a silently nulled key
    * would merge every malformed id into ONE pseudo-entity and corrupt
    * per-entity statistics (lifetimes, CUPED arms) instead of failing. */
  def longKey(c: Column, label: String): Column = {
    val cast = c.try_cast("bigint")
    // Round-trip guard: a fractional numeric TRUNCATES under a bigint
    // cast (12.7 → 12), silently merging distinct malformed keys into one
    // pseudo-entity — the exact failure this guard exists to refuse. The
    // comparison side uses try_cast so a non-numeric string stays on the
    // cast.isNull branch instead of throwing an anonymous ANSI error.
    when(c.isNotNull &&
      (cast.isNull || cast.cast("double") =!= c.try_cast("double")),
      raise_error(concat(
        lit(s"graft: '$label' is not a BIGINT-coercible entity key: "),
        c.cast("string")))).otherwise(cast)
  }

  /** The limb layout of the exact accumulator: ΣQ = hi·2³¹ + lo with
    * 0 ≤ lo < 2³¹, carried on every add so no row count can overflow `lo`.
    * |ΣQ| < 2⁸⁴ ⇔ −2⁵³ ≤ hi < 2⁵³ (hi is then an exact double). A partial
    * |hi| of 2⁶² refuses before a further add could wrap the long: one
    * row adds less than 2³³ to |hi|. */
  private final val LoBits = 31
  private final val LoMask = (1L << LoBits) - 1
  private final val HiBound = 1L << 53
  private final val HiGuard = 1L << 62

  private[graft] val Overflow =
    "graft: exact sum out of range (|sum of quantized values| >= 2^84); coarsen the qsum grid"

  /** Adds `x` on the grid `scale` to the limb pair at `b(p)`, `b(p + 1)`:
    * the typed-aggregator form of [[QSum]]'s update. */
  private[graft] def qadd(b: Array[Long], p: Int, x: Double, scale: Double): Unit = {
    val q = math.floor(x * scale + 0.5).toLong
    carry(b, p, b(p) + (q >> LoBits), b(p + 1) + (q & LoMask))
  }

  /** Adds the limb pair at `b(p)` into the one at `a(p)`: [[QSum]]'s merge. */
  private[graft] def qmerge(a: Array[Long], b: Array[Long], p: Int): Unit =
    carry(a, p, a(p) + b(p), a(p + 1) + b(p + 1))

  private def carry(b: Array[Long], p: Int, hi: Long, lo: Long): Unit = {
    val h = hi + (lo >> LoBits)
    if (h >= HiGuard || h <= -HiGuard) throw new ArithmeticException(Overflow)
    b(p) = h
    b(p + 1) = lo & LoMask
  }

  /** The limb pair at `b(p)` as a sum on the grid `scale`: [[QSum]]'s
    * recompose, then the division by `scale`. */
  private[graft] def qtotal(b: Array[Long], p: Int, scale: Double): Double = {
    if (b(p) >= HiBound || b(p) < -HiBound) throw new ArithmeticException(Overflow)
    (b(p).toDouble * (1L << LoBits) + b(p + 1).toDouble) / scale
  }

  /** The exact sum of a BIGINT column as one (hi, lo) limb pair — see the
    * layout above. `hi` is null until the first non-null input. Evaluates
    * to the nearest double of ΣQ. */
  private[graft] final case class QSum(child: Expression) extends DeclarativeAggregate
      with UnaryLike[Expression] {
    import org.apache.spark.sql.catalyst.dsl.expressions._
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true

    private lazy val hi = AttributeReference("hi", LongType)()
    private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
    override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo)
    override lazy val initialValues: Seq[Expression] = Seq(Literal(null, LongType), Literal(0L))
    override lazy val updateExpressions: Seq[Expression] = carried(
      Coalesce(Seq(hi, Literal(0L))) + ShiftRight(child, Literal(LoBits)),
      lo + (Coalesce(Seq(child, Literal(0L))) & Literal(LoMask)), hi)
    override lazy val mergeExpressions: Seq[Expression] =
      carried(Coalesce(Seq(hi.left, Literal(0L))) + hi.right, lo.left + lo.right, hi.left)
    override lazy val evaluateExpression: Expression =
      If(hi >= Literal(HiBound) || hi < Literal(-HiBound), refuse(DoubleType),
        hi.cast(DoubleType) * Literal((1L << LoBits).toDouble) + lo.cast(DoubleType))

    /** The carry of [[Num.carry]]. A null input or an empty right-hand
      * buffer leaves `h` null (keep `hi`) and adds 0 to `lo`. */
    private def carried(h: Expression, l: Expression, keep: Expression): Seq[Expression] = {
      val c = h + ShiftRight(l, Literal(LoBits))
      Seq(Coalesce(Seq(If(c >= Literal(HiGuard) || c <= Literal(-HiGuard), refuse(LongType), c), keep)),
        l & Literal(LoMask))
    }
    private def refuse(t: DataType): Expression = RaiseError(Literal("USER_RAISED_EXCEPTION"),
      CreateMap(Seq(Literal("errorMessage"), Literal(Overflow))), t)

    override protected def withNewChildInternal(c: Expression): QSum = copy(child = c)
  }
}
