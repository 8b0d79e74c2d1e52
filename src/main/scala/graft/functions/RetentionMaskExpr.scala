package graft.functions

import org.apache.spark.sql.{Column, GraftSqlShims}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Per-group cohort-retention state in TWO fixed-width buffer slots:
  * the group's minimum period (its cohort) and a bitmask whose bit `d`
  * records activity exactly `d` periods after that minimum. This is the
  * whole per-user information content of the retention triangle when
  * `maxOffset` ≤ 62, folded associatively — so the aggregate runs inside
  * HashAggregate with full map-side partial combine and whole-stage
  * codegen, and the one exchange carries USER-sized rows (16 bytes of
  * state), never the DISTINCT (user, period) pair relation the naive
  * shape shuffles (513M pairs at 1.28B events, the measured wall of
  * [[graft.streaming.EventStreams.retention]]'s previous form).
  *
  * Fold semantics: the buffer mask is always RELATIVE to the buffer's
  * current min. Updating with an earlier period (or merging a partial
  * with a smaller min) left-shifts the existing bits by the min delta —
  * offsets grow when the origin moves earlier. Bits shifted past 63 are
  * activity more than 63 periods after the final cohort: dropped here,
  * masked to `maxOffset` at evaluate (both are beyond the readout's
  * horizon by the ≤ 62 precondition). Shift amounts ≥ 64 are guarded
  * explicitly — Java's `<<` silently wraps the shift mod 64, which
  * would resurrect stale bits. Null periods are skipped; an all-null
  * (or empty) group evaluates to null. Result:
  * struct(cohort: long, mask: long) with mask truncated to bits
  * 0..maxOffset. */
case class RetentionMaskExpr(child: Expression, maxOffset: Int)
    extends DeclarativeAggregate with UnaryLike[Expression] {
  require(maxOffset >= 0 && maxOffset <= 62,
    s"RetentionMaskExpr supports maxOffset in [0, 62], got $maxOffset")

  override def dataType: DataType = StructType(Seq(
    StructField("cohort", LongType, nullable = false),
    StructField("mask", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "retention_mask"

  private lazy val minP =
    AttributeReference("minP", LongType, nullable = true)()
  private lazy val mask =
    AttributeReference("mask", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(minP, mask)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(null, LongType), Literal(0L))

  /** `m << sh` with the wrap guard: 0 when sh ≥ 64 (Java shifts mod 64). */
  private def shiftMask(m: Expression, sh: Expression): Expression =
    If(GreaterThanOrEqual(sh, Literal(64L)), Literal(0L),
      ShiftLeft(m, Cast(sh, IntegerType)))

  /** Combine state (m1, k1) with state (m2, k2), either side possibly
    * null-min (empty). Both masks re-based to the smaller min, then OR. */
  private def combine(m1: Expression, k1: Expression,
                      m2: Expression, k2: Expression): Seq[Expression] = {
    val newMin = Least(Seq(m1, m2)) // Least skips nulls
    val r1 = If(IsNull(m1), Literal(0L), shiftMask(k1, Subtract(m1, newMin)))
    val r2 = If(IsNull(m2), Literal(0L), shiftMask(k2, Subtract(m2, newMin)))
    Seq(newMin, BitwiseOr(r1, r2))
  }

  override lazy val updateExpressions: Seq[Expression] = {
    // a non-null input row is the single-row state (child, 1L)
    val upd = combine(minP, mask, child, Literal(1L))
    Seq(
      If(IsNull(child), minP, upd.head),
      If(IsNull(child), mask, upd(1)))
  }

  override lazy val mergeExpressions: Seq[Expression] =
    combine(minP.left, mask.left, minP.right, mask.right)

  override lazy val evaluateExpression: Expression =
    If(IsNull(minP), Literal(null, dataType),
      CreateNamedStruct(Seq(
        Literal("cohort"), minP,
        Literal("mask"),
        BitwiseAnd(mask, Literal((1L << (maxOffset + 1)) - 1L)))))

  override protected def withNewChildInternal(
      newChild: Expression): RetentionMaskExpr = copy(child = newChild)
}

object RetentionMaskExpr {
  /** `retention_mask(periodCol, maxOffset)` over a long period column. */
  def column(periodCol: Column, maxOffset: Int): Column =
    GraftSqlShims.column(
      RetentionMaskExpr(
        Cast(GraftSqlShims.expression(periodCol), LongType), maxOffset)
        .toAggregateExpression())
}
