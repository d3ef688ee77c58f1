package graft.core

import java.time.ZoneOffset
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types.{DoubleType, LongType, TimestampNTZType, TimestampType}

/** Push time-range predicates into the parquet scan for the nanos-backed
  * events store (guide §6: "PushedFilters should contain your predicates —
  * filters applied to derived columns do not push down").
  *
  * The canonical `ts` (epoch ms) is DERIVED from the file's int64 NANOS
  * column (`ts div 1000000`, Samples.tsMs), so every grid/window range
  * filter reached the scan as `(ts#nanos div 1000000) > c` — not
  * convertible to a parquet filter, evaluated post-scan on every row of
  * every row group. This rule adds the IMPLIED bound on the RAW column
  * next to each such comparison; the raw bound is a plain
  * attribute-vs-literal predicate, so FileSourceStrategy pushes it into
  * PushedFilters (row-group/page skipping via parquet min-max stats),
  * while the original predicate stays and keeps the semantics exact.
  *
  * Soundness (K > 0, trunc-toward-zero `div`, any sign of a):
  *   a div K >  c  ⟹  a > c*K
  *   a div K >= c  ⟹  a > (c-1)*K
  *   a div K <  c  ⟹  a < c*K
  *   a div K <= c  ⟹  a < (c+1)*K
  *   a div K ==dc  ⟹  both bounds
  * The added conjunct is implied by the original, so the filter's result
  * set is unchanged on every input (including nulls: null AND null-pred
  * still drops the row). Idempotent: derived bounds contain no `div`, so
  * a second application adds nothing (safe under a fixed-point batch).
  */
object TsPushdown extends Rule[LogicalPlan] with PredicateHelper {

  /** `a div K` over a raw int64 column (the nanos representation) —
    * exact trunc division, no slack needed.
    */
  private object DivBy {
    def unapply(e: Expression): Option[(Attribute, Long)] = e match {
      case d: IntegralDivide => (d.left, d.right) match {
        case (a: Attribute, Literal(k: Long, LongType))
            if k > 0 && a.dataType == LongType => Some((a, k))
        case _ => None
      }
      case _ => None
    }
  }

  /** Samples.tsMs's TIMESTAMP form:
    * `cast(unix_micros(ts | cast(ts_ntz as timestamp)) / 1000.0 as bigint)`
    * — micros/1000.0 rounds in double, so the computed ms can sit one off
    * the exact trunc division near boundaries; [[implied]] widens every
    * bound by one extra unit of K to absorb it. A TIMESTAMP attribute's
    * micros are timezone-free (identity under unix_micros); the NTZ→TZ
    * cast reads wall time in its zone: it keeps micros, and is matched,
    * only in a zone that is UTC under any name (`UTC`, `Etc/UTC`, `Z`).
    */
  private object MsOfTimestamp {
    def unapply(e: Expression): Option[Attribute] = e match {
      case Cast(Divide(Cast(um: UnixMicros, DoubleType, _, _),
          Literal(1000.0, DoubleType), _), LongType, _, _) =>
        um.child match {
          case a: Attribute if a.dataType == TimestampType => Some(a)
          case Cast(a: Attribute, TimestampType, zone, _) if a.dataType == TimestampNTZType &&
              DateTimeUtils.getZoneId(zone.getOrElse(conf.sessionLocalTimeZone))
                .normalized() == ZoneOffset.UTC => Some(a)
          case _ => None
        }
      case _ => None
    }
  }

  private def mulExact(c: Long, k: Long): Option[Long] =
    try Some(Math.multiplyExact(c, k)) catch { case _: ArithmeticException => None }

  private def tsLit(a: Attribute, micros: Long): Literal = Literal(micros, a.dataType)

  private def gt(a: Attribute, c: Long, k: Long): Option[Expression] =
    mulExact(c, k).map(b =>
      if (a.dataType == LongType) GreaterThan(a, Literal(b, LongType))
      else GreaterThan(a, tsLit(a, b)))
  private def lt(a: Attribute, c: Long, k: Long): Option[Expression] =
    mulExact(c, k).map(b =>
      if (a.dataType == LongType) LessThan(a, Literal(b, LongType))
      else LessThan(a, tsLit(a, b)))

  /** (attr, K, slack): the derived-ms expression, its divisor, and the
    * bound-widening (in units of K) its evaluation noise needs
    */
  private object MsExpr {
    def unapply(e: Expression): Option[(Attribute, Long, Long)] = e match {
      case DivBy(a, k) => Some((a, k, 0L))
      case MsOfTimestamp(a) => Some((a, 1000L, 1L))
      case _ => None
    }
  }

  /** the implied raw-column bound(s) for one conjunct, if any */
  private def implied(p: Expression): Seq[Expression] = p match {
    case GreaterThan(MsExpr(a, k, s), Literal(c: Long, LongType)) => gt(a, c - s, k).toSeq
    case GreaterThanOrEqual(MsExpr(a, k, s), Literal(c: Long, LongType)) => gt(a, c - 1 - s, k).toSeq
    case LessThan(MsExpr(a, k, s), Literal(c: Long, LongType)) => lt(a, c + s, k).toSeq
    case LessThanOrEqual(MsExpr(a, k, s), Literal(c: Long, LongType)) => lt(a, c + 1 + s, k).toSeq
    case EqualTo(MsExpr(a, k, s), Literal(c: Long, LongType)) =>
      gt(a, c - 1 - s, k).toSeq ++ lt(a, c + 1 + s, k).toSeq
    // literal-on-the-left mirrors
    case GreaterThan(Literal(c: Long, LongType), MsExpr(a, k, s)) => lt(a, c + s, k).toSeq
    case GreaterThanOrEqual(Literal(c: Long, LongType), MsExpr(a, k, s)) => lt(a, c + 1 + s, k).toSeq
    case LessThan(Literal(c: Long, LongType), MsExpr(a, k, s)) => gt(a, c - s, k).toSeq
    case LessThanOrEqual(Literal(c: Long, LongType), MsExpr(a, k, s)) => gt(a, c - 1 - s, k).toSeq
    case _ => Nil
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transform {
      case f @ Filter(cond, child) =>
        val conjuncts = splitConjunctivePredicates(cond)
        val extra = conjuncts.flatMap(implied)
          .filterNot(e => conjuncts.exists(_.semanticEquals(e)))
          .distinct
        if (extra.isEmpty) f
        else Filter((conjuncts ++ extra).reduce(And), child)
    }

  /** session-idempotent install into the user optimizer batch */
  def install(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraOptimizations.contains(TsPushdown))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ TsPushdown
  }
}
