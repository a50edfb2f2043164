package graft.plan

import graft.sql.Ast._

/**
 * Interval algebra over the `timestamp` field plus the backward-anchored
 * temporal bucket math (reference semantics:
 * `nsdb-core/.../statement/TimeRangeManager.scala:33-126`).
 *
 * Buckets are anchored at the query's UPPER time bound and generated
 * backwards: `(upper-len, upper], (upper-2len, upper-len], …`; the oldest
 * bucket is closed on both sides and absorbs the remainder (it may be
 * shorter than `len`). This is NOT epoch-aligned, so Spark's `window()` is
 * deliberately not used for batch temporal group-by — plain column
 * arithmetic over plan-time constants reproduces the buckets exactly and
 * stays inside whole-stage codegen.
 */
object TimeBuckets {

  /** Closed interval [lo, hi] on epoch millis. */
  final case class Span(lo: Long, hi: Long) {
    def intersect(o: Span): Option[Span] = {
      val l = math.max(lo, o.lo); val h = math.min(hi, o.hi)
      if (l <= h) Some(Span(l, h)) else None
    }
  }

  private val Full = Span(Long.MinValue, Long.MaxValue)

  /**
   * Extract the time spans constrained by a predicate on `timestampField`.
   * Comparison bounds follow the reference's integer semantics: `> v` is
   * `[v+1, ∞)`, `< v` is `(-∞, v-1]`, `IN (a,b)` is `[a, b]`.
   * Returns the list of disjoint spans (empty = unconstrained).
   */
  def extractSpans(p: Option[Predicate], tc: TimeContext, timestampField: String = "timestamp"): Seq[Span] =
    p.map(spansOf(_, tc, timestampField)).getOrElse(Seq(Full)) match {
      case spans if spans == Seq(Full) => Seq.empty
      case spans                       => normalize(spans)
    }

  private def spansOf(p: Predicate, tc: TimeContext, ts: String): Seq[Span] = p match {
    case EqPred(f, v) if f == ts =>
      longOf(v, tc).map(x => Span(x, x)).toSeq
    case CmpPred(f, op, v) if f == ts =>
      longOf(v, tc).map { x =>
        op match {
          case Gt  => Span(x + 1, Long.MaxValue)
          case Gte => Span(x, Long.MaxValue)
          case Lt  => Span(Long.MinValue, x - 1)
          case Lte => Span(Long.MinValue, x)
        }
      }.toSeq
    case RangePred(f, lo, hi) if f == ts =>
      (longOf(lo, tc), longOf(hi, tc)) match {
        case (Some(l), Some(h)) => Seq(Span(l, h))
        case _                  => Seq(Full)
      }
    case AndPred(l, r) =>
      for { a <- spansOf(l, tc, ts); b <- spansOf(r, tc, ts); i <- a.intersect(b) } yield i
    case OrPred(l, r) =>
      normalize(spansOf(l, tc, ts) ++ spansOf(r, tc, ts))
    case NotPred(inner) =>
      complement(normalize(spansOf(inner, tc, ts)))
    case _ => Seq(Full) // predicate not on the timestamp: unconstrained
  }

  /** True iff the predicate constrains ONLY the timestamp field — the
    * eligibility test for serving a temporal aggregation from a rollup
    * (any dimension/tag condition needs the raw rows). */
  def isTimeOnly(p: Predicate, timestampField: String = "timestamp"): Boolean = p match {
    case EqPred(f, _)       => f == timestampField
    case CmpPred(f, _, _)   => f == timestampField
    case RangePred(f, _, _) => f == timestampField
    case AndPred(l, r)      => isTimeOnly(l, timestampField) && isTimeOnly(r, timestampField)
    case OrPred(l, r)       => isTimeOnly(l, timestampField) && isTimeOnly(r, timestampField)
    case NotPred(i)         => isTimeOnly(i, timestampField)
    case _                  => false
  }

  private def longOf(v: CompValue, tc: TimeContext): Option[Long] = v.resolve(tc.currentTime) match {
    case l: Long   => Some(l)
    case i: Int    => Some(i.toLong)
    case d: Double => Some(d.toLong)
    case _         => None
  }

  /** Merge overlapping/adjacent spans; result sorted by lower bound. */
  private def normalize(spans: Seq[Span]): Seq[Span] =
    spans.sortBy(_.lo).foldLeft(List.empty[Span]) {
      case ((head :: tail), s) if head.hi == Long.MaxValue || s.lo <= head.hi + 1 =>
        Span(head.lo, math.max(head.hi, s.hi)) :: tail
      case (acc, s) => s :: acc
    }.reverse

  private def complement(spans: Seq[Span]): Seq[Span] = {
    val out       = Seq.newBuilder[Span]
    var cursor    = Long.MinValue
    var exhausted = false
    normalize(spans).foreach { s =>
      if (!exhausted && s.lo > cursor) out += Span(cursor, s.lo - 1)
      if (s.hi == Long.MaxValue) exhausted = true else cursor = math.max(cursor, s.hi + 1)
    }
    if (!exhausted) out += Span(cursor, Long.MaxValue)
    out.result()
  }

  /** Number of buckets covering a span. */
  def bucketCount(span: Span, len: Long): Long = {
    val width = span.hi - span.lo
    if (width <= 0) 1L else (width + len - 1) / len
  }
}
