package graft.plan

import graft.model.MetricSchema
import graft.sql.Ast._

/** One consistent "now" per query; injected so NOW-relative predicates are deterministic. */
final case class TimeContext(currentTime: Long)

/** Validation error messages (wording kept compatible with the reference,
  * `nsdb-core/.../statement/StatementParserErrors.scala`). */
object PlanErrors {
  val NoAggregationGroupBy  = "cannot execute a group by query without an aggregation"
  val MoreFieldsGroupBy     = "cannot execute a group by query with more than one aggregated field"
  val MoreFieldsDistinct    = "cannot execute a select distinct projecting more than one field"
  val NoGroupByAggregation  = "cannot execute a query with a non global aggregation without a group by field"
  val GroupByDistinct       = "cannot execute a query with a group by and a distinct clause"
  val GroupByNotOnTag       = "cannot execute a group by query grouping by a field that is not a tag"
  val AggregationNotAllowed =
    "count and count distinct aggregations can be applied to the value and to a tag; other aggregations only to the value"
  val MultipleCountAggregations = "only one count and one count distinct are allowed"
  val SortFieldNotInGroup       = "cannot sort group by query result by a field not in group by clause"
  val GracePeriodNotAllowed     = "grace period clause is allowed only in temporal group by queries"
  def unknownField(f: String)          = s"field $f does not exist"
  def unknownFields(fs: Seq[String])   = s"field [${fs.mkString(",")}] does not exist"
  def nonNumericComparison(op: String) = s"cannot use $op operator on a non numeric field"
}

/** Physical plan kinds — the executable shapes a select statement can compile to. */
sealed trait PlannedQuery
object PlannedQuery {
  /** Plain scan: filter + projection (+ optional single-field distinct). */
  final case class Simple(
      fields: List[ProjField], // empty = all columns
      distinct: Boolean,
      where: Option[Predicate],
      order: Option[OrderBy],
      limit: Option[Int]
  ) extends PlannedQuery

  /** Global aggregation (no GROUP BY), optionally mixed with plain fields. */
  final case class GlobalAgg(
      plainFields: List[ProjField],
      aggs: List[Agg],
      where: Option[Predicate],
      order: Option[OrderBy],
      limit: Option[Int]
  ) extends PlannedQuery

  /** GROUP BY tag with a single aggregation. */
  final case class TagAgg(
      tag: String,
      agg: Agg,
      where: Option[Predicate],
      order: Option[OrderBy],
      limit: Option[Int]
  ) extends PlannedQuery

  /** GROUP BY INTERVAL: tumbling buckets anchored at the query upper bound. */
  final case class TemporalAgg(
      intervalMs: Long,
      agg: Agg,
      where: Option[Predicate],
      graceMs: Option[Long],
      order: Option[OrderBy],
      limit: Option[Int]
  ) extends PlannedQuery

  final case class Delete(where: Predicate) extends PlannedQuery
}

object Planner {
  import PlannedQuery._

  def plan(stmt: DeleteStatement, schema: MetricSchema): Either[String, PlannedQuery] =
    validatePredicate(stmt.where, schema).map(_ => Delete(stmt.where))

  def plan(stmt: SelectStatement, schema: MetricSchema): Either[String, PlannedQuery] =
    for {
      _      <- stmt.where.map(w => validatePredicate(w, schema)).getOrElse(Right(()))
      fields <- parseFields(stmt.projection, schema)
      _      <- validateGrace(stmt)
      _      <- validateOrderField(stmt, schema)
      plan   <- choosePlan(stmt, fields, schema)
    } yield plan

  // ---- field-list validation (reference: FieldsParser.parseFieldList) ----

  private def parseFields(proj: Projection, schema: MetricSchema): Either[String, List[ProjField]] =
    proj match {
      case StarProjection => Right(Nil)
      case FieldsProjection(list) =>
        val aggNotAllowed = list.exists { f =>
          val onTagCount = f.agg.exists {
            case _: CountAgg | _: CountDistinctAgg => schema.tags.contains(f.name)
            case _                                 => false
          }
          f.agg.isDefined && f.name != "value" && f.name != "*" && !onTagCount
        }
        val counts         = list.flatMap(_.agg).count(_.isInstanceOf[CountAgg])
        val countDistincts = list.flatMap(_.agg).count(_.isInstanceOf[CountDistinctAgg])
        if (aggNotAllowed) Left(PlanErrors.AggregationNotAllowed)
        else if (counts > 1 || countDistincts > 1) Left(PlanErrors.MultipleCountAggregations)
        else {
          val missing = list.map(_.name).filterNot(n => n == "*" || schema.contains(n))
          if (missing.nonEmpty) Left(PlanErrors.unknownFields(missing))
          else Right(list)
        }
    }

  // ---- predicate validation ----------------------------------------------

  private def validatePredicate(p: Predicate, schema: MetricSchema): Either[String, Unit] = p match {
    case EqPred(f, _)   => requireField(f, schema)
    case LikePred(f, _) => requireField(f, schema) // varchar-only in the reference
    case NullPred(f)    => requireField(f, schema)
    case CmpPred(f, op, _) =>
      requireField(f, schema).flatMap { _ =>
        if (schema.isNumeric(f)) Right(()) else Left(PlanErrors.nonNumericComparison(op.sql))
      }
    case RangePred(f, _, _) =>
      requireField(f, schema).flatMap { _ =>
        if (schema.isNumeric(f)) Right(()) else Left(PlanErrors.nonNumericComparison("in"))
      }
    case NotPred(inner) => validatePredicate(inner, schema)
    case AndPred(l, r)  => validatePredicate(l, schema).flatMap(_ => validatePredicate(r, schema))
    case OrPred(l, r)   => validatePredicate(l, schema).flatMap(_ => validatePredicate(r, schema))
  }

  private def requireField(f: String, schema: MetricSchema): Either[String, Unit] =
    if (schema.contains(f)) Right(()) else Left(PlanErrors.unknownField(f))

  // ---- clause validations -------------------------------------------------

  private def validateGrace(stmt: SelectStatement): Either[String, Unit] =
    (stmt.groupBy, stmt.grace) match {
      case (Some(_: IntervalGroupBy), _) => Right(())
      case (_, Some(_))                  => Left(PlanErrors.GracePeriodNotAllowed)
      case _                             => Right(())
    }

  private def validateOrderField(stmt: SelectStatement, schema: MetricSchema): Either[String, Unit] =
    stmt.order match {
      case None => Right(())
      case Some(OrderBy(f, _)) =>
        stmt.groupBy match {
          case Some(g) if !Seq("value", "*", g.field).contains(f) =>
            Left(PlanErrors.SortFieldNotInGroup)
          case _ =>
            if (f == "*" || schema.contains(f)) Right(()) else Left(PlanErrors.unknownField(f))
        }
    }

  // ---- plan selection (reference: StatementParser.parseStatement) ---------

  private def choosePlan(
      stmt: SelectStatement,
      fields: List[ProjField],
      schema: MetricSchema
  ): Either[String, PlannedQuery] =
    (stmt.groupBy, fields) match {
      case (Some(_), list) if list.forall(_.agg.isEmpty) =>
        Left(PlanErrors.NoAggregationGroupBy)
      case (Some(_), list) if list.size > 1 =>
        Left(PlanErrors.MoreFieldsGroupBy)
      case (Some(_), _) if stmt.distinct =>
        Left(PlanErrors.GroupByDistinct)
      case (Some(g: TagGroupBy), _) if !schema.tags.contains(g.field) =>
        Left(PlanErrors.GroupByNotOnTag)
      case (Some(g: TagGroupBy), List(ProjField(_, Some(agg)))) =>
        Right(TagAgg(g.field, agg, stmt.where, stmt.order, stmt.limit))
      case (Some(g: IntervalGroupBy), List(ProjField(_, Some(agg)))) =>
        Right(TemporalAgg(g.intervalMs, agg, stmt.where, stmt.grace.map(_.millis), stmt.order, stmt.limit))
      case (None, list) if list.exists(_.agg.exists(!_.global)) =>
        Left(PlanErrors.NoGroupByAggregation)
      case (None, Nil) if stmt.distinct =>
        Left(PlanErrors.MoreFieldsDistinct)
      case (None, list) if stmt.distinct && list.size > 1 =>
        Left(PlanErrors.MoreFieldsDistinct)
      case (None, list) if list.exists(_.agg.exists(_.global)) =>
        val (aggFields, plain) = list.partition(_.agg.isDefined)
        Right(GlobalAgg(plain, aggFields.flatMap(_.agg).distinct, stmt.where, stmt.order, stmt.limit))
      case (None, list) =>
        Right(Simple(list, stmt.distinct, stmt.where, stmt.order, stmt.limit))
      case _ =>
        // unreachable: group-by cases above are logically exhaustive
        Left(PlanErrors.NoAggregationGroupBy)
    }
}
