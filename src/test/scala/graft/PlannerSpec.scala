package graft

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import org.apache.spark.sql.types._

import graft.model.{FieldClass, MetricField, MetricSchema}
import graft.plan.{PlanErrors, PlannedQuery, Planner, TimeBuckets, TimeContext}
import graft.plan.TimeBuckets.Span
import graft.sql.Ast._
import graft.sql.SqlParser

/** Planner specs: statement + schema → plan kind or exact error
  * (mirrors the reference's StatementParserSpec altitude). */
class PlannerSpec extends AnyFlatSpec with Matchers {

  private val schema = MetricSchema(Map(
    "timestamp" -> MetricField("timestamp", LongType, FieldClass.Timestamp),
    "value"     -> MetricField("value", DoubleType, FieldClass.Value),
    "name"      -> MetricField("name", StringType, FieldClass.Dimension),
    "age"       -> MetricField("age", LongType, FieldClass.Tag),
    "country"   -> MetricField("country", StringType, FieldClass.Tag)
  ))

  private def planOf(q: String): Either[String, PlannedQuery] =
    SqlParser.parse("db", "ns", q) match {
      case Right(s: SelectStatement) => Planner.plan(s, schema)
      case other                     => fail(s"parse failed: $other")
    }

  "Planner" should "plan a simple query" in {
    planOf("select * from m where value > 1 limit 5") match {
      case Right(p: PlannedQuery.Simple) =>
        p.fields shouldBe Nil
        p.limit shouldBe Some(5)
      case other => fail(other.toString)
    }
  }

  it should "plan group by tag aggregations" in {
    planOf("select sum(value) from m group by age") match {
      case Right(p: PlannedQuery.TagAgg) =>
        p.tag shouldBe "age"
        p.agg shouldBe SumAgg("value")
      case other => fail(other.toString)
    }
  }

  it should "plan temporal aggregations" in {
    planOf("select count(*) from m group by interval 30 s") match {
      case Right(p: PlannedQuery.TemporalAgg) => p.intervalMs shouldBe 30000L
      case other                              => fail(other.toString)
    }
  }

  it should "plan global aggregations with plain fields" in {
    planOf("select name, count(*) from m") match {
      case Right(p: PlannedQuery.GlobalAgg) =>
        p.plainFields.map(_.name) shouldBe List("name")
        p.aggs shouldBe List(CountAgg("value"))
      case other => fail(other.toString)
    }
  }

  it should "reject group by without aggregation" in {
    planOf("select * from m group by age") shouldBe Left(PlanErrors.NoAggregationGroupBy)
    planOf("select name from m group by age") shouldBe Left(PlanErrors.NoAggregationGroupBy)
  }

  it should "reject group by with more than one field" in {
    planOf("select sum(value), count(*) from m group by age") shouldBe Left(PlanErrors.MoreFieldsGroupBy)
  }

  it should "reject group by on a non-tag" in {
    planOf("select sum(value) from m group by name") shouldBe Left(PlanErrors.GroupByNotOnTag)
  }

  it should "reject distinct with group by" in {
    planOf("select distinct sum(value) from m group by age") shouldBe Left(PlanErrors.GroupByDistinct)
  }

  it should "reject first/last without group by" in {
    planOf("select first(value) from m") shouldBe Left(PlanErrors.NoGroupByAggregation)
  }

  it should "reject distinct on multiple fields or star" in {
    planOf("select distinct name, age from m") shouldBe Left(PlanErrors.MoreFieldsDistinct)
    planOf("select distinct * from m") shouldBe Left(PlanErrors.MoreFieldsDistinct)
  }

  it should "reject aggregations on non-value non-tag fields" in {
    planOf("select sum(name) from m") shouldBe Left(PlanErrors.AggregationNotAllowed)
    planOf("select sum(age) from m") shouldBe Left(PlanErrors.AggregationNotAllowed)
    planOf("select count(age) from m").isRight shouldBe true // count on tag is fine
  }

  it should "reject multiple counts" in {
    planOf("select count(*), count(age) from m") shouldBe Left(PlanErrors.MultipleCountAggregations)
  }

  it should "reject sorting a group by query by a foreign field" in {
    planOf("select sum(value) from m group by age order by name") shouldBe Left(PlanErrors.SortFieldNotInGroup)
    planOf("select sum(value) from m group by age order by value").isRight shouldBe true
    planOf("select sum(value) from m group by age order by age").isRight shouldBe true
  }

  it should "reject grace period outside temporal group by" in {
    planOf("select sum(value) from m group by age since 1h") shouldBe Left(PlanErrors.GracePeriodNotAllowed)
  }

  it should "reject unknown fields" in {
    planOf("select nope from m") shouldBe Left(PlanErrors.unknownFields(Seq("nope")))
    planOf("select * from m where nope = 1") shouldBe Left(PlanErrors.unknownField("nope"))
  }

  it should "reject comparisons on non numeric fields" in {
    planOf("select * from m where name > 5") shouldBe Left(PlanErrors.nonNumericComparison(">"))
  }

  // ---- time span extraction / bucket math --------------------------------

  private implicit val tc: TimeContext = TimeContext(100000L)

  "TimeBuckets" should "extract closed spans from range predicates" in {
    val p = SqlParser.parse("db", "ns", "select * from m where timestamp in (10, 40)") match {
      case Right(s: SelectStatement) => s.where
      case other                     => fail(other.toString)
    }
    TimeBuckets.extractSpans(p, tc) shouldBe Seq(Span(10, 40))
  }

  it should "shift exclusive comparison bounds by one unit" in {
    val p = SqlParser.parse("db", "ns", "select * from m where timestamp > 10 and timestamp <= 40") match {
      case Right(s: SelectStatement) => s.where
      case other                     => fail(other.toString)
    }
    TimeBuckets.extractSpans(p, tc) shouldBe Seq(Span(11, 40))
  }

  it should "resolve NOW-relative bounds against the time context" in {
    val p = SqlParser.parse("db", "ns", "select * from m where timestamp >= now - 10 s") match {
      case Right(s: SelectStatement) => s.where
      case other                     => fail(other.toString)
    }
    TimeBuckets.extractSpans(p, tc) shouldBe Seq(Span(90000L, Long.MaxValue))
  }

  it should "union OR spans and intersect AND spans" in {
    val p = SqlParser.parse("db", "ns",
      "select * from m where (timestamp in (0, 10)) or (timestamp in (20, 30))") match {
      case Right(s: SelectStatement) => s.where
      case other                     => fail(other.toString)
    }
    TimeBuckets.extractSpans(p, tc) shouldBe Seq(Span(0, 10), Span(20, 30))
  }

  it should "count buckets consistently with generation" in {
    // backward-anchored buckets: width 25 at 10 is (15,25], (5,15], [0,5];
    // a span that fits one interval, or a point, is one closed bucket
    for ((span, len, n) <- Seq((Span(0, 25), 10L, 3L), (Span(0, 7), 10L, 1L), (Span(0, 30), 10L, 3L),
        (Span(5, 5), 10L, 1L)))
      TimeBuckets.bucketCount(span, len) shouldBe n
  }
}
