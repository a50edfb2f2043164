package graft.streaming

import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.GraftEngine
import graft.catalog.{Coords, Warehouse}
import graft.exec.Executor
import graft.model.MetricSchema
import graft.plan.{PlannedQuery, Planner, TimeContext}
import graft.sql.{Ast, SqlParser}

/**
 * Streaming ingest (the reference's write path: commit log → accumulate →
 * periodic flush, `WriteCoordinator.scala:341-367`) re-expressed as
 * Structured Streaming with checkpointing: the WAL/exactly-once concerns
 * collapse into the checkpoint, the flush interval into the trigger.
 */
object Ingest {

  /** Start appending a streaming DataFrame (canonical metric columns) to a
    * warehouse metric every `flushIntervalMs`. */
  def start(
      stream: DataFrame,
      warehouse: Warehouse,
      coords: Coords,
      tags: Set[String],
      checkpointDir: String,
      flushIntervalMs: Long = 1000L
  ): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(flushIntervalMs))
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        warehouse.append(coords, batch, tags).left.foreach(err => throw new IllegalStateException(err))
        ()
      }
      .start()
}

/**
 * Publish/subscribe subscriptions (reference: `PublisherActor`,
 * `docs/Architecture.md` "Publish-Subscribe Streaming"): a subscriber
 * registers a dialect query and receives the historical result once, then
 * live updates.
 *
 *  - plain queries  → per-record predicate match ⇒ a filtered stream
 *  - temporal group by → tumbling windows anchored at subscription time;
 *    `SINCE` becomes the watermark, so late events re-emit corrected
 *    buckets in update mode (reference behavior R3/R5)
 *  - standard (tag) aggregations → periodic re-execution (R6)
 */
object Subscriptions {

  /** A registered subscription: the one-shot historical result plus the
    * live streaming DataFrame (caller attaches its own sink). */
  final case class Subscription(historical: DataFrame, live: DataFrame)

  def subscribe(
      engine: GraftEngine,
      stream: DataFrame,
      db: String,
      namespace: String,
      sql: String
  )(implicit tc: TimeContext): Either[String, Subscription] =
    for {
      stmt <- SqlParser.parse(db, namespace, sql)
      sel <- stmt match {
        case s: Ast.SelectStatement => Right(s)
        case _                      => Left("only select statements can be subscribed")
      }
      ref        <- engine.metricRef(db, namespace, sel.metric).toRight(s"metric ${sel.metric} does not exist")
      plan       <- Planner.plan(sel, ref.schema)
      historical <- engine.executeStatement(sel)
      live       <- liveStream(plan, stream, ref.schema)
    } yield Subscription(historical, live)

  private def liveStream(
      plan: PlannedQuery,
      stream: DataFrame,
      schema: MetricSchema
  )(implicit tc: TimeContext): Either[String, DataFrame] = plan match {
    case p: PlannedQuery.Simple =>
      val base = p.where.fold(stream)(w => stream.filter(Executor.compile(w, tc)))
      val names =
        if (p.fields.isEmpty) schema.orderedNames
        else Seq("timestamp", "value") ++
          p.fields.map(_.name).filterNot(n => n == "timestamp" || n == "value" || n == "*").distinct
      Right(base.select(names.map(col): _*))
    case p: PlannedQuery.TemporalAgg =>
      Right(temporalStream(stream, p.intervalMs, p.agg, p.graceMs, anchorMs = tc.currentTime, where = p.where))
    case _: PlannedQuery.TagAgg | _: PlannedQuery.GlobalAgg =>
      Left("standard aggregation subscriptions re-execute periodically — use Subscriptions.periodic")
    case _ => Left("unsupported subscription plan")
  }

  /**
   * Tumbling-window aggregation over a streaming metric. Windows are
   * anchored at `anchorMs` (subscription time) like the reference's
   * forward-rolling buckets; the grace period maps to a watermark so
   * in-grace late events produce corrected bucket emissions (update mode).
   */
  def temporalStream(
      stream: DataFrame,
      intervalMs: Long,
      agg: Ast.Agg,
      graceMs: Option[Long],
      anchorMs: Long,
      where: Option[Ast.Predicate] = None
  )(implicit tc: TimeContext): DataFrame = {
    val filteredStream = where.fold(stream)(w => stream.filter(Executor.compile(w, tc)))
    val withEventTime  = filteredStream.withColumn("__event_time", timestamp_millis(col("timestamp")))
    val watermarked    = graceMs.fold(withEventTime)(g => withEventTime.withWatermark("__event_time", s"$g milliseconds"))
    val win = window(
      col("__event_time"),
      s"$intervalMs milliseconds",
      s"$intervalMs milliseconds",
      s"${Math.floorMod(anchorMs, intervalMs)} milliseconds"
    )
    val aggCol = agg match {
      case Ast.CountAgg(_)           => count(lit(1))
      case Ast.SumAgg(_)             => sum(col("value"))
      case Ast.MinAgg(_)             => min(col("value"))
      case Ast.MaxAgg(_)             => max(col("value"))
      case Ast.AvgAgg(_)             => avg(col("value"))
      // exact distinct, reference PublisherActor parity: count_distinct is
      // unsupported in streaming aggregation, but a per-window value set is
      // — state holds the distinct set per open window (bounded by the
      // watermark closing windows; tag-cardinality-sized, not row-sized)
      case Ast.CountDistinctAgg(f)   => size(collect_set(col(f))).cast("long")
      case Ast.FirstAgg(_)           => min_by(col("value"), col("timestamp"))
      case Ast.LastAgg(_)            => max_by(col("value"), col("timestamp"))
    }
    watermarked
      .groupBy(win)
      .agg(aggCol.as("value"))
      .select(
        unix_millis(col("window.end")).as("timestamp"),
        unix_millis(col("window.start")).as("lowerBound"),
        unix_millis(col("window.end")).as("upperBound"),
        col("value")
      )
  }

  /**
   * R6: periodic re-execution of a standard aggregation query on a fixed
   * scheduler, pushing each result to the subscriber callback. Returns a
   * handle that stops the scheduler. A run whose query is rejected or
   * whose execution or callback throws is logged to stderr with the
   * subscription's db, namespace and SQL; the schedule keeps running.
   */
  def periodic(
      engine: GraftEngine,
      db: String,
      namespace: String,
      sql: String,
      intervalMs: Long,
      onResult: Array[Row] => Unit
  ): AutoCloseable = {
    val exec: ScheduledExecutorService = Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-periodic-subscription"); t.setDaemon(true); t
    })
    def failed(err: String): Unit =
      System.err.println(s"[graft-periodic] $db.$namespace `$sql` failed: $err")
    exec.scheduleAtFixedRate(
      () =>
        try {
          implicit val tc: TimeContext = TimeContext(System.currentTimeMillis())
          engine.sql(db, namespace, sql).fold(failed, df => onResult(df.collect()))
        } catch { case NonFatal(e) => failed(e.toString) },
      0L, intervalMs, TimeUnit.MILLISECONDS
    )
    () => exec.shutdownNow()
  }
}
