package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.exec.{Executor, MetricRef}
import graft.model.MetricSchema
import graft.plan.{PlannedQuery, Planner, TimeContext}
import graft.sql.{Ast, SqlParser}

/**
 * Session facade: the Spark-native equivalent of the reference's
 * read/write coordinators + SQL endpoint (`nsdb-cluster/.../ReadCoordinator`,
 * `nsdb-http/.../QueryApi`). Metrics live either in the Parquet warehouse
 * (see [[graft.catalog.Warehouse]]) or are registered in-memory views over
 * arbitrary DataFrames.
 */
class GraftEngine(val spark: SparkSession, val warehouse: Option[graft.catalog.Warehouse] = None,
                  val execConfig: graft.exec.ExecConfig = graft.exec.ExecConfig()) {

  def this(spark: SparkSession, warehouseRoot: String) =
    this(spark, Some(new graft.catalog.Warehouse(spark, warehouseRoot)))

  private val registry = TrieMap.empty[(String, String, String), MetricRef]

  /**
   * Register an existing DataFrame as a metric. `timestampCol` must resolve
   * to epoch-millis (a Column expression is accepted so sources with other
   * encodings can be adapted); `valueCol` must be numeric; `tags` marks the
   * groupable columns, everything else becomes a dimension.
   */
  def registerMetric(
      db: String,
      namespace: String,
      metric: String,
      df: DataFrame,
      timestampCol: Column,
      valueCol: Column,
      tags: Set[String],
      drop: Set[String] = Set.empty,
      timeMirror: Option[graft.exec.TimeMirror] = None
  ): MetricRef = {
    val mirrorCol = timeMirror.map(_.colName).toSet
    val others = df.columns.filterNot { c =>
      // drop source columns shadowed by the canonical timestamp/value
      timestampCol.toString == c || valueCol.toString == c || drop.contains(c) || mirrorCol.contains(c)
    }.filterNot(c => c == "timestamp" || c == "value")
    // the raw time-mirror column rides along (hidden from the schema) so the
    // executor can push span filters down to the parquet scan
    val canonical = df.select(
      (timestampCol.cast(LongType).as("timestamp") +: valueCol.as("value") +:
        (others.map(col _) ++ mirrorCol.toSeq.map(col _))): _*
    )
    val visible = org.apache.spark.sql.types.StructType(
      canonical.schema.fields.filterNot(f => mirrorCol.contains(f.name)))
    val ref = MetricRef(canonical, MetricSchema.fromMapping(visible, tags), timeMirror = timeMirror)
    registry.put((db, namespace, metric), ref)
    ref
  }

  /** Create a warehouse metric ahead of any data — shard interval and
    * retention fixed at birth (the reference's InitMetric rpc/API). */
  def initMetric(
      db: String,
      namespace: String,
      metric: String,
      shardIntervalMs: Long,
      retentionMs: Long = 0L
  ): Either[String, Unit] =
    warehouse.toRight("no warehouse attached — initMetric needs the persistent catalog")
      .flatMap(_.initMetric(graft.catalog.Coords(db, namespace, metric), shardIntervalMs, retentionMs))

  def metricRef(db: String, namespace: String, metric: String): Option[MetricRef] =
    registry.get((db, namespace, metric))

  /**
   * Attach a maintained sufficient-statistics rollup
   * ([[graft.operators.Rollup.buildForServing]] grain, `stepMs` cells) to
   * a registered metric: eligible temporal aggregations are then served
   * from the stats table instead of scanning raw points — the engine's
   * facet-index read path (see [[graft.exec.RollupRef]]). The caller owns
   * freshness: rebuild or [[graft.operators.Rollup.merge]] the stats as
   * the metric grows.
   */
  def attachRollup(db: String, namespace: String, metric: String,
                   stats: DataFrame, stepMs: Long): Either[String, Unit] =
    registry.get((db, namespace, metric))
      .toRight(s"metric $metric is not registered")
      .map { ref =>
        registry.put((db, namespace, metric),
          ref.copy(rollup = Some(graft.exec.RollupRef(stats, stepMs))))
        ()
      }

  def listMetrics(db: String, namespace: String): Seq[String] =
    registry.keys.collect { case (d, n, m) if d == db && n == namespace => m }.toSeq.sorted

  /** Parse, validate/plan and execute one SELECT statement. */
  def sql(db: String, namespace: String, query: String)(implicit tc: TimeContext): Either[String, DataFrame] =
    for {
      stmt <- SqlParser.parse(db, namespace, query)
      df   <- executeStatement(stmt)
    } yield df

  /** Resolve a metric: in-memory registry first, then the warehouse catalog. */
  private[graft] def resolve(db: String, ns: String, metric: String): Either[String, MetricRef] =
    registry.get((db, ns, metric)).map(Right(_)).getOrElse {
      warehouse.toRight(s"metric $metric does not exist")
        .flatMap(_.read(graft.catalog.Coords(db, ns, metric)))
    }

  /**
   * The request path of every serving surface (`/query`, SSE, WebSocket,
   * gRPC, periodic pushes): resolve → plan → execute, then ONE bounded
   * collect ([[GraftEngine.collectBounded]]). `view` is the projection at
   * the plan root — [[GraftEngine.json]] for the JSON surfaces, the typed
   * columns otherwise — and the only thing a caller varies.
   */
  def answer(sel: Ast.SelectStatement, maxRows: Int, view: DataFrame => DataFrame = identity)(
      implicit tc: TimeContext): Either[String, GraftEngine.Answer] =
    executeStatement(sel).map(df => GraftEngine.collectBounded(view(df), maxRows))

  def executeStatement(stmt: Ast.Statement)(implicit tc: TimeContext): Either[String, DataFrame] =
    stmt match {
      case s: Ast.SelectStatement =>
        for {
          ref  <- resolve(s.db, s.namespace, s.metric)
          plan <- Planner.plan(s, ref.schema)
        } yield Executor.execute(plan, ref, tc, execConfig)
      case s: Ast.InsertStatement =>
        warehouse.toRight("INSERT requires a warehouse-backed engine")
          .flatMap(_.insert(s))
          .map(n => spark.createDataFrame(java.util.List.of(org.apache.spark.sql.Row(n)),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("inserted", org.apache.spark.sql.types.LongType)))))
      case s: Ast.DeleteStatement =>
        warehouse.toRight("DELETE requires a warehouse-backed engine")
          .flatMap { w =>
            // validate the predicate against the schema before touching data
            resolve(s.db, s.namespace, s.metric)
              .flatMap(ref => Planner.plan(s, ref.schema))
              .flatMap(_ => w.delete(s))
          }
          .map(_ => spark.emptyDataFrame)
      case s: Ast.DropStatement =>
        warehouse.toRight("DROP requires a warehouse-backed engine").map { w =>
          w.drop(graft.catalog.Coords(s.db, s.namespace, s.metric))
          registry.remove((s.db, s.namespace, s.metric))
          spark.emptyDataFrame
        }
    }

  /** Metadata commands (SHOW NAMESPACES / SHOW METRICS / DESCRIBE …). */
  def command(db: String, namespace: String, cmd: Ast.Command): Either[String, Seq[Seq[String]]] =
    cmd match {
      case Ast.ShowDatabases =>
        Right(warehouse.map(_.listDatabases).getOrElse(Seq.empty).map(Seq(_)))
      case Ast.ShowNamespaces =>
        Right(warehouse.map(_.listNamespaces(db)).getOrElse(Seq.empty).map(Seq(_)))
      case Ast.ShowMetrics =>
        val fromWh  = warehouse.map(_.listMetrics(db, namespace)).getOrElse(Seq.empty)
        val fromReg = listMetrics(db, namespace)
        Right((fromWh ++ fromReg).distinct.sorted.map(Seq(_)))
      case Ast.DescribeMetric(m) =>
        resolve(db, namespace, m).map { ref =>
          ref.schema.orderedNames.map { n =>
            val f = ref.schema.fields(n)
            Seq(f.name, f.dataType.catalogString, f.fieldClass.name)
          }
        }
      case Ast.UseNamespace(_) => Right(Seq.empty) // session-level concern of the caller
      case Ast.Explain(q) =>
        // EXPLAIN (beyond the reference surface): the planner's verdict as
        // (property, value) rows — shape, projection, predicate, ordering —
        // without touching data.
        def opt[T](o: Option[T]): String = o.map(_.toString).getOrElse("-")
        plan(db, namespace, q).map {
          case PlannedQuery.Simple(fields, distinct, where, order, limit) => Seq(
            Seq("plan", "Scan"),
            Seq("fields", if (fields.isEmpty) "*" else fields.mkString(", ")),
            Seq("distinct", distinct.toString),
            Seq("where", opt(where)), Seq("order", opt(order)), Seq("limit", opt(limit)))
          case PlannedQuery.GlobalAgg(plainFields, aggs, where, order, limit) => Seq(
            Seq("plan", "GlobalAggregate"),
            Seq("aggregations", aggs.mkString(", ")),
            Seq("plain_fields", if (plainFields.isEmpty) "-" else plainFields.mkString(", ")),
            Seq("where", opt(where)), Seq("order", opt(order)), Seq("limit", opt(limit)))
          case PlannedQuery.TagAgg(tag, agg, where, order, limit) => Seq(
            Seq("plan", "GroupByTag"),
            Seq("tag", tag), Seq("aggregation", agg.toString),
            Seq("where", opt(where)), Seq("order", opt(order)), Seq("limit", opt(limit)))
          case PlannedQuery.TemporalAgg(intervalMs, agg, where, graceMs, order, limit) => Seq(
            Seq("plan", "GroupByInterval"),
            Seq("interval_ms", intervalMs.toString), Seq("aggregation", agg.toString),
            Seq("grace_ms", opt(graceMs)),
            Seq("where", opt(where)), Seq("order", opt(order)), Seq("limit", opt(limit)))
          case PlannedQuery.Delete(where) => Seq(
            Seq("plan", "Delete"), Seq("where", where.toString))
        }
      // ---- pipeline commands (beyond the reference surface) -------------
      case Ast.DedupExact(m) =>
        // the exact-dedup operator ([[graft.pipeline.Dedup.exact]]: digest
        // group-by, ~32-byte shuffle payload per record) applied to the
        // metric's full visible record: rows sharing every field are one
        // group. Reports duplicate groups only — (representative
        // timestamp, n_copies), heaviest first, capped at 100 rows (the
        // command surface is a diagnostic readout, not an export path).
        resolve(db, namespace, m).map { ref =>
          val visible = ref.schema.orderedNames
          val keyed = ref.df.select(
            col("timestamp").as("__id"),
            // explicit per-field null sentinel (concat_ws silently SKIPS
            // nulls, which would alias (null, "x") with ("x", null))
            concat_ws("\u0001",
              visible.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
              .as("__content"))
          graft.pipeline.Dedup.exact(keyed, textCol = "__content", idCol = "__id")
            .filter(col("n_copies") > 1L)
            .orderBy(col("n_copies").desc, col("__id"))
            .limit(100)
            .collect().toSeq
            .map(r => Seq(r.get(0).toString, r.get(1).toString))
        }
      case Ast.AuditProfile(m) =>
        // the ingest data-quality profile ([[graft.pipeline.Curate.profile]])
        // over the metric's visible columns: one row per column —
        // (col_name, n_rows, n_null, n_distinct, min_v, max_v).
        resolve(db, namespace, m).map { ref =>
          val visible = ref.schema.orderedNames
          graft.pipeline.Curate.profile(ref.df.select(visible.map(col _): _*), visible)
            .collect().toSeq
            .map(_.toSeq.map(v => Option(v).map(_.toString).getOrElse("null")))
        }
    }

  /** Plan without executing (validation surface for tests / error parity). */
  def plan(db: String, namespace: String, query: String): Either[String, PlannedQuery] =
    SqlParser.parse(db, namespace, query).flatMap {
      case s: Ast.SelectStatement =>
        resolve(s.db, s.namespace, s.metric).flatMap(ref => Planner.plan(s, ref.schema))
      case s: Ast.DeleteStatement =>
        resolve(s.db, s.namespace, s.metric).flatMap(ref => Planner.plan(s, ref.schema))
      case _ => Left("only select/delete statements can be planned")
    }
}

object GraftEngine {

  /** A select's bounded answer: its column names, its first rows (at most
    * the cap), and whether the result held more. */
  final case class Answer(columns: Seq[String], rows: Seq[Row], truncated: Boolean)

  /** The JSON projection: one string column, each row as a JSON object
    * byte-identical to `Dataset.toJSON` (the same generator and options).
    * The star expands to the plan's output attributes without looking any
    * name up, so duplicate, dotted and backticked names render as they are. */
  val json: DataFrame => DataFrame = _.select(to_json(struct(col("*"))))

  /**
   * `df`'s first `maxRows` rows in one bounded collect: `limit(maxRows + 1)`
   * at the plan root makes Spark plan `CollectLimit` /
   * `TakeOrderedAndProject`, so a `limit 1` reads one partition in one job,
   * a trailing ORDER BY is a top-k instead of a range sort with its own
   * sampling job, and the driver receives at most `maxRows + 1` rows per
   * task result (`spark.driver.maxResultSize` as the hard stop).
   */
  private[graft] def collectBounded(df: DataFrame, maxRows: Int): Answer = {
    val rows = df.limit(maxRows + 1).collect()
    Answer(df.columns.toSeq, rows.take(maxRows).toSeq, rows.length > maxRows)
  }
}
