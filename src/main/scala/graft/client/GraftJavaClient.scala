package graft.client

import java.util.concurrent.CompletableFuture

import graft.GraftEngine
import graft.plan.TimeContext
import graft.sql.Ast

/**
 * Java-friendly client facade — the reference's Java fluent API
 * (`nsdb-java-api/.../NSDB.java:57-515`) re-expressed over the embedded
 * engine: the same `db → namespace → bit/query` builder chain with BOXED
 * Java overloads (`java.lang.Long/Integer/Double`, `BigDecimal`), every
 * verb answering a `CompletableFuture` of a result object that carries
 * success/failure IN the result (`isCompletedSuccessfully`/`getReason`),
 * never a failed future — exactly the reference's contract, so a Java
 * caller needs no Scala types anywhere:
 *
 * {{{
 *   GraftJavaClient nsdb = GraftJavaClient.connect(engine).get();
 *   GraftJavaClient.Bit bit = nsdb.db("root").namespace("registry").bit("people")
 *       .timestamp(1000L).value(13L).dimension("city", "Mouseton").tag("country", "IT");
 *   InsertResult ins = nsdb.write(bit).get();
 *   QueryResult res = nsdb.executeStatement(
 *       nsdb.db("root").namespace("registry").metric("people").query("select * from people")).get();
 *   List<Map<String, Object>> records = res.getRecords();
 * }}}
 *
 * Results come back as `java.util.List<java.util.Map<String, Object>>`
 * rows (field name → boxed value) instead of the reference's protobuf
 * bits, capped at `maxResultRows` like the HTTP surface — a client
 * `getRecords` is a materializing call by contract; unbounded reads
 * belong on the DataFrame API ([[GraftClient]]).
 */
object GraftJavaClient {

  /** Async connect (reference `NSDB.connect(host, port)` shape) — the
    * embedded engine stands in for the remote endpoint. */
  def connect(engine: GraftEngine): CompletableFuture[GraftJavaClient] =
    CompletableFuture.supplyAsync(() => new GraftJavaClient(engine))

  final class Db private[client] (db: String) {
    def namespace(namespace: String): Namespace = new Namespace(db, namespace)
  }

  final class Namespace private[client] (db: String, namespace: String) {
    def metric(metric: String): Metric = new Metric(db, namespace, metric)
    def bit(metric: String): Bit       = new Bit(GraftClient.Bit(db, namespace, metric))
  }

  final class Metric private[client] (db: String, namespace: String, metric: String) {
    def query(queryString: String): SQLStatement = new SQLStatement(db, namespace, queryString)
    def shardInterval(interval: String): MetricInfo =
      new MetricInfo(db, namespace, metric, interval, "")
    def retention(retention: String): MetricInfo =
      new MetricInfo(db, namespace, metric, "", retention)
  }

  /** Metric-initialization builder (reference `NSDB.MetricInfo`): shard
    * interval and retention as the reference's duration-semantic strings
    * (`1d`, `2h`, `30m`, `45s`; empty = default/none). */
  final class MetricInfo private[client] (
      private[client] val db: String,
      private[client] val namespace: String,
      private[client] val metric: String,
      private[client] val interval: String,
      private[client] val retentionStr: String) {
    def shardInterval(interval: String): MetricInfo =
      new MetricInfo(db, namespace, metric, interval, retentionStr)
    def retention(retention: String): MetricInfo =
      new MetricInfo(db, namespace, metric, interval, retention)
  }

  /** parse the reference's duration semantic (`1d`, `2h`, `30m`, `45s`);
    * empty → `fallbackMs`. */
  private[client] def durationMs(s: String, fallbackMs: Long): Either[String, Long] =
    if (s == null || s.trim.isEmpty) Right(fallbackMs)
    else "^(\\d+)\\s*([a-zA-Z]+)$".r.findFirstMatchIn(s.trim) match {
      case None => Left(s"malformed duration '$s'")
      case Some(m) =>
        (m.group(2).toLowerCase(java.util.Locale.ROOT) match {
          case "d" | "day" | "days"                => Right(86400000L)
          case "h" | "hour" | "hours"              => Right(3600000L)
          case "m" | "min" | "minute" | "minutes"  => Right(60000L)
          case "s" | "sec" | "second" | "seconds"  => Right(1000L)
          case other                               => Left(s"unknown duration unit '$other' in '$s'")
        }).flatMap { unit =>
          // a 300-digit quantity must be a Left, never a thrown
          // NumberFormatException through the result-object contract
          m.group(1).toLongOption.filter(q => q <= Long.MaxValue / unit)
            .toRight(s"duration quantity out of range in '$s'").map(_ * unit)
        }
    }

  final class SQLStatement private[client] (
      private[client] val db: String,
      private[client] val namespace: String,
      private[client] val queryString: String)

  /** Immutable bit builder over [[GraftClient.Bit]], boxed-overload
    * surface (`Long`/`Integer`/`Double`/`BigDecimal`) per the reference. */
  final class Bit private[client] (private[client] val underlying: GraftClient.Bit) {
    private def next(b: GraftClient.Bit): Bit = new Bit(b)

    def timestamp(v: java.lang.Long): Bit = next(underlying.timestamp(v))

    def value(v: java.lang.Long): Bit       = next(underlying.value(v.longValue()))
    def value(v: java.lang.Integer): Bit    = next(underlying.value(v.intValue()))
    def value(v: java.lang.Double): Bit     = next(underlying.value(v.doubleValue()))
    def value(v: java.math.BigDecimal): Bit = next(underlying.value(v))

    def dimension(k: String, v: java.lang.Long): Bit    = next(underlying.dimension(k, v.longValue()))
    def dimension(k: String, v: java.lang.Integer): Bit = next(underlying.dimension(k, v.longValue()))
    def dimension(k: String, v: java.lang.Double): Bit  = next(underlying.dimension(k, v.doubleValue()))
    def dimension(k: String, v: String): Bit            = next(underlying.dimension(k, v))
    def dimension(k: String, v: java.math.BigDecimal): Bit =
      if (v.scale() > 0) next(underlying.dimension(k, v.doubleValue()))
      else next(underlying.dimension(k, v.longValue()))

    def tag(k: String, v: java.lang.Long): Bit    = next(underlying.tag(k, v.longValue()))
    def tag(k: String, v: java.lang.Integer): Bit = next(underlying.tag(k, v.longValue()))
    def tag(k: String, v: java.lang.Double): Bit  = next(underlying.tag(k, v.doubleValue()))
    def tag(k: String, v: String): Bit            = next(underlying.tag(k, v))
    def tag(k: String, v: java.math.BigDecimal): Bit =
      if (v.scale() > 0) next(underlying.tag(k, v.doubleValue()))
      else next(underlying.tag(k, v.longValue()))
  }

  /** Write outcome (reference `InsertResult.java`): success flag + errors. */
  final class InsertResult private[client] (ok: Boolean, errors: String) {
    def isCompletedSuccessfully: Boolean = ok
    def getErrors: String                = errors
  }

  /** Read outcome (reference `QueryResult.java`): success flag, reason on
    * failure, records as Java row maps on success. */
  final class QueryResult private[client] (
      db: String,
      namespace: String,
      ok: Boolean,
      reason: String,
      records: java.util.List[java.util.Map[String, Object]]) {
    def getDb: String                    = db
    def getNamespace: String             = namespace
    def isCompletedSuccessfully: Boolean = ok
    def getReason: String                = reason
    def getRecords: java.util.List[java.util.Map[String, Object]] = records
  }

  /** Metadata outcome: like every other verb, failure surfaces IN the
    * result (`isCompletedSuccessfully`/`getReason`) — never as an empty
    * list a caller can't distinguish from "namespace has no metrics". */
  final class MetricsResult private[client] (
      ok: Boolean,
      reason: String,
      metrics: java.util.List[String]) {
    def isCompletedSuccessfully: Boolean    = ok
    def getReason: String                   = reason
    def getMetrics: java.util.List[String]  = metrics
  }
}

final class GraftJavaClient private (engine: GraftEngine, maxResultRows: Int) {
  import GraftJavaClient._

  private[client] def this(engine: GraftEngine) = this(engine, 10000)

  private val scalaClient = GraftClient.embedded(engine)

  def db(name: String): Db = new Db(name)

  /** flatten unexpected throws into the Either so every verb's future
    * completes normally (the reference's result-object contract). */
  private def safely[A](body: => Either[String, A]): Either[String, A] =
    scala.util.Try(body).toEither.left.map(e => String.valueOf(e.getMessage)).flatten

  /** Write one bit; a failure (missing value, schema conflict) lands in
    * the result object, the future itself always completes. */
  def write(bit: Bit): CompletableFuture[InsertResult] =
    CompletableFuture.supplyAsync { () =>
      safely(scalaClient.write(bit.underlying)) match {
        case Right(_)  => new InsertResult(true, "")
        case Left(err) => new InsertResult(false, err)
      }
    }

  /** Execute a dialect statement; rows materialize (capped) as
    * `List<Map<String, Object>>`. */
  def executeStatement(stmt: SQLStatement): CompletableFuture[QueryResult] =
    CompletableFuture.supplyAsync { () =>
      implicit val tc: TimeContext = TimeContext(System.currentTimeMillis())
      safely {
        engine.sql(stmt.db, stmt.namespace, stmt.queryString).map { df =>
          val out = new java.util.ArrayList[java.util.Map[String, Object]]()
          // one bounded collect: the limit at the plan root keeps a
          // `limit 1` to one job and the driver to maxResultRows rows
          df.limit(maxResultRows).collect().foreach { row =>
            val m = new java.util.LinkedHashMap[String, Object]()
            row.schema.fieldNames.zipWithIndex.foreach { case (f, i) =>
              m.put(f, if (row.isNullAt(i)) null else row.get(i).asInstanceOf[Object])
            }
            out.add(m)
          }
          out
        }
      } match {
        case Left(err)  => new QueryResult(stmt.db, stmt.namespace, false, err, java.util.List.of())
        case Right(out) => new QueryResult(stmt.db, stmt.namespace, true, "", out)
      }
    }

  /** Initialize a metric ahead of data (reference `NSDB.initMetric`):
    * duration strings parse client-side, the warehouse fixes the settings
    * at birth; failures (bad duration, conflicting re-init) land in the
    * result object like every other verb. */
  def initMetric(info: MetricInfo): CompletableFuture[InsertResult] =
    CompletableFuture.supplyAsync { () =>
      val parsed = safely(for {
        ms  <- durationMs(info.interval, fallbackMs = 86400000L)
        ret <- durationMs(info.retentionStr, fallbackMs = 0L)
        _   <- engine.initMetric(info.db, info.namespace, info.metric, ms, ret)
      } yield ())
      parsed match {
        case Right(_)  => new InsertResult(true, "")
        case Left(err) => new InsertResult(false, err)
      }
    }

  /** Metadata: the metrics of a namespace. Failure (bad db/namespace,
    * unreachable warehouse) lands in the result object — an empty metric
    * list is reserved for a real, reachable, empty namespace. */
  def showMetrics(db: String, namespace: String): CompletableFuture[MetricsResult] =
    CompletableFuture.supplyAsync { () =>
      safely(engine.command(db, namespace, Ast.ShowMetrics)) match {
        case Right(rows) =>
          new MetricsResult(true, "",
            java.util.List.copyOf(scala.jdk.CollectionConverters.SeqHasAsJava(rows.flatten).asJava))
        case Left(err) => new MetricsResult(false, err, java.util.List.of())
      }
    }
}
