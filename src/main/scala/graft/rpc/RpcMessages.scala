package graft.rpc

import graft.rpc.ProtoWire.{Reader, Writer}

/**
 * The reference's gRPC message set (the `nsdb-rpc/src/main/protobuf` protos)
 * as case classes with hand-rolled proto3 codecs over [[ProtoWire]].
 * Field numbers follow the .proto files exactly:
 *
 *  - `common.proto` — Dimension/Tag/Bit (oneof decimal|long[|string])
 *  - `request.proto` / `response.proto` — RPCInsert / RPCInsertResult
 *  - `requestSQL.proto` / `responseSQL.proto` — SQLRequestStatement /
 *    SQLStatementResponse
 *  - `requestCommand.proto` / `responseCommand.proto` — the Show and
 *    Describe verbs
 *  - `health.proto`, `init.proto`, `restore.proto`, `streaming.proto`
 */
object RpcMessages {

  /** `oneof value { double decimalValue; int64 longValue; string stringValue }`
    * — Dimension and Tag share the shape (`common.proto:21-37`). */
  sealed trait RpcValue
  final case class DecimalValue(v: Double) extends RpcValue
  final case class LongValue(v: Long)      extends RpcValue
  final case class StringValue(v: String)  extends RpcValue

  private def writeValue(w: Writer, decF: Int, lonF: Int, strF: Option[Int], v: RpcValue): Unit = v match {
    case DecimalValue(d) => w.doubleAlways(decF, d)
    case LongValue(l)    => w.int64Always(lonF, l)
    case StringValue(s) =>
      val f = strF.getOrElse(throw new IllegalArgumentException("string value not allowed here"))
      w.stringAlways(f, s)
  }

  private def mapEntry(w: Writer, field: Int, key: String, body: Writer => Unit): Unit =
    w.messageAlways(field, ew => { ew.stringAlways(1, key); ew.messageAlways(2, body) })

  private def readValueField(r: Reader, f: Int, wire: Int, decF: Int, lonF: Int, strF: Int): Option[RpcValue] =
    if (f == decF && wire == ProtoWire.WireFixed64) Some(DecimalValue(r.readDouble()))
    else if (f == lonF && wire == ProtoWire.WireVarint) Some(LongValue(r.readVarint()))
    else if (f == strF && wire == ProtoWire.WireBytes) Some(StringValue(r.readString()))
    else { r.skip(wire); None }

  private def readTypedMap(r: Reader, decF: Int, lonF: Int, strF: Int): (String, RpcValue) = {
    var key: String   = ""
    var v: RpcValue   = LongValue(0L)
    while (r.hasNext) {
      val (f, wire) = r.readTag()
      if (f == 1) key = r.readString()
      else if (f == 2) {
        val vr = r.readMessage()
        while (vr.hasNext) {
          val (vf, vw) = vr.readTag()
          readValueField(vr, vf, vw, decF, lonF, strF).foreach(v = _)
        }
      } else r.skip(wire)
    }
    (key, v)
  }

  /** `common.proto` Bit. */
  final case class RpcBit(
      timestamp: Long,
      value: RpcValue,
      dimensions: Map[String, RpcValue],
      tags: Map[String, RpcValue]
  ) {
    def encode(w: Writer): Unit = {
      w.int64(1, timestamp)
      writeValue(w, 2, 3, None, value)
      dimensions.toSeq.sortBy(_._1).foreach { case (k, v) =>
        mapEntry(w, 4, k, vw => writeValue(vw, 1, 2, Some(3), v))
      }
      tags.toSeq.sortBy(_._1).foreach { case (k, v) =>
        mapEntry(w, 5, k, vw => writeValue(vw, 1, 2, Some(3), v))
      }
    }
  }
  object RpcBit {
    def decode(r: Reader): RpcBit = {
      var ts: Long                    = 0L
      var value: RpcValue             = LongValue(0L)
      var dims: Map[String, RpcValue] = Map.empty
      var tags: Map[String, RpcValue] = Map.empty
      while (r.hasNext) {
        val (f, wire) = r.readTag()
        f match {
          case 1 => ts = r.readVarint()
          case 2 => value = DecimalValue(r.readDouble())
          case 3 => value = LongValue(r.readVarint())
          case 4 => dims += readTypedMap(r.readMessage(), 1, 2, 3)
          case 5 => tags += readTypedMap(r.readMessage(), 1, 2, 3)
          case _ => r.skip(wire)
        }
      }
      RpcBit(ts, value, dims, tags)
    }
  }

  /** `request.proto` RPCInsert. */
  final case class RpcInsert(
      database: String,
      namespace: String,
      metric: String,
      timestamp: Long,
      value: RpcValue,
      dimensions: Map[String, RpcValue],
      tags: Map[String, RpcValue]
  ) {
    def encode(w: Writer): Unit = {
      w.string(1, database).string(2, namespace).string(3, metric).int64(4, timestamp)
      writeValue(w, 5, 6, None, value)
      dimensions.toSeq.sortBy(_._1).foreach { case (k, v) =>
        mapEntry(w, 7, k, vw => writeValue(vw, 1, 2, Some(3), v))
      }
      tags.toSeq.sortBy(_._1).foreach { case (k, v) =>
        mapEntry(w, 8, k, vw => writeValue(vw, 1, 2, Some(3), v))
      }
    }
  }
  object RpcInsert {
    def decode(r: Reader): RpcInsert = {
      var db = ""; var ns = ""; var metric = ""; var ts = 0L
      var value: RpcValue             = LongValue(0L)
      var dims: Map[String, RpcValue] = Map.empty
      var tags: Map[String, RpcValue] = Map.empty
      while (r.hasNext) {
        val (f, wire) = r.readTag()
        f match {
          case 1 => db = r.readString()
          case 2 => ns = r.readString()
          case 3 => metric = r.readString()
          case 4 => ts = r.readVarint()
          case 5 => value = DecimalValue(r.readDouble())
          case 6 => value = LongValue(r.readVarint())
          case 7 => dims += readTypedMap(r.readMessage(), 1, 2, 3)
          case 8 => tags += readTypedMap(r.readMessage(), 1, 2, 3)
          case _ => r.skip(wire)
        }
      }
      RpcInsert(db, ns, metric, ts, value, dims, tags)
    }
  }

  /** `response.proto` RPCInsertResult. */
  final case class RpcInsertResult(completedSuccessfully: Boolean, errors: String = "") {
    def encode(w: Writer): Unit = { w.bool(1, completedSuccessfully); w.string(2, errors) }
  }
  object RpcInsertResult {
    def decode(r: Reader): RpcInsertResult = {
      var ok = false; var errors = ""
      while (r.hasNext) {
        val (f, wire) = r.readTag()
        f match {
          case 1 => ok = r.readVarint() != 0L
          case 2 => errors = r.readString()
          case _ => r.skip(wire)
        }
      }
      RpcInsertResult(ok, errors)
    }
  }

  /** `requestSQL.proto` SQLRequestStatement. */
  final case class SqlRequest(db: String, namespace: String, metric: String, statement: String) {
    def encode(w: Writer): Unit =
      w.string(1, db).string(2, namespace).string(3, metric).string(4, statement)
  }
  object SqlRequest {
    def decode(r: Reader): SqlRequest = {
      var db = ""; var ns = ""; var metric = ""; var stmt = ""
      while (r.hasNext) {
        val (f, wire) = r.readTag()
        f match {
          case 1 => db = r.readString()
          case 2 => ns = r.readString()
          case 3 => metric = r.readString()
          case 4 => stmt = r.readString()
          case _ => r.skip(wire)
        }
      }
      SqlRequest(db, ns, metric, stmt)
    }
  }

  /** `responseSQL.proto` SQLStatementResponse. */
  final case class SqlResponse(
      db: String,
      namespace: String,
      metric: String,
      completedSuccessfully: Boolean,
      reason: String = "",
      message: String = "",
      records: Seq[RpcBit] = Seq.empty
  ) {
    def encode(w: Writer): Unit = {
      w.string(1, db).string(2, namespace).string(3, metric)
        .bool(4, completedSuccessfully).string(5, reason).string(6, message)
      records.foreach(b => w.messageAlways(7, b.encode))
    }
  }
  object SqlResponse {
    def decode(r: Reader): SqlResponse = {
      var db = ""; var ns = ""; var metric = ""; var ok = false
      var reason = ""; var message = ""
      val recs = Seq.newBuilder[RpcBit]
      while (r.hasNext) {
        val (f, wire) = r.readTag()
        f match {
          case 1 => db = r.readString()
          case 2 => ns = r.readString()
          case 3 => metric = r.readString()
          case 4 => ok = r.readVarint() != 0L
          case 5 => reason = r.readString()
          case 6 => message = r.readString()
          case 7 => recs += RpcBit.decode(r.readMessage())
          case _ => r.skip(wire)
        }
      }
      SqlResponse(db, ns, metric, ok, reason, message, recs.result())
    }
  }

  // ---- command service -----------------------------------------------------

  final case class ShowNamespaces(db: String) {
    def encode(w: Writer): Unit = w.string(1, db)
  }
  object ShowNamespaces {
    def decode(r: Reader): ShowNamespaces = {
      var db = ""
      while (r.hasNext) { val (f, wire) = r.readTag(); if (f == 1) db = r.readString() else r.skip(wire) }
      ShowNamespaces(db)
    }
  }

  final case class Namespaces(db: String, namespaces: Seq[String], completedSuccessfully: Boolean, errors: String = "") {
    def encode(w: Writer): Unit = {
      w.string(1, db)
      namespaces.foreach(n => w.stringAlways(2, n))
      w.bool(3, completedSuccessfully).string(4, errors)
    }
  }
  object Namespaces {
    def decode(r: Reader): Namespaces = {
      var db = ""; val ns = Seq.newBuilder[String]; var ok = false; var errors = ""
      while (r.hasNext) {
        val (f, wire) = r.readTag()
        f match {
          case 1 => db = r.readString()
          case 2 => ns += r.readString()
          case 3 => ok = r.readVarint() != 0L
          case 4 => errors = r.readString()
          case _ => r.skip(wire)
        }
      }
      Namespaces(db, ns.result(), ok, errors)
    }
  }

  final case class ShowMetrics(db: String, namespace: String) {
    def encode(w: Writer): Unit = w.string(1, db).string(2, namespace)
  }
  object ShowMetrics {
    def decode(r: Reader): ShowMetrics = {
      var db = ""; var ns = ""
      while (r.hasNext) {
        val (f, wire) = r.readTag()
        f match {
          case 1 => db = r.readString(); case 2 => ns = r.readString(); case _ => r.skip(wire)
        }
      }
      ShowMetrics(db, ns)
    }
  }

  final case class MetricsGot(db: String, namespace: String, metrics: Seq[String],
                              completedSuccessfully: Boolean, errors: String = "") {
    def encode(w: Writer): Unit = {
      w.string(1, db).string(2, namespace)
      metrics.foreach(m => w.stringAlways(3, m))
      w.bool(4, completedSuccessfully).string(5, errors)
    }
  }
  object MetricsGot {
    def decode(r: Reader): MetricsGot = {
      var db = ""; var ns = ""; val ms = Seq.newBuilder[String]; var ok = false; var errors = ""
      while (r.hasNext) {
        val (f, wire) = r.readTag()
        f match {
          case 1 => db = r.readString()
          case 2 => ns = r.readString()
          case 3 => ms += r.readString()
          case 4 => ok = r.readVarint() != 0L
          case 5 => errors = r.readString()
          case _ => r.skip(wire)
        }
      }
      MetricsGot(db, ns, ms.result(), ok, errors)
    }
  }

  final case class DescribeMetric(db: String, namespace: String, metric: String) {
    def encode(w: Writer): Unit = w.string(1, db).string(2, namespace).string(3, metric)
  }
  object DescribeMetric {
    def decode(r: Reader): DescribeMetric = {
      var db = ""; var ns = ""; var m = ""
      while (r.hasNext) {
        val (f, wire) = r.readTag()
        f match {
          case 1 => db = r.readString(); case 2 => ns = r.readString()
          case 3 => m = r.readString(); case _ => r.skip(wire)
        }
      }
      DescribeMetric(db, ns, m)
    }
  }

  /** `responseCommand.proto` DescribeMetricResponse.MetricField.FieldClassType. */
  object FieldClassType {
    val TIMESTAMP = 0; val VALUE = 1; val DIMENSION = 2; val TAG = 3
  }

  final case class MetricField(name: String, fieldClassType: Int, indexType: String) {
    def encode(w: Writer): Unit = w.string(1, name).int64(2, fieldClassType.toLong).string(3, indexType)
  }
  object MetricField {
    def decode(r: Reader): MetricField = {
      var name = ""; var fct = 0; var it = ""
      while (r.hasNext) {
        val (f, wire) = r.readTag()
        f match {
          case 1 => name = r.readString()
          case 2 => fct = r.readVarint().toInt
          case 3 => it = r.readString()
          case _ => r.skip(wire)
        }
      }
      MetricField(name, fct, it)
    }
  }

  final case class MetricInfo(shardInterval: Long, retention: Long) {
    def encode(w: Writer): Unit = { w.int64(1, shardInterval); w.int64(2, retention) }
  }
  object MetricInfo {
    def decode(r: Reader): MetricInfo = {
      var si = 0L; var ret = 0L
      while (r.hasNext) {
        val (f, wire) = r.readTag()
        f match {
          case 1 => si = r.readVarint(); case 2 => ret = r.readVarint(); case _ => r.skip(wire)
        }
      }
      MetricInfo(si, ret)
    }
  }

  final case class DescribeMetricResponse(
      db: String, namespace: String, metric: String,
      fields: Seq[MetricField], metricInfo: Option[MetricInfo],
      completedSuccessfully: Boolean, errors: String = ""
  ) {
    def encode(w: Writer): Unit = {
      w.string(1, db).string(2, namespace).string(3, metric)
      fields.foreach(f => w.messageAlways(4, f.encode))
      metricInfo.foreach(mi => w.messageAlways(5, mi.encode))
      w.bool(6, completedSuccessfully).string(7, errors)
    }
  }
  object DescribeMetricResponse {
    def decode(r: Reader): DescribeMetricResponse = {
      var db = ""; var ns = ""; var m = ""; var ok = false; var errors = ""
      val fs = Seq.newBuilder[MetricField]; var mi: Option[MetricInfo] = None
      while (r.hasNext) {
        val (f, wire) = r.readTag()
        f match {
          case 1 => db = r.readString()
          case 2 => ns = r.readString()
          case 3 => m = r.readString()
          case 4 => fs += MetricField.decode(r.readMessage())
          case 5 => mi = Some(MetricInfo.decode(r.readMessage()))
          case 6 => ok = r.readVarint() != 0L
          case 7 => errors = r.readString()
          case _ => r.skip(wire)
        }
      }
      DescribeMetricResponse(db, ns, m, fs.result(), mi, ok, errors)
    }
  }

  // ---- health / init / restore ----------------------------------------------

  final case class HealthCheckRequest(service: String) {
    def encode(w: Writer): Unit = w.string(1, service)
  }
  object HealthCheckRequest {
    def decode(r: Reader): HealthCheckRequest = {
      var s = ""
      while (r.hasNext) { val (f, wire) = r.readTag(); if (f == 1) s = r.readString() else r.skip(wire) }
      HealthCheckRequest(s)
    }
  }

  object ServingStatus { val SERVING = 1 }

  final case class HealthCheckResponse(status: Int) {
    def encode(w: Writer): Unit = w.int64(1, status.toLong)
  }
  object HealthCheckResponse {
    def decode(r: Reader): HealthCheckResponse = {
      var s = 0
      while (r.hasNext) { val (f, wire) = r.readTag(); if (f == 1) s = r.readVarint().toInt else r.skip(wire) }
      HealthCheckResponse(s)
    }
  }

  final case class InitMetricRequest(db: String, namespace: String, metric: String,
                                     shardInterval: String, retention: String) {
    def encode(w: Writer): Unit =
      w.string(1, db).string(2, namespace).string(3, metric).string(4, shardInterval).string(5, retention)
  }
  object InitMetricRequest {
    def decode(r: Reader): InitMetricRequest = {
      var db = ""; var ns = ""; var m = ""; var si = ""; var ret = ""
      while (r.hasNext) {
        val (f, wire) = r.readTag()
        f match {
          case 1 => db = r.readString(); case 2 => ns = r.readString(); case 3 => m = r.readString()
          case 4 => si = r.readString(); case 5 => ret = r.readString(); case _ => r.skip(wire)
        }
      }
      InitMetricRequest(db, ns, m, si, ret)
    }
  }

  final case class InitMetricResponse(db: String, namespace: String, metric: String,
                                      completedSuccessfully: Boolean, errorMsg: String = "") {
    def encode(w: Writer): Unit =
      w.string(1, db).string(2, namespace).string(3, metric).bool(4, completedSuccessfully).string(5, errorMsg)
  }
  object InitMetricResponse {
    def decode(r: Reader): InitMetricResponse = {
      var db = ""; var ns = ""; var m = ""; var ok = false; var err = ""
      while (r.hasNext) {
        val (f, wire) = r.readTag()
        f match {
          case 1 => db = r.readString(); case 2 => ns = r.readString(); case 3 => m = r.readString()
          case 4 => ok = r.readVarint() != 0L; case 5 => err = r.readString(); case _ => r.skip(wire)
        }
      }
      InitMetricResponse(db, ns, m, ok, err)
    }
  }

  final case class RestoreRequest(sourcePath: String) {
    def encode(w: Writer): Unit = w.string(1, sourcePath)
  }
  object RestoreRequest {
    def decode(r: Reader): RestoreRequest = {
      var p = ""
      while (r.hasNext) { val (f, wire) = r.readTag(); if (f == 1) p = r.readString() else r.skip(wire) }
      RestoreRequest(p)
    }
  }

  final case class RestoreResponse(completedSuccessfully: Boolean, path: String, errorMsg: String = "") {
    def encode(w: Writer): Unit = { w.bool(1, completedSuccessfully); w.string(2, path); w.string(3, errorMsg) }
  }
  object RestoreResponse {
    def decode(r: Reader): RestoreResponse = {
      var ok = false; var p = ""; var err = ""
      while (r.hasNext) {
        val (f, wire) = r.readTag()
        f match {
          case 1 => ok = r.readVarint() != 0L; case 2 => p = r.readString()
          case 3 => err = r.readString(); case _ => r.skip(wire)
        }
      }
      RestoreResponse(ok, p, err)
    }
  }

  // ---- streaming --------------------------------------------------------------

  /** `streaming.proto` SQLStreamingResponse (oneof payload). */
  sealed trait StreamPayload
  final case class SubscribedByQueryString(quid: String, records: Seq[RpcBit]) extends StreamPayload
  final case class SubscriptionFailed(queryString: String, reason: String, message: String = "") extends StreamPayload
  final case class RecordsPublished(quid: String, records: Seq[RpcBit]) extends StreamPayload

  final case class SqlStreamingResponse(db: String, namespace: String, metric: String, payload: StreamPayload) {
    def encode(w: Writer): Unit = {
      w.string(1, db).string(2, namespace).string(3, metric)
      payload match {
        case SubscribedByQueryString(quid, records) =>
          w.messageAlways(4, sw => { sw.string(1, quid); records.foreach(b => sw.messageAlways(2, b.encode)) })
        case SubscriptionFailed(q, reason, message) =>
          w.messageAlways(5, sw => sw.string(1, q).string(2, reason).string(3, message))
        case RecordsPublished(quid, records) =>
          w.messageAlways(6, sw => { sw.string(1, quid); records.foreach(b => sw.messageAlways(2, b.encode)) })
      }
    }
  }
  object SqlStreamingResponse {
    def decode(r: Reader): SqlStreamingResponse = {
      var db = ""; var ns = ""; var m = ""
      var payload: StreamPayload = SubscriptionFailed("", "missing payload")
      def quidRecords(mr: Reader): (String, Seq[RpcBit]) = {
        var quid = ""; val recs = Seq.newBuilder[RpcBit]
        while (mr.hasNext) {
          val (f, wire) = mr.readTag()
          f match {
            case 1 => quid = mr.readString()
            case 2 => recs += RpcBit.decode(mr.readMessage())
            case _ => mr.skip(wire)
          }
        }
        (quid, recs.result())
      }
      while (r.hasNext) {
        val (f, wire) = r.readTag()
        f match {
          case 1 => db = r.readString()
          case 2 => ns = r.readString()
          case 3 => m = r.readString()
          case 4 => val (q, recs) = quidRecords(r.readMessage()); payload = SubscribedByQueryString(q, recs)
          case 5 =>
            val mr = r.readMessage()
            var qs = ""; var reason = ""; var msg = ""
            while (mr.hasNext) {
              val (mf, mw) = mr.readTag()
              mf match {
                case 1 => qs = mr.readString(); case 2 => reason = mr.readString()
                case 3 => msg = mr.readString(); case _ => mr.skip(mw)
              }
            }
            payload = SubscriptionFailed(qs, reason, msg)
          case 6 => val (q, recs) = quidRecords(r.readMessage()); payload = RecordsPublished(q, recs)
          case _ => r.skip(wire)
        }
      }
      SqlStreamingResponse(db, ns, m, payload)
    }
  }
}
