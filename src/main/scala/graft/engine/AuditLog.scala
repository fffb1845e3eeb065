package graft.engine

import org.apache.spark.sql.Row

import scala.util.control.NonFatal

/** API-call auditing into `$system/audit/<instance>/<token_name>`
  * (api/http/middleware/audit.rs + syslog/payload/audit.rs): every
  * request except the health probes becomes an `api_call` event carrying
  * token/method/path/client_ip/call_count/duration, with the HTTP status
  * as a queryable label.
  *
  * Like the reference's aggregated audit logger (syslog/aggregate/
  * audit.rs), events BATCH in memory keyed by (token, method, path,
  * status) — merged `call_count` + summed duration — and flush as one
  * write when `flushEvery` distinct keys accumulate or on an explicit
  * [[flush]]; a per-request Spark write would tax every API call with a
  * job. A failed flush re-buffers nothing and never fails the request
  * path. Timestamps are strictly increasing (ts is the record id).
  */
final class AuditLog(store: BucketStore, instance: String,
    enabled: Boolean, flushEvery: Int = 64,
    /** Replica sink (syslog/forward_writer.rs): audit events forward to
      * the primary instead of writing the local `$system`. */
    forwarder: Option[SystemEventForwarder] = None) {

  private val inst = if (instance.isEmpty) "unknown" else instance
  private val buf =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String, Int),
      (Long, Double)]()
  private val lastUs = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Token resolution mirrors resolve_audit_token_name: 401 →
    * `unauthorized`; open instance → `anonymous`; otherwise the
    * validated token's name, or skip when the token doesn't validate. */
  def record(tokenName: Option[String], method: String, path: String,
      status: Int, clientIp: Option[String], durationSec: Double): Unit = {
    if (!enabled) return
    // EXACT health-probe routes only: endsWith would let an ordinary
    // entry legitimately named 'alive'/'ready' evade the audit trail
    if (path == "/api/v1/alive" || path == "/api/v1/ready") return
    val name = if (status == 401) Some("unauthorized") else tokenName
    name.foreach { n =>
      buf.merge((n, method, path, status), (1L, durationSec), addTally)
      if (buf.size >= flushEvery) flush(clientIp)
    }
  }

  private val addTally: java.util.function.BiFunction[(Long, Double),
    (Long, Double), (Long, Double)] = (a, b) => (a._1 + b._1, a._2 + b._2)

  /** Drain the buffer into one `$system` write (no-op when empty).
    * `client_ip` on a flushed row is the flushing request's — an
    * aggregated row can merge calls from several clients, and the
    * per-key tally (not per-client attribution) is the audit signal. */
  private def drainBuf(): Seq[((String, String, String, Int), (Long, Double))] = {
    import scala.jdk.CollectionConverters._
    buf.keySet().asScala.toSeq.sortBy(_.toString()).flatMap {
      k => Option(buf.remove(k)).map(v => (k, v))
    }
  }

  private def payloadJson(token: String, method: String, path: String,
      clientIp: Option[String], n: Long, dur: Double): String =
    s"""{"event_type":"api_call","token_name":${js(token)},""" +
      s""""method":${js(method)},"path":${js(path)},""" +
      s""""client_ip":${clientIp.map(js).getOrElse("null")},""" +
      s""""call_count":$n,"duration":$dur}"""

  /** Drain the buffer into [[SystemLog.Event]]s and hand them to
    * `write`, a SHARED `$system` write: the periodic tick and the
    * shutdown flush fold the audit drain into the usage flush's single
    * store mutation instead of paying a second one (one job per flush,
    * not two — the mutation's fixed cost is the measured serving
    * bottleneck). Entry, labels and payload are identical to [[flush]]'s
    * rows; ts assignment moves to the syslog's shared strictly-increasing
    * clock. When `write` returns false or throws, the drained tallies
    * merge back into the buffer for the next flush. Returns `write`'s
    * result. */
  def drainInto(write: Seq[SystemLog.Event] => Boolean): Boolean = {
    val drained = if (enabled) drainBuf() else Seq.empty
    def rebuffer(): Unit = for ((k, v) <- drained) buf.merge(k, v, addTally)
    val nowUs = System.currentTimeMillis() * 1000L
    val written =
      try write(drained.map { case ((token, method, path, status), (n, dur)) =>
        SystemLog.Event("audit", token, status,
          payloadJson(token, method, path, None, n, dur), nowUs)
      })
      catch { case NonFatal(e) => rebuffer(); throw e }
    if (!written) rebuffer()
    written
  }

  def flush(clientIp: Option[String] = None,
      nowUs: Long = System.currentTimeMillis() * 1000L): Unit = {
    if (!enabled || buf.isEmpty) return
    import scala.jdk.CollectionConverters._
    val drained = drainBuf()
    if (drained.isEmpty) return
    val rows = drained.map { case ((token, method, path, status), (n, dur)) =>
      val ts = lastUs.updateAndGet(prev => math.max(prev + 1, nowUs))
      val payload = payloadJson(token, method, path, clientIp, n, dur)
      Row("$system", s"audit/$inst/$token", ts,
        Map("status" -> status.toString),
        Map.empty[String, String], "application/json",
        graft.core.Records.State.Finished, payload.getBytes("UTF-8"))
    }
    forwarder match {
      case Some(fwd) =>
        // one multi-entry io-v2 batch per flush — same amortization as
        // SystemLog.events (one primary mutation instead of one POST per
        // aggregated audit row)
        fwd.sendBatch(rows.map(r => (r.getAs[String](1), r.getAs[Long](2),
          r.getAs[Map[String, String]](3), r.getAs[Array[Byte]](7)))): Unit
      case None =>
        try
          store.writeWithSettings("$system", store.spark.createDataFrame(
            rows.asJava, graft.core.Records.schema), BucketStore.Conflict.Skip,
            incomingBytes = rows.map(_.getAs[Array[Byte]](7).length.toLong).sum,
            // declared entries + serially-assigned ts bounds: the flush
            // must neither re-arm the full-walk compaction probe nor pay
            // a bounds-agg job for values already in hand
            touchedEntries = Some(rows.map(r =>
              ("$system", r.getAs[String](1))).distinct),
            knownTsBounds = Some((rows.head.getAs[Long](2),
              rows.last.getAs[Long](2))))
        catch { case NonFatal(_) => () } // auditing must never fail a request
    }
  }

  private def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
