package graft.sources.points

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}

/** Live-endpoint (HTTP) mode of the points sink — the engine-grade
  * form of the reference's InfluxDB client write
  * (`url_service_status_InfluxDB_insert.py:141-159`:
  * `InfluxDBClient(host, ssl=True, verify_ssl=..., cert=(cert, key))`
  * then `write_points(points, time_precision='s', protocol='line')`).
  *
  * Each task renders its partition to line protocol and POSTs it in
  * batches of `batchRows` lines through the pluggable
  * [[PointsTransport]] (retry/backoff/deadline enforced by
  * [[PointsTransport.guarded]]). The driver-side commit is a no-op by
  * design: a POST the server acknowledged is already durable
  * server-side, so there is nothing to publish — and nothing to
  * un-send on abort. Delivery is therefore at-least-once per batch
  * (a task retried after some flushes re-sends them), which is safe
  * for line protocol by construction: a point is keyed by
  * (measurement, tag set, timestamp) and a duplicate write is an
  * idempotent upsert — the exact property the reference's
  * fire-and-forget `write_points` relies on.
  *
  * At 100 TB: every executor streams its own partitions to the
  * endpoint in bounded batches — no driver involvement, no state that
  * scales with data; the endpoint's ingest capacity is the only
  * ceiling, tunable via `batchRows` and partition count.
  *
  * Timestamps render in the `timePrecision` unit (s|ms|u|ns, default
  * s — the reference's `time_precision='s'`), and the SAME option
  * appends `precision=` to the write URL, so the rendered unit and
  * the server's interpretation cannot skew; a `precision=` already
  * present in `endpointUrl` wins (a conflicting option is a
  * plan-time error). A `requireDb=<name>` option arms the
  * reference's fail-fast-if-database-missing precondition
  * ([[PointsEndpointPrecondition]], `url...py:151-152`). Value
  * fidelity caveat for newlines/backslashes in tag and field values:
  * see [[PointsLineRenderer]].
  */
class PointsEndpointBatchWrite(conf: PointsWriteConf) extends BatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new PointsEndpointWriterFactory(conf)

  // acknowledged POSTs are already durable server-side; commit
  // publishes nothing (and uses the default commit coordinator, so
  // only one attempt per partition ever flushes to completion)
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()

  // a live endpoint cannot un-receive: abort drops only the unsent
  // buffer (task-side); earlier acknowledged batches remain — the
  // at-least-once contract documented above
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

/** Typed fail-fast for a misconfigured endpoint target (reference:
  * exits before writing when the target DB is absent,
  * `url_service_status_InfluxDB_insert.py:151-152`).
  */
class PointsPreconditionException(msg: String, cause: Throwable = null)
  extends RuntimeException(msg, cause)

/** Driver-side DB-exists precondition for endpoint mode: ONE
  * `SHOW DATABASES` probe through the SAME transport + TLS the write
  * itself will use (so the probe exercises cert/verify wiring too),
  * before any executor renders a line. Without it a missing database
  * surfaces as the server's 4xx at the first batch — thousands of
  * task failures for one driver-detectable misconfiguration.
  */
object PointsEndpointPrecondition {
  def ensureDbExists(conf: PointsWriteConf): Unit =
    for (ep <- conf.endpoint; db <- ep.requireDb) {
      val uri = java.net.URI.create(ep.url)
      val probeUrl = s"${uri.getScheme}://${uri.getRawAuthority}" +
        "/query?q=" + java.net.URLEncoder.encode("SHOW DATABASES", "UTF-8")
      val transport = Class.forName(ep.transportClass)
        .getDeclaredConstructor().newInstance().asInstanceOf[PointsTransport]
      // the probe rides the SAME retry/backoff/fast-fail policy as
      // the writes it guards — a transient 503 at plan time must not
      // fail a job whose first write POST would have retried through
      val resp =
        try PointsTransport.guardedFetch(transport, probeUrl, "",
          conf.tls, ep.maxRetries, ep.backoffMs, ep.timeoutMs)
        catch { case e: Exception =>
          throw new PointsPreconditionException(
            s"DB-exists probe failed against $probeUrl: ${e.getMessage}", e)
        }
      // InfluxDB's SHOW DATABASES body lists names as JSON strings;
      // the quoted exact-match check needs no JSON parser and cannot
      // prefix-match (db "foo" never matches "foobar")
      if (!resp.body.contains("\"" + db + "\""))
        throw new PointsPreconditionException(
          s"target database '$db' does not exist at " +
            s"${uri.getScheme}://${uri.getRawAuthority} " +
            s"(SHOW DATABASES: ${resp.body.take(200)}); " +
            "create it before writing")
    }
}

class PointsEndpointWriterFactory(conf: PointsWriteConf)
    extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new PointsEndpointDataWriter(conf, partitionId, taskId)

  // streaming epochs share the writer: the endpoint keys points by
  // (measurement, tags, timestamp), so epoch identity adds nothing
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new PointsEndpointDataWriter(conf, partitionId, taskId)
}

/** Streaming twin: same per-task POST path; epoch commit is a no-op
  * for the same reason as batch (server-side durability + idempotent
  * point upserts make replayed epochs safe without a marker).
  */
class PointsEndpointStreamingWrite(conf: PointsWriteConf)
    extends StreamingWrite {

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new PointsEndpointWriterFactory(conf)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = ()

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = ()
}

/** Task-side writer: buffers rendered lines and flushes every
  * `batchRows` through the guarded transport. The transport is
  * instantiated by class name ON THE EXECUTOR (zero-arg constructor) —
  * the same seam the REST source uses, and the test seam for
  * fault-injection without a live endpoint.
  */
class PointsEndpointDataWriter(conf: PointsWriteConf, partitionId: Int,
    taskId: Long) extends DataWriter[InternalRow] {

  private val ep = conf.endpoint.getOrElse(throw new IllegalStateException(
    "endpoint writer without endpoint conf"))
  private val transport = Class.forName(ep.transportClass)
    .getDeclaredConstructor().newInstance().asInstanceOf[PointsTransport]
  private val renderer = new PointsLineRenderer(conf)

  private val buf = new java.lang.StringBuilder
  private var buffered = 0
  private var rows = 0L

  private def flush(): Unit = if (buffered > 0) {
    PointsTransport.guarded(transport, ep.url, buf.toString, conf.tls,
      ep.maxRetries, ep.backoffMs, ep.timeoutMs)
    buf.setLength(0)
    buffered = 0
  }

  override def write(row: InternalRow): Unit = {
    buf.append(renderer.render(row)).append('\n')
    buffered += 1
    rows += 1L
    if (buffered >= ep.batchRows) flush()
  }

  override def commit(): WriterCommitMessage = {
    flush()
    PointsCommitMessage(partitionId, taskId, stagedFile = "", rows)
  }

  override def abort(): Unit = {
    // unsent buffer only; acknowledged batches are the server's
    buf.setLength(0)
    buffered = 0
  }

  override def close(): Unit = ()
}
