package graft.sources.points

import java.util

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 WRITE connector for tagged time-series points
  * (SURVEY §2.2 K5): the engine-grade form of the reference's
  * InfluxDB point write (`url_service_status_InfluxDB_insert.py:
  * 110-123,141-159`) — rows rendered as line protocol
  * (`measurement,tag=v,... field=v,... epoch_seconds`, the
  * reference's `time_precision='s'`) with a REAL two-phase commit
  * instead of fire-and-forget `foreachPartition`:
  *
  *   - every task attempt streams its partition to a UNIQUE staged
  *     file under `$path/_staging/` (attempt identity in the name, so
  *     a speculative or retried attempt can never clobber another);
  *   - a successful attempt's [[PointsCommitMessage]] names its
  *     staged file; Spark delivers messages only from the ONE winning
  *     attempt per partition;
  *   - `BatchWrite.commit` publishes exactly the named files into
  *     `$path` by rename (atomic on HDFS-semantics filesystems) and
  *     then drops the whole staging dir — orphaned losers vanish,
  *     duplicates are structurally impossible;
  *   - `BatchWrite.abort` / `DataWriter.abort` delete staged output,
  *     so a failed job publishes NOTHING (the all-or-nothing contract
  *     the reference approximates with its dated-backup replay path,
  *     `load_to_db.py:60-62`).
  *
  * Usage:
  * {{{
  *   df.write.format("graft-points").mode("append")
  *     .option("path", dir)
  *     .option("measurement", "service_status")
  *     .option("tagCols", "host_name,service_description")
  *     .option("fieldCols", "state_numeric,crownjewel")
  *     .option("timeCol", "ts")
  *     .save()
  * }}}
  *
  * At 100 TB: one staged file per partition, commit cost is
  * O(partitions) driver-side renames (the same shape as Hadoop's
  * FileOutputCommitter v1); no driver memory scales with data.
  */
class PointsDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graft-points"

  // write-only source: the table schema is whatever the written
  // DataFrame carries (supplied by Spark via getTable)
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()

  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new PointsTable(schema, properties)
}

class PointsTable(tableSchema: StructType,
    properties: util.Map[String, String]) extends SupportsWrite {

  override def name(): String =
    s"graft-points(${Option(properties.get("path"))
      .orElse(Option(properties.get("endpointUrl"))).getOrElse("?")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // overwrite mode arrives as truncate(); publishing into a
      // cleaned dir is the natural line-protocol overwrite
      private var truncateFirst = false
      override def truncate(): WriteBuilder = { truncateFirst = true; this }
      override def build(): Write = new Write {
        private val conf = PointsWriteConf(info.options, info.schema)
        override def toBatch: BatchWrite = conf.endpoint match {
          case Some(_) =>
            // a remote endpoint has no "previous parts" to clean; an
            // overwrite request is a semantic mismatch, not a no-op
            if (truncateFirst) throw new IllegalArgumentException(
              "overwrite is not supported in endpointUrl mode " +
                "(a live endpoint cannot be truncated by this sink)")
            PointsEndpointPrecondition.ensureDbExists(conf)
            new PointsEndpointBatchWrite(conf)
          case None => new PointsBatchWrite(conf, truncateFirst)
        }
        override def toStreaming:
            org.apache.spark.sql.connector.write.streaming.StreamingWrite =
          conf.endpoint match {
            case Some(_) =>
              PointsEndpointPrecondition.ensureDbExists(conf)
              new PointsEndpointStreamingWrite(conf)
            case None => new PointsStreamingWrite(conf)
          }
      }
    }
}

/** Transport security + auth options for the sink endpoint, mirroring
  * the reference's InfluxDB client surface (`url_service_status_
  * InfluxDB_insert.py:142-149`: client cert + key paths, SSL verify).
  * Validated at writer BUILD time — a typo'd cert path must fail the
  * plan, not the 400th task of a 1000-executor job.
  */
case class PointsTlsConf(clientCertPath: Option[String],
    clientKeyPath: Option[String], sslVerify: Boolean)
    extends Serializable

object PointsTlsConf {
  /** JVM defaults: no client credentials, verification on. */
  val default: PointsTlsConf = PointsTlsConf(None, None, sslVerify = true)

  /** Build-time validation of the TLS/auth option surface
    * (`clientCertPath`, `clientKeyPath`, `sslVerify`): cert and key
    * must come together (the reference passes them as a pair), named
    * files must exist, and the verify flag must parse.
    */
  def fromOptions(option: String => Option[String]): PointsTlsConf = {
    val cert = option("clientCertPath").filter(_.nonEmpty)
    val key = option("clientKeyPath").filter(_.nonEmpty)
    (cert, key) match {
      case (Some(_), None) | (None, Some(_)) =>
        throw new IllegalArgumentException(
          "clientCertPath and clientKeyPath must be set together")
      case _ => ()
    }
    (cert.toSeq ++ key.toSeq).foreach { p =>
      if (!new java.io.File(p).isFile)
        throw new IllegalArgumentException(
          s"TLS credential file does not exist: $p")
    }
    val verify = option("sslVerify") match {
      case None => true
      case Some(v) if v.equalsIgnoreCase("true") => true
      case Some(v) if v.equalsIgnoreCase("false") => false
      case Some(v) => throw new IllegalArgumentException(
        s"sslVerify must be true or false, got '$v'")
    }
    PointsTlsConf(cert, key, verify)
  }
}

/** Live-endpoint delivery policy (set ⇔ `endpointUrl` given):
  * batches of `batchRows` lines per POST (the batch shape of the
  * reference client's `write_points(batch_size=...)`), with the
  * retry/backoff/timeout bound enforced by [[PointsTransport.guarded]].
  * `url` is FINAL — it already carries the resolved `precision=`
  * parameter. `requireDb` arms the driver-side DB-exists precondition
  * ([[PointsEndpointPrecondition]]).
  */
case class PointsEndpointConf(url: String, transportClass: String,
    batchRows: Int, maxRetries: Int, backoffMs: Long, timeoutMs: Long,
    requireDb: Option[String] = None)
    extends Serializable

/** All executor-visible write configuration, resolved ONCE on the
  * driver at plan time (field indices, not names, ship to tasks).
  * Exactly one of `path` (staged-file 2PC mode) and `endpoint`
  * (live HTTP mode) is set. `timePrecision` (s|ms|u|ns, default s —
  * the reference's `time_precision='s'`) fixes the unit of the
  * rendered timestamp AND, in endpoint mode, the URL's `precision=`
  * parameter — one option, both surfaces, impossible to skew.
  */
case class PointsWriteConf(path: Option[String], measurement: String,
    tagIdx: Seq[(String, Int)], fieldIdx: Seq[(String, Int, DataType)],
    timeIdx: Int, timeType: DataType,
    tls: PointsTlsConf,
    endpoint: Option[PointsEndpointConf] = None,
    timePrecision: String = "s") extends Serializable {
  /** File-mode root; only file-mode code paths may call this. */
  def dir: String = path.getOrElse(throw new IllegalStateException(
    "points sink is in endpoint mode — no file path"))
}

object PointsWriteConf {
  /** The active session's Hadoop conf (object-store filesystems and
    * their credentials arrive as `spark.hadoop.*` settings), resolved
    * once on the driver per write and shipped to every task with the
    * writer factory.
    */
  def sessionHadoopConf(): SerializableConfiguration =
    new SerializableConfiguration(PlanBridge.hadoopConf(SparkSession.active))

  def apply(options: CaseInsensitiveStringMap,
      schema: StructType): PointsWriteConf = {
    def cols(key: String): Seq[String] =
      Option(options.get(key)).map(_.split(",").map(_.trim).toSeq
        .filter(_.nonEmpty)).getOrElse(Seq.empty)
    val path = Option(options.get("path")).filter(_.nonEmpty)
    val endpointUrl = Option(options.get("endpointUrl")).filter(_.nonEmpty)
    // one precision, two surfaces: the rendered timestamp unit and the
    // endpoint URL's precision= parameter must agree or the server
    // misreads every point by orders of magnitude. Resolution order:
    // an explicit precision= already in the URL wins (and conflicts
    // with the option are an error), else the timePrecision option,
    // else the reference's 's'.
    val urlPrecision = endpointUrl.flatMap(u =>
      "[?&]precision=([^&]*)".r.findFirstMatchIn(u).map(_.group(1)))
    val precisionOption =
      Option(options.get("timePrecision")).filter(_.nonEmpty)
    val timePrecision = (urlPrecision, precisionOption) match {
      case (Some(a), Some(b)) if a != b => throw new IllegalArgumentException(
        s"endpointUrl carries precision=$a but timePrecision=$b — " +
          "set one, not two disagreeing")
      case (Some(a), _) => a
      case (None, Some(b)) => b
      case (None, None) => "s"
    }
    if (!Set("s", "ms", "u", "ns").contains(timePrecision))
      throw new IllegalArgumentException(
        s"timePrecision must be one of s|ms|u|ns, got '$timePrecision'")
    val requireDb = Option(options.get("requireDb")).filter(_.nonEmpty)
    if (requireDb.isDefined && endpointUrl.isEmpty)
      throw new IllegalArgumentException(
        "requireDb applies to endpointUrl mode only (a file-mode " +
          "write has no target database to probe)")
    val endpoint = endpointUrl.map { url =>
      def num(key: String, default: Long): Long =
        Option(options.get(key)).map(_.toLong).getOrElse(default)
      val finalUrl =
        if (urlPrecision.isDefined) url
        else url + (if (url.contains("?")) "&" else "?") +
          s"precision=$timePrecision"
      PointsEndpointConf(finalUrl,
        Option(options.get("transportClass"))
          .getOrElse(classOf[PointsHttpTransport].getName),
        batchRows = num("batchRows", 5000L).toInt,
        maxRetries = num("maxRetries", 3L).toInt,
        backoffMs = num("backoffMs", 500L),
        timeoutMs = num("timeoutMs", 30000L),
        requireDb = requireDb)
    }
    (path, endpointUrl) match {
      case (None, None) => throw new IllegalArgumentException(
        "graft-points needs a path (file mode) or endpointUrl (HTTP mode)")
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "graft-points takes path OR endpointUrl, not both")
      case _ => ()
    }
    val timeCol = Option(options.get("timeCol")).getOrElse("ts")
    def idx(c: String): Int = schema.fieldIndex(c)
    val tags = cols("tagCols").map { c =>
      // tags render via row.getString — a non-string column would
      // surface as a task-time ClassCastException (or garbage bytes
      // from the UnsafeRow); reject it here, plan-time, like the time
      // column's type check
      if (schema(c).dataType != StringType)
        throw new IllegalArgumentException(
          s"tag column '$c' must be STRING, got " +
            schema(c).dataType.simpleString +
            " (cast it before writing)")
      c -> idx(c)
    }
    PointsWriteConf(
      path,
      Option(options.get("measurement")).getOrElse("points"),
      tags,
      cols("fieldCols").map(c =>
        (c, idx(c), schema(c).dataType)),
      idx(timeCol), schema(timeCol).dataType,
      PointsTlsConf.fromOptions(k => Option(options.get(k))), endpoint,
      timePrecision)
  }
}

class PointsBatchWrite(conf: PointsWriteConf, truncateFirst: Boolean,
    hadoopConf: SerializableConfiguration =
      PointsWriteConf.sessionHadoopConf())
    extends BatchWrite {

  // published names carry a per-JOB id, not the winning attempt's
  // taskId: a later application appending into the same dir can reuse
  // (partitionId, taskId) pairs, and a taskId-named part would collide
  // with (and clobber) a previously published file
  private val jobId = java.util.UUID.randomUUID().toString.take(8)

  private def fs(): (FileSystem, Path) = {
    val p = new Path(conf.dir)
    (p.getFileSystem(hadoopConf.value), p)
  }

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    val (f, root) = fs()
    f.mkdirs(new Path(root, "_staging"))
    new PointsWriterFactory(conf, hadoopConf)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val (f, root) = fs()
    if (truncateFirst) {
      // publish-into-clean-dir: remove previously published parts —
      // and any per-epoch manifests, which are idempotence markers: a
      // stale one would make a future streaming run into this dir
      // silently skip its epoch — only now that every task succeeded
      (Option(f.globStatus(new Path(root, "part-*.lp")))
          .getOrElse(Array.empty) ++
        Option(f.globStatus(new Path(root, "_epoch-*")))
          .getOrElse(Array.empty))
        .foreach(s => f.delete(s.getPath, false))
    }
    var total = 0L
    messages.collect { case m: PointsCommitMessage => m }.foreach { m =>
      val staged = new Path(m.stagedFile)
      if (m.rows > 0L) {
        val target = new Path(root,
          f"part-${m.partitionId}%05d-$jobId.lp")
        if (!f.rename(staged, target))
          throw new java.io.IOException(
            s"commit failed renaming $staged -> $target")
      } else f.delete(staged, false) // empty partition: publish nothing
      total += m.rows
    }
    // manifest last: its presence == the commit happened; readers can
    // reconcile counts against it (A3, `url...py:156-159`)
    val out = f.create(new Path(root, "_SUCCESS"), true)
    out.write(s"""{"rows":$total}""".getBytes("UTF-8"))
    out.close()
    f.delete(new Path(root, "_staging"), true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val (f, root) = fs()
    // staged-only state: dropping the staging dir removes everything
    // any attempt (winner or loser) ever wrote; published parts from
    // PRIOR successful jobs are untouched
    f.delete(new Path(root, "_staging"), true)
  }
}

class PointsWriterFactory(conf: PointsWriteConf,
    hadoopConf: SerializableConfiguration) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new PointsDataWriter(conf, hadoopConf, partitionId, taskId,
      stagingSub = "")
}

/** Streaming form of the commit protocol (§2.9 sink side): each epoch
  * stages under its own `_staging/epoch-<id>/` and publishes
  * atomically on `commit(epochId, _)`, writing an `_epoch-<id>`
  * manifest LAST. The manifest doubles as the idempotence marker: a
  * replayed epoch (checkpoint recovered after a commit the driver
  * didn't get to record) sees it and publishes NOTHING. Inside the
  * marker-less crash window — driver died mid-commit, after some
  * renames — the replay is still safe because publish names are
  * deterministic per (epoch, partition) and the rename skips existing
  * targets, so each partition publishes exactly once no matter where
  * the previous attempt stopped — the exactly-once contract the
  * reference approximates with its payload-snapshot dedup
  * (`extract.py:14-17,115-132`), here enforced by the sink itself.
  */
class PointsStreamingWriterFactory(conf: PointsWriteConf,
    hadoopConf: SerializableConfiguration)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new PointsDataWriter(conf, hadoopConf, partitionId, taskId,
      stagingSub = s"epoch-$epochId/")
}

class PointsStreamingWrite(conf: PointsWriteConf,
    hadoopConf: SerializableConfiguration =
      PointsWriteConf.sessionHadoopConf())
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private def fs(): (FileSystem, Path) = {
    val p = new Path(conf.dir)
    (p.getFileSystem(hadoopConf.value), p)
  }

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val (f, root) = fs()
    f.mkdirs(new Path(root, "_staging"))
    // named top-level factory: an anonymous class here would capture
    // this (non-serializable) StreamingWrite as its $outer
    new PointsStreamingWriterFactory(conf, hadoopConf)
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val (f, root) = fs()
    val marker = new Path(root, s"_epoch-$epochId")
    val staged = new Path(root, s"_staging/epoch-$epochId")
    if (!f.exists(marker)) { // replayed epoch: already published
      // markerless part files for THIS epoch are remnants of a commit
      // attempt that died before its marker write. Remove them before
      // publishing: the replayed epoch may legally partition the same
      // rows differently (shuffle-partition or AQE change across the
      // restart), so skipping name collisions would publish a MIX of
      // old and new partitionings — duplicating some rows and losing
      // others. Delete-then-publish makes the replay a clean,
      // self-consistent publish no matter where the previous attempt
      // stopped; files only count once the `_epoch-<id>` marker
      // exists, and a crash inside THIS window just repeats the same
      // cleanup on the next replay.
      val stale = f.globStatus(new Path(root, s"part-*-epoch$epochId.lp"))
      if (stale != null) stale.foreach(s => f.delete(s.getPath, false))
      var total = 0L
      messages.collect { case m: PointsCommitMessage => m }.foreach { m =>
        val src = new Path(m.stagedFile)
        if (m.rows > 0L) {
          // deterministic per (epoch, partition) — NO taskId, so a
          // replay can identify (and above, reclaim) exactly its own
          // epoch's files
          val target = new Path(root,
            f"part-${m.partitionId}%05d-epoch$epochId.lp")
          if (!f.rename(src, target))
            throw new java.io.IOException(
              s"epoch $epochId commit failed renaming $src -> $target")
        } else f.delete(src, false)
        total += m.rows
      }
      val out = f.create(marker, true)
      out.write(s"""{"epoch":$epochId,"rows":$total}""".getBytes("UTF-8"))
      out.close()
    }
    f.delete(staged, true)
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val (f, root) = fs()
    f.delete(new Path(root, s"_staging/epoch-$epochId"), true)
  }
}

case class PointsCommitMessage(partitionId: Int, taskId: Long,
    stagedFile: String, rows: Long) extends WriterCommitMessage

/** Row → InfluxDB line protocol (`measurement,tag=v,... field=v,...
  * epoch_seconds`, the reference's `time_precision='s'` wire form) —
  * shared by the staged-file writer and the live-endpoint writer so
  * both modes emit byte-identical lines.
  */
private[points] final class PointsLineRenderer(conf: PointsWriteConf)
    extends Serializable {

  /** Line-protocol escaping for tag values: `,`, ` ` and `=` are
    * structural in the tag set — and NEWLINE is structural in the
    * stream itself (one line = one point), so a raw `\n`/`\r` in a
    * value would inject a bogus record into the batch (and corrupt
    * the endpoint's line count). The protocol has no newline support
    * in values at all; render them as the literal 2-char sequences
    * `\n`/`\r` — framing stays intact, the value stays recoverable.
    *
    * Value-fidelity caveat: real InfluxDB defines NO `\n` escape (its
    * parser treats backslash as an escape only before `,`, `=`, ` `),
    * so a genuine endpoint stores these as the literal two characters
    * — values containing newlines or backslashes round-trip ALTERED.
    * That is the deliberate trade: framing safety (no injected
    * points, stable line counts) over byte-exact recovery of
    * characters the wire format cannot carry; influxdb-python offers
    * no newline handling at all and corrupts the stream instead.
    */
  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace(",", "\\,")
      .replace(" ", "\\ ").replace("=", "\\=")
      .replace("\n", "\\n").replace("\r", "\\r")

  private def fieldValue(dt: DataType, v: Any): String = dt match {
    case StringType => "\"" + v.toString.replace("\\", "\\\\")
      .replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\r", "\\r") + "\""
    case LongType | IntegerType | ShortType | ByteType => s"${v}i"
    case _ => v.toString
  }

  /** Timestamp in the conf's precision unit. Timestamp columns carry
    * internal MICROS; raw Long/Int columns keep their reference
    * semantics of epoch SECONDS and convert up/down from there.
    */
  private def renderTime(v: Any): Long = {
    val micros = conf.timeType match {
      case TimestampType | TimestampNTZType => v.asInstanceOf[Long]
      case LongType => v.asInstanceOf[Long] * 1000000L
      case IntegerType => v.asInstanceOf[Int].toLong * 1000000L
      case other => throw new IllegalArgumentException(
        s"unsupported time column type ${other.simpleString}")
    }
    conf.timePrecision match {
      case "s" => micros / 1000000L
      case "ms" => micros / 1000L
      case "u" => micros
      case "ns" => micros * 1000L
      case other => throw new IllegalArgumentException(
        s"unsupported timePrecision '$other'") // unreachable: validated
    }
  }

  /** Line protocol has NO representation for non-finite floats — a
    * rendered `f=NaN` is a guaranteed 400 from a real endpoint (and an
    * unreadable token for any reader). Treat NaN/±Inf like SQL null:
    * the field is absent from that point — the same semantics the
    * reference reaches by dropping NaN upstream (`extract.py`'s
    * parse-or-NaN → dropna).
    */
  private def finite(dt: DataType, row: InternalRow, i: Int): Boolean =
    dt match {
      case DoubleType => java.lang.Double.isFinite(row.getDouble(i))
      case FloatType => java.lang.Float.isFinite(row.getFloat(i))
      case _ => true
    }

  def render(row: InternalRow): String = {
    val sb = new StringBuilder(conf.measurement)
    conf.tagIdx.foreach { case (name, i) =>
      if (!row.isNullAt(i))
        sb.append(',').append(name).append('=')
          .append(esc(row.getString(i)))
    }
    sb.append(' ')
    var first = true
    conf.fieldIdx.foreach { case (name, i, dt) =>
      if (!row.isNullAt(i) && finite(dt, row, i)) {
        if (!first) sb.append(',')
        first = false
        sb.append(name).append('=')
          .append(fieldValue(dt, row.get(i, dt)))
      }
    }
    if (first) sb.append("__rows=1i") // point with no non-null field
    if (!row.isNullAt(conf.timeIdx))
      sb.append(' ').append(renderTime(row.get(conf.timeIdx,
        conf.timeType)))
    sb.toString
  }
}

class PointsDataWriter(conf: PointsWriteConf,
    hadoopConf: SerializableConfiguration, partitionId: Int,
    taskId: Long, stagingSub: String) extends DataWriter[InternalRow] {

  // attempt identity in the name: retried/speculative attempts of the
  // same partition write DIFFERENT files
  private val staged = new Path(
    s"${conf.dir}/_staging/${stagingSub}part-$partitionId-$taskId.lp")
  private val fsys = staged.getFileSystem(hadoopConf.value)
  private val out = new java.io.BufferedWriter(
    new java.io.OutputStreamWriter(fsys.create(staged, true), "UTF-8"))
  private var rows = 0L
  private val renderer = new PointsLineRenderer(conf)

  override def write(row: InternalRow): Unit = {
    out.write(renderer.render(row))
    out.write('\n')
    rows += 1L
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    PointsCommitMessage(partitionId, taskId, staged.toString, rows)
  }

  override def abort(): Unit = {
    out.close()
    fsys.delete(staged, false) // this attempt's state, gone
  }

  override def close(): Unit = ()
}
