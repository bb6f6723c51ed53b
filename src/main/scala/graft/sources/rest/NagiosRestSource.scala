package graft.sources.rest

import java.util

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.points.{PointsHttpTransport, PointsTlsConf}

/** DataSource V2 connector for the Nagios XI rrdexport API shape
  * (SURVEY §2.1 S2, §4 pushdown row): `spark.read.format("nagios-rest")
  * .option("endpointDir", dir).load()`.
  *
  * Architecture mirrors the production design exactly; only transport
  * differs. One InputPartition per (host, service) fetch task — the
  * engine's replacement for the reference's
  * `ThreadPoolExecutor(max_workers=5)` (`extract.py:150`): on a
  * cluster, fetch parallelism = partition parallelism. Pushdown
  * (SupportsPushDownFilters) turns `host_name`/`service_name`
  * equality/IN predicates into task pruning (fewer "requests") and a
  * `epoch >= ts` bound into the request's `start=` parameter
  * (`extract.py:71`) — filters are evaluated at the source, not after
  * ingestion.
  *
  * Transport: a [[RestTransport]] seam — one "request" = `fetch(url,
  * params)` returning a status + body, selected by the `transportClass`
  * option and wrapped in [[RestTransport.guarded]], which models the
  * reference's request contract: per-attempt timeout
  * (`url...py:50`, timeout=30), `raise_for_status` (`url...py:51`) with
  * 4xx failing FAST (a client error cannot succeed on retry), and
  * bounded exponential-backoff retry for 5xx/IO/timeout. Two endpoint
  * modes: `endpointDir` (default [[FileTransport]]) reads
  * `$endpointDir/rrdexport__<host>__<service>.json` — the same
  * document the HTTP GET would return — for zero-egress environments;
  * `endpointUrl` + `hostServices` (default [[HttpTransport]]) GETs the
  * live API once per (host, service) pair of the inventory-derived
  * fetch list. Options: `transportClass`, `maxRetries` (default 3),
  * `timeoutMs` (default 30000), `backoffMs` (default 100), `mode`
  * (`failfast` default | `permissive`), and for HTTPS endpoints
  * `sslVerify` (default true) and a PEM client cert/key pair
  * `clientCertPath` + `clientKeyPath` — the reference's `verify=`
  * and `cert=` (`extract.py:72`, `url...py:40-41`), validated when
  * the table is built, as the points sink does.
  *
  * Failure policy (`mode`): the reference logs an HTTP error for one
  * (host, service) and continues the extract with the rest
  * (`extract.py:100-103` — `log.error(...); return results`), whereas
  * `failfast` fails the Spark task (one decommissioned host's 404
  * kills the whole daily job). `mode=permissive` restores the
  * reference's per-task tolerance as the P3 dead-letter convention:
  * a failed fetch (exhausted retries, 4xx, or an unparseable
  * response) emits ZERO data rows plus ONE in-band dead-letter row —
  * null epoch/values, the error in an extra `fetch_error` string
  * column appended to the schema (null on every data row) — so the
  * N−1 healthy hosts land and the failures stay queryable/auditable
  * (`df.filter($"fetch_error".isNotNull)`) instead of buried in
  * executor logs. Failfast keeps the strict schema (no error
  * column) and stays the default: silently-partial extracts must be
  * opted into. Note a user-supplied `epoch >= ts` bound is re-checked
  * by Spark post-scan (the residual-filter convention above), and a
  * dead-letter row's null epoch fails it — audit dead letters with an
  * unbounded read; a time-bounded read correctly returns only
  * in-bound data rows.
  *
  * Output schema: (host_name, service_name, epoch long, values
  * array<string>) — the normalized form consumed by
  * `HostMetrics.familyFrame`; the polymorphic scalar-or-list `v`
  * (`extract.py:87-93`) is normalized to a 1-element array here.
  */
class NagiosRestSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "nagios-rest"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    NagiosRestSource.schemaFor(
      NagiosRestSource.parseMode(Option(options.get("mode"))))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    def opt(k: String): Option[String] =
      Option(properties.get(k)).orElse(Option(properties.get(k.toLowerCase)))
    val endpoints = RestEndpoints(
      opt("endpointDir"), opt("endpointUrl"),
      opt("hostServices").map(NagiosRestSource.parseHostServices)
        .getOrElse(Seq.empty))
    if (endpoints.url.isEmpty && endpoints.dir.isEmpty)
      throw new IllegalArgumentException(
        "nagios-rest needs endpointDir (file mode) or endpointUrl " +
          "+ hostServices (HTTP mode)")
    if (endpoints.url.isDefined && endpoints.hostServices.isEmpty)
      throw new IllegalArgumentException(
        "endpointUrl mode needs hostServices " +
          "(\"host:service;host:service\" — the inventory-derived " +
          "fetch list, extract.py:107-112)")
    // transport default follows the endpoint mode; an explicit
    // transportClass (e.g. a custom pooled client) still wins
    val defaultTransport =
      if (endpoints.url.isDefined) classOf[HttpTransport].getName
      else classOf[FileTransport].getName
    new RestTable(endpoints, RestTransportConf(
      opt("transportClass").getOrElse(defaultTransport),
      opt("maxRetries").map(_.toInt).getOrElse(3),
      opt("timeoutMs").map(_.toLong).getOrElse(30000L),
      opt("backoffMs").map(_.toLong).getOrElse(100L),
      opt("apiKey").filter(_.nonEmpty),
      NagiosRestSource.parseMode(opt("mode")),
      PointsTlsConf.fromOptions(opt)))
  }
}

/** Where fetch tasks come from: `dir` mode enumerates endpoint docs on
  * disk (zero-egress default); `url` mode fetches a live base URL once
  * per (host, service) in `hostServices` — the task list a production
  * job derives from the inventory pipeline exactly as
  * `extract.py:107-112` iterates the host table.
  */
case class RestEndpoints(dir: Option[String], url: Option[String],
    hostServices: Seq[(String, String)])

/** Per-request transport policy, shipped inside every input partition
  * (plain primitives — java-serializable to executors). `apiKey`, when
  * set, rides every request as the `apikey` query param — the
  * reference embeds it in each URL (`extract.py:33,71`); here it is a
  * connector option so the task list and logs stay credential-free.
  * `tls` is the HTTPS client surface (verify flag, client cert/key).
  */
case class RestTransportConf(transportClass: String, maxRetries: Int,
    timeoutMs: Long, backoffMs: Long, apiKey: Option[String] = None,
    permissive: Boolean = false,
    tls: PointsTlsConf = PointsTlsConf.default)

/** One request attempt. Implementations must have a zero-arg
  * constructor (instantiated by class name on the executor) and should
  * treat `params` as the query string (host, service, start bound).
  * Status/retry/timeout policy lives OUTSIDE the transport, in
  * [[RestTransport.guarded]] — an HTTP implementation only maps
  * (url, params) to a response.
  */
trait RestTransport extends Serializable {
  def fetch(url: String, params: Map[String, String]): RestResponse

  /** The variant the guard actually calls: transports that can
    * enforce a timeout internally (HTTP connect/read) or speak TLS
    * override this so the configured `timeoutMs` and `tls` reach the
    * client instead of hardcoded defaults; everything else inherits
    * the plain fetch and relies on the guard's outer deadline thread
    * alone.
    */
  def fetch(url: String, params: Map[String, String],
      conf: RestTransportConf): RestResponse = fetch(url, params)
}

final case class RestResponse(status: Int, body: String)

/** Thrown by the guard; `retryable = false` marks a 4xx fast-fail. */
class RestRequestException(msg: String, val retryable: Boolean,
    cause: Throwable = null) extends RuntimeException(msg, cause)

/** Default zero-egress transport: the "GET" reads the endpoint doc the
  * real API would have returned. A missing doc surfaces as an
  * IOException → retried, then fails the task (matching a dead
  * endpoint).
  */
class FileTransport extends RestTransport {
  override def fetch(url: String, params: Map[String, String]): RestResponse =
    RestResponse(200, new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(url)), "UTF-8"))
}

/** Live HTTP transport over the JDK `java.net.http` client: one fetch
  * = one GET of `url` with `params` URL-encoded into the query string
  * — `requests.get(url, params=...)` (`extract.py:71-76`,
  * `url...py:49-50`) re-expressed. Selected automatically in
  * `endpointUrl` mode (or explicitly via `transportClass`).
  *
  * Policy split: retry/backoff/deadline live in
  * [[RestTransport.guarded]] (the outer bound); this class only maps
  * (url, params) → response. The guard's configured `timeoutMs`
  * reaches the HTTP request timeout through the deadline-aware fetch
  * overload — mirroring the reference's `timeout=30` shape but
  * honoring the user's option — so a black-holed connection fails
  * the attempt from the inside too, instead of pinning the guard's
  * deadline thread for the duration.
  *
  * The client is one JVM-wide instance per TLS configuration
  * (connection pooling across the executor's tasks — the fleet-fetch
  * shape of `extract.py:150`'s thread pool); instances of this class
  * are stateless shims around it, cheap to construct per task by
  * class name. TLS is the points sink's: `sslVerify=false` trusts a
  * self-signed endpoint, a client cert/key pair presents itself for
  * mutual TLS (`PointsHttpTransport.sslContextFor`).
  */
class HttpTransport extends RestTransport {
  override def fetch(url: String, params: Map[String, String]): RestResponse =
    fetch(url, params, 30000L)

  override def fetch(url: String, params: Map[String, String],
      conf: RestTransportConf): RestResponse =
    fetch(url, params, conf.timeoutMs, conf.tls)

  def fetch(url: String, params: Map[String, String], timeoutMs: Long,
      tls: PointsTlsConf = PointsTlsConf.default): RestResponse = {
    def enc(s: String): String =
      java.net.URLEncoder.encode(s, "UTF-8")
    // deterministic param order: a stable query string makes request
    // logs/caches comparable across runs (Map order is not)
    val query = params.toSeq.sortBy(_._1)
      .map { case (k, v) => enc(k) + "=" + enc(v) }.mkString("&")
    val full =
      if (query.isEmpty) url
      else url + (if (url.contains("?")) "&" else "?") + query
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(full))
      .timeout(java.time.Duration.ofMillis(math.max(1L, timeoutMs)))
      .GET().build()
    val resp = HttpTransport.clientFor(tls).send(req,
      java.net.http.HttpResponse.BodyHandlers.ofString())
    RestResponse(resp.statusCode(), resp.body())
  }
}

object HttpTransport {
  private val clients = new java.util.concurrent.ConcurrentHashMap[
    PointsTlsConf, java.net.http.HttpClient]()

  private def clientFor(tls: PointsTlsConf): java.net.http.HttpClient =
    clients.computeIfAbsent(tls, { conf =>
      val b = java.net.http.HttpClient.newBuilder()
        .connectTimeout(java.time.Duration.ofSeconds(30))
        .followRedirects(java.net.http.HttpClient.Redirect.NORMAL)
      PointsHttpTransport.sslContextFor(conf).foreach(b.sslContext)
      b.build()
    })
}

object RestTransport {

  /** The reference's request contract around any transport
    * (`url...py:49-51`): per-attempt deadline, raise_for_status, and
    * bounded retry. 2xx returns the body; 4xx throws immediately
    * (fail fast — retrying a client error cannot help, and hammering
    * the API hides the config bug); 5xx, IOException, and deadline
    * overruns retry up to `maxRetries` with exponential backoff.
    */
  def guarded(base: RestTransport, url: String,
      params: Map[String, String], conf: RestTransportConf): String = {
    // a negative value would skip the loop entirely and NPE on the
    // terminal throw; 0 = single attempt, no retry
    require(conf.maxRetries >= 0,
      s"maxRetries must be >= 0, got ${conf.maxRetries}")
    var attempt = 0
    var lastErr: Throwable = null
    while (attempt <= conf.maxRetries) {
      if (attempt > 0 && conf.backoffMs > 0)
        Thread.sleep(conf.backoffMs * (1L << math.min(attempt - 1, 6)))
      try {
        val resp = fetchWithDeadline(base, url, params, conf)
        if (resp.status >= 200 && resp.status < 300) return resp.body
        else if (resp.status >= 400 && resp.status < 500)
          throw new RestRequestException(
            s"$url returned client error ${resp.status}", retryable = false)
        else lastErr = new RestRequestException(
          s"$url returned ${resp.status}", retryable = true)
      } catch {
        case e: RestRequestException if !e.retryable => throw e
        case e: Exception => lastErr = e
      }
      attempt += 1
    }
    throw new RestRequestException(
      s"$url failed after ${conf.maxRetries + 1} attempts: " +
        s"${lastErr.getMessage}", retryable = true, lastErr)
  }

  /** Hard per-attempt deadline even for transports that cannot enforce
    * one internally: run the fetch on a daemon thread, cancel past the
    * deadline. An HTTP transport additionally passes the timeout to its
    * client (connect/read), making this the outer bound.
    */
  private def fetchWithDeadline(base: RestTransport, url: String,
      params: Map[String, String], conf: RestTransportConf): RestResponse = {
    val timeoutMs = conf.timeoutMs
    val ex = java.util.concurrent.Executors.newSingleThreadExecutor(
      (r: Runnable) => {
        val t = new Thread(r, "graft-rest-fetch"); t.setDaemon(true); t
      })
    try {
      val fut = ex.submit(new java.util.concurrent.Callable[RestResponse] {
        override def call(): RestResponse =
          base.fetch(url, params, conf)
      })
      try fut.get(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          fut.cancel(true)
          throw new java.io.IOException(
            s"request timed out after $timeoutMs ms")
        case e: java.util.concurrent.ExecutionException =>
          e.getCause match {
            case c: Exception => throw c
            case _ => throw e
          }
      }
    } finally ex.shutdownNow()
  }
}

object NagiosRestSource {
  val schema: StructType = StructType(Seq(
    StructField("host_name", StringType, nullable = false),
    StructField("service_name", StringType, nullable = false),
    StructField("epoch", LongType, nullable = true),
    StructField("values", ArrayType(StringType), nullable = true)))

  /** Permissive mode appends the in-band dead-letter column. */
  def schemaFor(permissive: Boolean): StructType =
    if (permissive)
      StructType(schema.fields :+
        StructField("fetch_error", StringType, nullable = true))
    else schema

  def parseMode(mode: Option[String]): Boolean =
    mode.map(_.trim.toLowerCase).filter(_.nonEmpty) match {
      case None | Some("failfast") => false
      case Some("permissive") => true
      case Some(other) => throw new IllegalArgumentException(
        s"nagios-rest mode must be failfast or permissive, got '$other'")
    }

  /** endpointDir file name for one fetch task. */
  def taskFile(host: String, service: String): String =
    s"rrdexport__${host}__${service}.json"

  /** `"host:service;host:service"` → pairs. `:` splits once, so
    * service names may contain spaces and further colons; `;` is the
    * pair separator (service names in the reference contain spaces
    * and commas — `extract.py:37-48` — but no semicolons).
    */
  def parseHostServices(s: String): Seq[(String, String)] =
    s.split(";").toSeq.map(_.trim).filter(_.nonEmpty).map { p =>
      p.split(":", 2) match {
        case Array(h, svc) if h.nonEmpty && svc.nonEmpty => (h, svc)
        case _ => throw new IllegalArgumentException(
          s"hostServices entry '$p' is not host:service")
      }
    }
}

class RestTable(endpoints: RestEndpoints, conf: RestTransportConf)
    extends Table with SupportsRead {
  override def name(): String =
    s"nagios-rest(${endpoints.url.orElse(endpoints.dir).getOrElse("")})"
  override def schema(): StructType =
    NagiosRestSource.schemaFor(conf.permissive)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RestScanBuilder(endpoints, conf)
}

/** Pushdown: equality/IN on host_name & service_name prune fetch
  * tasks; `epoch >= ts` becomes the start parameter. Everything else
  * stays for Spark to evaluate (returned from pushFilters).
  */
class RestScanBuilder(endpoints: RestEndpoints, conf: RestTransportConf)
    extends ScanBuilder with SupportsPushDownFilters {

  private var hosts: Option[Set[String]] = None
  private var services: Option[Set[String]] = None
  private var startEpoch: Option[Long] = None
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // multiple predicates on one column must COMBINE (intersect sets,
    // max epoch bound), never last-wins-overwrite
    def narrow(cur: Option[Set[String]], vs: Set[String]) =
      Some(cur.fold(vs)(_ intersect vs))
    val accepted = filters.filter {
      case EqualTo("host_name", v: String) =>
        hosts = narrow(hosts, Set(v)); true
      case In("host_name", vs) =>
        hosts = narrow(hosts, vs.collect { case s: String => s }.toSet); true
      case EqualTo("service_name", v: String) =>
        services = narrow(services, Set(v)); true
      case In("service_name", vs) =>
        services = narrow(services,
          vs.collect { case s: String => s }.toSet); true
      case GreaterThanOrEqual("epoch", v: Long) =>
        startEpoch = Some(startEpoch.fold(v)(math.max(_, v))); true
      case _ => false
    }
    pushed = accepted
    // host/service pruning is EXACT (task-name equality) so those are
    // fully handled; the epoch bound is INEXACT at the source (rows
    // with missing/garbage `t` can't evaluate it), so hand it back as
    // a residual for Spark to re-check — source-side it still prunes.
    val residual = accepted.filter {
      case GreaterThanOrEqual("epoch", _) => true
      case _ => false
    }
    filters.filterNot(accepted.contains) ++ residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new RestScan(endpoints, hosts, services, startEpoch, pushed, conf)
}

class RestScan(endpoints: RestEndpoints, hosts: Option[Set[String]],
    services: Option[Set[String]], startEpoch: Option[Long],
    pushed: Array[Filter], conf: RestTransportConf)
    extends Scan with Batch {

  override def readSchema(): StructType =
    NagiosRestSource.schemaFor(conf.permissive)
  override def toBatch: Batch = this
  override def description(): String =
    s"NagiosRestScan PushedFilters: [${pushed.mkString(", ")}]"

  /** Enumerate fetch tasks, pruned by pushed host/service predicates:
    * URL mode iterates the supplied inventory-derived (host, service)
    * list exactly as `extract.py:107-112` iterates the host table; dir
    * mode enumerates the catalog of endpoint docs on disk.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    def keep(host: String, service: String): Boolean =
      hosts.forall(_.contains(host)) && services.forall(_.contains(service))
    endpoints.url match {
      case Some(base) =>
        endpoints.hostServices.collect {
          case (host, service) if keep(host, service) =>
            RestInputPartition(host, service, base, startEpoch,
              conf): InputPartition
        }.toArray
      case None =>
        val dir = new java.io.File(endpoints.dir.get)
        val files = Option(dir.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.startsWith("rrdexport__"))
        files.flatMap { f =>
          f.getName.stripSuffix(".json").split("__") match {
            case Array(_, host, service) if keep(host, service) =>
              Some(RestInputPartition(host, service, f.getAbsolutePath,
                startEpoch, conf): InputPartition)
            case _ => None
          }
        }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RestReaderFactory
}

case class RestInputPartition(host: String, service: String, path: String,
    startEpoch: Option[Long], conf: RestTransportConf)
    extends InputPartition

class RestReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new RestPartitionReader(p.asInstanceOf[RestInputPartition])
}

/** One "API call": fetch + parse the response document through the
  * guarded transport, emit one row per data point at or after the
  * start bound.
  */
class RestPartitionReader(part: RestInputPartition)
    extends PartitionReader[InternalRow] {

  protected def fetchBody(): String = {
    val transport = Class.forName(part.conf.transportClass)
      .getDeclaredConstructor().newInstance().asInstanceOf[RestTransport]
    // the reference API's parameter names, verbatim (`extract.py:71`:
    // apikey, host_name, service_description, start) — a live Nagios
    // XI endpoint routes on these exact keys
    val params =
      Map("host_name" -> part.host, "service_description" -> part.service) ++
        part.startEpoch.map(s => "start" -> s.toString) ++
        part.conf.apiKey.map("apikey" -> _)
    RestTransport.guarded(transport, part.path, params, part.conf)
  }

  // data rows carry a null fetch_error slot in permissive mode; the
  // schema is mode-dependent (NagiosRestSource.schemaFor), so the row
  // arity must follow it
  private def dataRow(epoch: java.lang.Long,
      values: GenericArrayData): InternalRow = {
    val base = Seq[Any](
      UTF8String.fromString(part.host),
      UTF8String.fromString(part.service),
      epoch, values)
    InternalRow.fromSeq(
      if (part.conf.permissive) base :+ (null: Any) else base)
  }

  private def parse(body: String): Iterator[InternalRow] = {
    val mapper = new ObjectMapper()
    val doc = mapper.readTree(body)
    val row = doc.path("data").path("row")
    val out = ArrayBuffer.empty[InternalRow]
    if (row.isArray) {
      row.forEach { point =>
        val epoch = point.path("t").asText(null) match {
          case null => null
          case t => try { java.lang.Long.valueOf(t.trim.toLong) }
            catch { case _: NumberFormatException => null }
        }
        if (epoch == null ||
            part.startEpoch.forall(s => epoch.longValue() >= s)) {
          val v = point.path("v")
          val values: Array[UTF8String] =
            if (v.isArray) {
              val b = ArrayBuffer.empty[UTF8String]
              v.forEach((n: JsonNode) => b += UTF8String.fromString(n.asText()))
              b.toArray
            } else if (v.isMissingNode || v.isNull) Array.empty
            else Array(UTF8String.fromString(v.asText()))
          out += dataRow(epoch, new GenericArrayData(values))
        }
      }
    }
    out.iterator
  }

  private lazy val rows: Iterator[InternalRow] =
    if (!part.conf.permissive) parse(fetchBody())
    else
      // the reference's per-(host, service) tolerance
      // (extract.py:100-103): an exhausted-retry/4xx fetch or an
      // unparseable response dead-letters THIS task — zero data rows
      // + one error row — and the rest of the extract proceeds
      // NonFatal only: a Spark task kill during a slow fetch raises
      // InterruptedException, which NonFatal classifies as fatal —
      // it propagates and cancellation works; everything else
      // (IO/parse/retry-exhaustion) dead-letters (ADVICE r10)
      try parse(fetchBody())
      catch {
        case e if scala.util.control.NonFatal(e) =>
          Iterator.single(InternalRow(
            UTF8String.fromString(part.host),
            UTF8String.fromString(part.service),
            null, null,
            UTF8String.fromString(
              s"${e.getClass.getSimpleName}: ${e.getMessage}")))
      }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
