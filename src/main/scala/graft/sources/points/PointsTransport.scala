package graft.sources.points

import java.io.FileInputStream
import java.nio.file.{Files, Paths}
import java.security.KeyStore
import java.security.cert.CertificateFactory
import java.security.spec.PKCS8EncodedKeySpec
import java.util.Base64

import javax.net.ssl.{KeyManager, KeyManagerFactory, SSLContext, TrustManager, X509TrustManager}

/** Transport seam for the points sink's live-endpoint mode — the
  * symmetric twin of the REST source's `RestTransport`: the reference
  * POSTs line protocol to InfluxDB over HTTPS with a client cert/key
  * pair and an SSL-verify flag (`url_service_status_InfluxDB_insert
  * .py:141-159`, `InfluxDBClient(host, ssl=True, verify_ssl=...,
  * cert=(cert, key))` + `write_points(..., protocol='line')`).
  *
  * Policy split mirrors the source: an implementation only maps
  * (url, body) → response; retry/backoff/deadline/status handling live
  * OUTSIDE in [[PointsTransport.guarded]]. Implementations must have a
  * zero-arg constructor — they are instantiated by class name on the
  * executor (`transportClass` option), which is also the test seam.
  */
trait PointsTransport extends Serializable {
  def post(url: String, body: String, tls: PointsTlsConf,
      timeoutMs: Long): PointsResponse
}

final case class PointsResponse(status: Int, body: String)

/** Thrown by the guard; `retryable = false` marks a 4xx fast-fail. */
class PointsWriteException(msg: String, val retryable: Boolean,
    cause: Throwable = null) extends RuntimeException(msg, cause)

/** Live HTTP transport over the JDK `java.net.http` client: one call =
  * one POST of a line-protocol batch (text/plain, the wire form of
  * InfluxDB's `/write` endpoint; 204-No-Content is its success code).
  *
  * TLS wiring is the reference's client surface re-expressed:
  *   - `clientCertPath`/`clientKeyPath` (PEM, as `requests`-style
  *     `cert=(cert, key)`) load into the client's key manager for
  *     mutual TLS;
  *   - `sslVerify=false` installs a trust-everything manager (the
  *     reference's `verify=False` against a self-signed endpoint).
  *
  * Clients are cached per TLS configuration (an SSLContext handshake
  * pool is expensive; an executor writes many partitions with the same
  * conf). A no-TLS conf reuses one plain JVM-wide client.
  */
class PointsHttpTransport extends PointsTransport {
  override def post(url: String, body: String, tls: PointsTlsConf,
      timeoutMs: Long): PointsResponse = {
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(java.time.Duration.ofMillis(math.max(1L, timeoutMs)))
      .header("Content-Type", "text/plain; charset=utf-8")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body, java.nio.charset.StandardCharsets.UTF_8))
      .build()
    val resp = PointsHttpTransport.clientFor(tls).send(req,
      java.net.http.HttpResponse.BodyHandlers.ofString())
    PointsResponse(resp.statusCode(), resp.body())
  }
}

object PointsHttpTransport {

  private val clients =
    new java.util.concurrent.ConcurrentHashMap[PointsTlsConf, java.net.http.HttpClient]()

  private[points] def clientFor(tls: PointsTlsConf): java.net.http.HttpClient =
    clients.computeIfAbsent(tls, { conf =>
      val b = java.net.http.HttpClient.newBuilder()
        .connectTimeout(java.time.Duration.ofSeconds(30))
      sslContextFor(conf).foreach(b.sslContext)
      b.build()
    })

  /** None when the conf needs nothing beyond the JVM defaults (no
    * client credentials, verification on). Shared with the REST
    * source's `HttpTransport`.
    */
  private[sources] def sslContextFor(tls: PointsTlsConf): Option[SSLContext] = {
    val kms: Array[KeyManager] = (tls.clientCertPath, tls.clientKeyPath) match {
      case (Some(cert), Some(key)) => keyManagers(cert, key)
      case _ => null
    }
    val tms: Array[TrustManager] =
      if (tls.sslVerify) null else Array(trustAll)
    if (kms == null && tms == null) None
    else {
      val ctx = SSLContext.getInstance("TLS")
      ctx.init(kms, tms, new java.security.SecureRandom)
      Some(ctx)
    }
  }

  /** Client cert chain (PEM X.509) + private key (PEM PKCS#8) → key
    * managers, via an in-memory PKCS12 store — the JSSE spelling of
    * `requests`' `cert=(cert_file, key_file)`.
    */
  private def keyManagers(certPath: String,
      keyPath: String): Array[KeyManager] = {
    val cf = CertificateFactory.getInstance("X.509")
    val in = new FileInputStream(certPath)
    val chain = try cf.generateCertificates(in).toArray(
      Array.empty[java.security.cert.Certificate]) finally in.close()
    val keySpec = new PKCS8EncodedKeySpec(pemBody(keyPath))
    // the PEM header does not name the algorithm; RSA and EC cover the
    // keys such endpoints actually present
    val key = try java.security.KeyFactory.getInstance("RSA")
        .generatePrivate(keySpec)
      catch { case _: java.security.spec.InvalidKeySpecException =>
        java.security.KeyFactory.getInstance("EC").generatePrivate(keySpec)
      }
    val ks = KeyStore.getInstance("PKCS12")
    ks.load(null, null)
    ks.setKeyEntry("client", key, Array.empty[Char], chain)
    val kmf = KeyManagerFactory.getInstance(
      KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, Array.empty[Char])
    kmf.getKeyManagers
  }

  /** Strip `-----BEGIN/END ...-----` armor and decode the base64 body. */
  private def pemBody(path: String): Array[Byte] = {
    val text = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
    val b64 = text.linesIterator
      .filterNot(_.startsWith("-----")).mkString
    Base64.getMimeDecoder.decode(b64)
  }

  private val trustAll: X509TrustManager = new X509TrustManager {
    override def checkClientTrusted(
        chain: Array[java.security.cert.X509Certificate], t: String): Unit = ()
    override def checkServerTrusted(
        chain: Array[java.security.cert.X509Certificate], t: String): Unit = ()
    override def getAcceptedIssuers: Array[java.security.cert.X509Certificate] =
      Array.empty
  }
}

object PointsTransport {

  /** The reference's write contract around any transport: bounded
    * retry with exponential backoff. 2xx succeeds (InfluxDB's `/write`
    * answers 204); 4xx throws immediately — a malformed line or bad
    * credential cannot improve on retry, and re-POSTing it hammers the
    * endpoint while hiding the bug; 5xx and I/O errors (endpoint down,
    * TLS failure, timeout) retry up to `maxRetries`.
    *
    * Delivery is therefore at-least-once per batch: a POST the server
    * applied but whose response was lost is re-sent. That is safe for
    * line protocol by construction — a point is keyed by
    * (measurement, tag set, timestamp) and a duplicate write is an
    * idempotent upsert — the same property the reference's
    * fire-and-forget `write_points` relies on.
    */
  def guarded(base: PointsTransport, url: String, body: String,
      tls: PointsTlsConf, maxRetries: Int, backoffMs: Long,
      timeoutMs: Long): Unit = {
    guardedFetch(base, url, body, tls, maxRetries, backoffMs, timeoutMs)
    ()
  }

  /** [[guarded]] returning the successful 2xx response — for callers
    * that need the BODY (the DB-exists precondition probe reads SHOW
    * DATABASES output) with the same retry/fast-fail policy as the
    * writes themselves.
    */
  def guardedFetch(base: PointsTransport, url: String, body: String,
      tls: PointsTlsConf, maxRetries: Int, backoffMs: Long,
      timeoutMs: Long): PointsResponse = {
    require(maxRetries >= 0, s"maxRetries must be >= 0, got $maxRetries")
    var attempt = 0
    var lastErr: Throwable = null
    while (attempt <= maxRetries) {
      if (attempt > 0 && backoffMs > 0)
        Thread.sleep(backoffMs * (1L << math.min(attempt - 1, 6)))
      try {
        val resp = base.post(url, body, tls, timeoutMs)
        if (resp.status >= 200 && resp.status < 300) return resp
        else if (resp.status >= 400 && resp.status < 500)
          throw new PointsWriteException(
            s"$url rejected write: ${resp.status} ${resp.body.take(200)}",
            retryable = false)
        else lastErr = new PointsWriteException(
          s"$url returned ${resp.status}", retryable = true)
      } catch {
        case e: PointsWriteException if !e.retryable => throw e
        case e: Exception => lastErr = e
      }
      attempt += 1
    }
    throw new PointsWriteException(
      s"$url write failed after ${maxRetries + 1} attempts: " +
        s"${lastErr.getMessage}", retryable = true, lastErr)
  }
}
