package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.enrich.IgluResolver
import graft.enrich.IgluResolver.RemoteResolver

/** The default production HTTP transport (`RemoteResolver.httpTransport`,
  * java.net.http pooled client) against a LOCAL `com.sun.net.httpserver`
  * fixture — zero egress. Pins the resolver contract (200 → Some, 404 →
  * None, 5xx after retry → throw), the retry-once behavior, custom
  * headers (apikey, the reference's authenticated-registry shape), and an
  * end-to-end RemoteResolver resolution over real HTTP. */
class HttpTransportSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val hits = new AtomicInteger(0)
  private val flakyHits = new AtomicInteger(0)
  @volatile private var lastApiKey: String = null

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

  private val schemaBody =
    """{"type":"object","properties":{"sku":{"type":"string"}},"required":["sku"]}"""

  @volatile private var lastPostBody: String = null
  @volatile private var lastPostContentType: String = null

  private val server: HttpServer = {
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    s.createContext("/remote", (ex: HttpExchange) => {
      // RemoteAdapter fixture: echo the envelope's body back as one event
      lastPostBody = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      lastPostContentType = ex.getRequestHeaders.getFirst("Content-Type")
      val body = """"body":"([^"]*)"""".r.findFirstMatchIn(lastPostBody).map(_.group(1)).getOrElse("")
      respond(ex, 200, s"""{"events":[{"echo":"$body"}]}""")
    })
    s.createContext("/schemas/com.acme/cart/jsonschema/1-0-0", (ex: HttpExchange) => {
      hits.incrementAndGet()
      lastApiKey = ex.getRequestHeaders.getFirst("apikey")
      respond(ex, 200, schemaBody)
    })
    s.createContext("/schemas/com.acme/missing", (ex: HttpExchange) => respond(ex, 404, ""))
    s.createContext("/flaky", (ex: HttpExchange) => {
      // first request 500, second 200 — the transport's retry must absorb it
      if (flakyHits.incrementAndGet() == 1) respond(ex, 500, "boom")
      else respond(ex, 200, "recovered")
    })
    s.createContext("/broken", (ex: HttpExchange) => respond(ex, 503, "down"))
    s.start()
    s
  }
  private def base = s"http://127.0.0.1:${server.getAddress.getPort}"

  override def afterAll(): Unit = server.stop(0)

  test("200 → Some(body), 404 → None, headers ride every request") {
    val t = RemoteResolver.httpTransport(headers = Map("apikey" -> "sekret-123"))
    assert(t(s"$base/schemas/com.acme/cart/jsonschema/1-0-0").contains(schemaBody))
    assert(lastApiKey == "sekret-123")
    assert(t(s"$base/schemas/com.acme/missing/jsonschema/1-0-0").isEmpty)
  }

  test("transient 5xx is retried once and succeeds; persistent 5xx throws") {
    val t = RemoteResolver.httpTransport()
    flakyHits.set(0)
    assert(t(s"$base/flaky").contains("recovered"))
    assert(flakyHits.get() == 2) // exactly one retry
    val e = intercept[java.io.IOException](t(s"$base/broken"))
    assert(e.getMessage.contains("HTTP 503"))
  }

  test("connection-refused (no listener) throws after the retry, never hangs") {
    val t = RemoteResolver.httpTransport(
      connectTimeout = java.time.Duration.ofMillis(500),
      requestTimeout = java.time.Duration.ofMillis(500))
    // port 1 is never listening on the loopback
    intercept[java.io.IOException](t("http://127.0.0.1:1/schemas/x"))
  }

  test("the transport survives java serialization (it rides ApiLookup task closures)") {
    val t = RemoteResolver.httpTransport(headers = Map("apikey" -> "s2"))
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(t); oos.close()
    val t2 = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[String => Option[String]]
    // the deserialized copy builds its own client lazily and works
    assert(t2(s"$base/schemas/com.acme/cart/jsonschema/1-0-0").contains(schemaBody))
    assert(lastApiKey == "s2")
  }

  test("httpPostTransport: POSTs its argument as the body with the content type") {
    val t = RemoteResolver.httpPostTransport(s"$base/remote")
    val res = t("""{"contentType":"application/json","body":"ev=7"}""")
    assert(res.contains("""{"events":[{"echo":"ev=7"}]}"""))
    assert(lastPostBody == """{"contentType":"application/json","body":"ev=7"}""")
    assert(lastPostContentType == "application/json")
    // 404 → None under the shared transport contract
    assert(RemoteResolver.httpPostTransport(s"$base/schemas/com.acme/missing")("x").isEmpty)
  }

  test("RemoteAdapter end-to-end over the real local HTTP fixture") {
    val spark = SparkSpec.session
    import spark.implicits._
    val out = graft.adapters.RemoteAdapter(RemoteResolver.httpPostTransport(s"$base/remote"))
      .apply(Seq((1L, "ev=1"), (2L, "ev=2")).toDF("id", "payload"), "payload")
      .orderBy("id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Map[String, String]]("event_params") == Map("echo" -> "ev=1"))
    assert(out(1).getAs[String]("adapter_failure") == null)
  }

  test("end-to-end: RemoteResolver resolves a schema over real local HTTP") {
    val cfgJson =
      s"""{"schema": "iglu:com.snowplowanalytics.iglu/resolver-config/jsonschema/1-0-1",
         | "data": {"cacheSize": 10, "repositories": [
         |   {"name": "Local Fixture", "priority": 0,
         |    "vendorPrefixes": ["com.acme"],
         |    "connection": {"http": {"uri": "$base"}}}]}}""".stripMargin
    val r = new RemoteResolver(
      IgluResolver.parseConfig(cfgJson, remote = true),
      RemoteResolver.httpTransport())
    val before = hits.get()
    val resolved = r.resolve("iglu:com.acme/cart/jsonschema/1-0-0")
    assert(resolved.isRight)
    assert(resolved.toOption.get._2 == schemaBody)
    // LRU cache: the second resolve never re-fetches
    assert(r.resolve("iglu:com.acme/cart/jsonschema/1-0-0").isRight)
    assert(hits.get() == before + 1)
  }
}
