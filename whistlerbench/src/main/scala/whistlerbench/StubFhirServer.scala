package whistlerbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import scala.jdk.CollectionConverters._

/** An in-process FHIR server stand-in on 127.0.0.1 (ephemeral port, a
 *  pool of `threads` handler threads). It issues deterministic ids — a
 *  hash of the resource type and its first identifier — so a create is
 *  idempotent and ids do not depend on request order. It counts requests
 *  per verb, the in-flight maximum and its own service time, and refuses
 *  (HTTP 422) any body with a `reference` that names an id it never
 *  issued, or a PUT to an unknown id (HTTP 404). */
final class StubFhirServer(threads: Int) extends AutoCloseable {
  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)
  private val mapper = new ObjectMapper()
  private val issued = ConcurrentHashMap.newKeySet[String]()

  val posts = new AtomicLong
  val puts = new AtomicLong
  val refused = new AtomicLong
  val busyNanos = new AtomicLong
  private val inflight = new AtomicInteger
  val inflightMax = new AtomicInteger

  server.createContext("/fhir", (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)
  server.start()

  val baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}/fhir"

  /** Zero the counters; `forget` also drops every issued id. */
  def reset(forget: Boolean): Unit = {
    if (forget) issued.clear()
    Seq(posts, puts, refused, busyNanos).foreach(_.set(0))
    inflightMax.set(0)
  }

  private def refsOk(node: JsonNode): Boolean =
    if (node.isObject) node.properties().asScala.forall { e =>
      if (e.getKey == "reference" && e.getValue.isTextual) issued.contains(e.getValue.asText())
      else refsOk(e.getValue)
    }
    else if (node.isArray) node.elements().asScala.forall(refsOk)
    else true

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    inflightMax.accumulateAndGet(inflight.incrementAndGet(), math.max)
    try {
      val body = ex.getRequestBody.readAllBytes()
      val path = ex.getRequestURI.getPath.stripPrefix("/fhir/").split("/").toSeq
      val verb = ex.getRequestMethod
      val node = mapper.readTree(body)
      val (status, id) =
        if (!refsOk(node)) (422, null)
        else (verb, path) match {
          case ("POST", Seq(rt)) =>
            val ident = node.path("identifier")
            val first = if (ident.isArray) ident.path(0) else ident
            val key = s"$rt|${first.path("system").asText()}|${first.path("value").asText()}"
            val id = java.util.UUID.nameUUIDFromBytes(key.getBytes(UTF_8)).toString
            issued.add(s"$rt/$id")
            posts.incrementAndGet()
            (201, id)
          case ("PUT", Seq(rt, id)) if issued.contains(s"$rt/$id") =>
            puts.incrementAndGet()
            (200, id)
          case ("PUT", _) => (404, null)
          case _ => (405, null)
        }
      if (status >= 300) refused.incrementAndGet()
      val rt = path.headOption.getOrElse("")
      val out = (if (id == null) s"""{"resourceType":"OperationOutcome"}"""
        else s"""{"resourceType":"$rt","id":"$id"}""").getBytes(UTF_8)
      ex.getResponseHeaders.add("Content-Type", "application/fhir+json")
      ex.getResponseHeaders.add("Connection", "close")
      ex.sendResponseHeaders(status, out.length)
      ex.getResponseBody.write(out)
    } finally {
      ex.close()
      inflight.decrementAndGet()
      busyNanos.addAndGet(System.nanoTime() - t0)
    }
  }

  def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}
