package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.HttpServer
import org.json4s._
import org.json4s.jackson.JsonMethods

/** An in-process Elasticsearch `_bulk` endpoint on the loopback interface:
  * it accepts NDJSON `index` actions, keeps the latest source per
  * (index, id) — ES's keyed-upsert semantics — and counts requests and
  * bytes. Enough of the wire protocol for the engine's bulk indexer.
  */
final class EsStub {
  private val docs = new ConcurrentHashMap[(String, String), String]()
  val requests = new AtomicLong
  val bytes = new AtomicLong
  val actions = new AtomicLong
  private val pool = Executors.newFixedThreadPool(4)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(pool)
  server.createContext("/_bulk", ex => {
    val body = try ex.getRequestBody.readAllBytes() finally ex.getRequestBody.close()
    requests.incrementAndGet()
    bytes.addAndGet(body.length.toLong)
    val (code, resp) =
      try { (200, EsStub.applyBulk(new String(body, UTF_8), docs, actions)) }
      catch { case e: Exception => (400, s"""{"error":"${e.getClass.getSimpleName}"}""") }
    val out = resp.getBytes(UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, out.length.toLong)
    val os = ex.getResponseBody
    try os.write(out) finally os.close()
  })
  server.start()

  def port: Int = server.getAddress.getPort

  /** Documents currently held in `index`. */
  def count(index: String): Int = docs.keySet.toArray.count {
    case (i: String, _) => i == index
    case _ => false
  }

  def clear(): Unit = docs.clear()

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }
}

object EsStub {
  /** Apply one `_bulk` body to `docs`; returns the ES-shaped response.
    * Only `index` actions are accepted — anything else is a client error.
    */
  def applyBulk(body: String, docs: ConcurrentHashMap[(String, String), String],
      actions: AtomicLong): String = {
    implicit val fmts: Formats = DefaultFormats
    val lines = body.split("\n").filter(_.nonEmpty)
    require(lines.length % 2 == 0, "bulk body must hold action/source line pairs")
    val items = lines.grouped(2).map { case Array(action, source) =>
      val meta = JsonMethods.parse(action) \ "index"
      require(meta != JNothing, s"unsupported bulk action: $action")
      val index = (meta \ "_index").extract[String]
      val id = (meta \ "_id").extract[String]
      JsonMethods.parse(source) // reject malformed documents
      docs.put((index, id), source)
      actions.incrementAndGet()
      s"""{"index":{"_index":"$index","status":201}}"""
    }.toSeq
    s"""{"took":1,"errors":false,"items":[${items.mkString(",")}]}"""
  }
}
