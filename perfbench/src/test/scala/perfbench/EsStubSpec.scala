package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

class EsStubSpec extends AnyFunSuite {
  private def post(port: Int, body: String): (Int, String) = {
    val c = URI.create(s"http://127.0.0.1:$port/_bulk").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    val os = c.getOutputStream
    try os.write(body.getBytes(UTF_8)) finally os.close()
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    (code, new String(in.readAllBytes(), UTF_8))
  }

  test("index actions upsert by (index, id) and are counted") {
    val es = new EsStub
    try {
      val body =
        """{"index":{"_index":"a","_id":"u1"}}
          |{"username":"u1","n":1}
          |{"index":{"_index":"a","_id":"u2"}}
          |{"username":"u2"}
          |{"index":{"_index":"b","_id":"u1"}}
          |{"username":"u1"}
          |""".stripMargin
      val (code, resp) = post(es.port, body)
      assert(code == 200)
      assert(resp.contains("\"errors\":false"))
      val upsert = "{\"index\":{\"_index\":\"a\",\"_id\":\"u1\"}}\n{\"n\":2}\n"
      assert(post(es.port, upsert)._1 == 200)
      assert(es.count("a") == 2 && es.count("b") == 1)
      assert(es.requests.get == 2 && es.actions.get == 4)
      assert(es.bytes.get == (body + upsert).getBytes(UTF_8).length)
      es.clear()
      assert(es.count("a") == 0)
    } finally es.stop()
  }

  test("malformed bodies and other actions are client errors") {
    val es = new EsStub
    try {
      assert(post(es.port, "{\"index\":{\"_index\":\"a\",\"_id\":\"x\"}}\n")._1 == 400)
      assert(post(es.port, "{\"delete\":{\"_index\":\"a\",\"_id\":\"x\"}}\n{}\n")._1 == 400)
      assert(es.count("a") == 0)
    } finally es.stop()
  }

  test("the engine's bulk indexer publishes through the stub") {
    val es = new EsStub
    try {
      val spark = TestSession.spark
      import spark.implicits._
      val df = Seq(("u1", "Ann"), ("u2", "Bo"), ("u1", "Ann")).toDF("username", "full_name")
      graft.sinks.Elastic.bulkIndexKeyed(df,
        graft.sinks.Elastic.EsConfig("127.0.0.1", es.port, wanOnly = true), "idx")
      assert(es.count("idx") == 2)
      assert(es.actions.get == 3)
    } finally es.stop()
  }
}
