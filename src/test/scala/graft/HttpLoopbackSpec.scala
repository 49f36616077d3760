package graft

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.model.EntityType
import graft.pipeline.EntityEtlJob
import graft.sink.HttpBatchSink
import graft.source.EntityApiSource
import graft.state.EntityStateStore
import java.net.InetSocketAddress
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** End-to-end loopback over the REAL HTTP stack (java.net.http client against
  * an in-process com.sun.net.httpserver): extract -> CDC -> template ->
  * batched PUT load -> state commit, plus fail-fast on non-2xx (reference
  * http.js:19) — the layer the reference ships untested (SURVEY.md §5).
  */
object HttpLoopbackSpec {
  val received = new ConcurrentLinkedQueue[(String, String)]() // (method, body)
  val tokens = new ConcurrentLinkedQueue[String]() // X-Token header per request
  @volatile var failPuts = false
  @volatile var liveToken = "tok-1" // simulated rotating credential
  val loadPorts = new ConcurrentLinkedQueue[Int]() // client port per /load request
}

class HttpLoopbackSpec extends SparkSpec {
  import HttpLoopbackSpec._

  private def withServer[A](f: Int => A): A = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val pages = Map(
      1L ->
        """{"items": [{"uid": "a", "color": "red", "updatedOnMs": 100},
          |           {"uid": "b", "color": "blue", "updatedOnMs": 200}], "partialResults": true}""".stripMargin,
      200L ->
        """{"items": [{"uid": "b", "color": "blue", "updatedOnMs": 200},
          |           {"uid": "c", "color": "green", "updatedOnMs": 300}], "partialResults": false}""".stripMargin)
    server.createContext("/v2/entities", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val query = Option(ex.getRequestURI.getQuery).getOrElse("")
        val ckpt = query.split("&").collectFirst {
          case kv if kv.startsWith("updatedFromMs=") => kv.stripPrefix("updatedFromMs=").toLong
        }.getOrElse(1L)
        val body = pages.getOrElse(ckpt, """{"items": [], "partialResults": false}""")
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes); ex.close()
      }
    })
    server.createContext("/v2/types", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        Option(ex.getRequestHeaders.getFirst("X-Token")).foreach(tokens.add)
        val body = """[{"name": "widget", "uniqueIdField": "uid"}]"""
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body.getBytes); ex.close()
      }
    })
    server.createContext("/load", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        Option(ex.getRequestHeaders.getFirst("X-Token")).foreach(tokens.add)
        loadPorts.add(ex.getRemoteAddress.getPort)
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        if (failPuts) { ex.sendResponseHeaders(503, -1); ex.close() }
        else {
          received.add((ex.getRequestMethod, body))
          ex.sendResponseHeaders(200, -1); ex.close()
        }
      }
    })
    server.start()
    try f(server.getAddress.getPort) finally server.stop(0)
  }

  test("full pipeline over live HTTP: types scan, paginated fetch, CDC, batched PUT, commit") {
    received.clear(); failPuts = false
    withServer { port =>
      val fetch = EntityApiSource.httpFetcher(Map("X-Token" -> "t"))
      val types = EntityApiSource.fetchEntityTypes(fetch, s"http://127.0.0.1:$port/v2/types")
      assert(types == Seq(EntityType("widget", "uid")))

      val store = new EntityStateStore(spark, Files.createTempDirectory("http-e2e").toString)
      val job = new EntityEtlJob(spark, store, fetch,
        entitiesUrlTemplate = s"http://127.0.0.1:$port/v2/entities?type={{type}}&updatedFromMs={{updatedFromMs}}",
        sender = HttpBatchSink.httpSender(s"http://127.0.0.1:$port/load", "PUT", Map("X-Token" -> "t")),
        templates = Map("widget" -> """{"id": "{{entity.uid}}", "color": "{{entity.color}}"}"""),
        maxBatchSize = 10)
      val stats = job.run(types)("widget")

      assert(stats.map(_.fetched) == Seq(2, 2))
      // page 2 re-fetches uid=b (inclusive boundary) -> suppressed by CDC
      assert(stats.map(_.emitted) == Seq(2, 1))
      assert(stats.last.checkpoint == 300)
      val bodies = received.asScala.toSeq
      assert(bodies.forall(_._1 == "PUT"))
      val all = bodies.map(_._2).mkString
      assert(all.contains(""""color": "green"""") && all.contains(""""id": "a""""))
      assert(store.load("widget")._1.count() == 3)
    }
  }

  test("per-request env header rendering: a rotated token reaches the next request (E9, http.js:22-28)") {
    import spark.implicits._
    received.clear(); tokens.clear(); failPuts = false
    liveToken = "tok-1"
    withServer { port =>
      // source side: header template re-renders against the live env per fetch
      val fetch = EntityApiSource.httpFetcher(
        Map("X-Token" -> "Bearer {{env.TOKEN}}"), env = () => Map("TOKEN" -> liveToken))
      fetch(s"http://127.0.0.1:$port/v2/types")
      liveToken = "tok-2"
      fetch(s"http://127.0.0.1:$port/v2/types")
      assert(tokens.asScala.toSeq == Seq("Bearer tok-1", "Bearer tok-2"))

      // sink side: same semantics across two send() calls
      tokens.clear()
      val sender = HttpBatchSink.httpSender(s"http://127.0.0.1:$port/load", "PUT",
        Map("X-Token" -> "{{env.TOKEN}}"), env = () => Map("TOKEN" -> liveToken))
      val docs = Seq("""{"id":"1"}""").toDF("doc")
      HttpBatchSink.send(docs, 10, sender)
      liveToken = "tok-3"
      HttpBatchSink.send(docs, 10, sender)
      assert(tokens.asScala.toSeq == Seq("tok-2", "tok-3"))
    }
  }

  test("user-supplied targetBody template wraps the batch (templates.js:43, app.js:106)") {
    import spark.implicits._
    received.clear(); failPuts = false
    withServer { port =>
      val sender = HttpBatchSink.httpSender(s"http://127.0.0.1:$port/load", "PUT", Map.empty)
      val docs = Seq("""{"id":"1"}""", """{"id":"2"}""").toDF("doc").coalesce(1)
      val tpl = """{"entities": [{{#each entities}}{{{.}}}{{#unless @last}},{{/unless}}{{/each}}]}"""
      HttpBatchSink.send(docs, 10, sender, Some(tpl))
      assert(received.asScala.toSeq.map(_._2) ==
        Seq("""{"entities": [{"id":"1"},{"id":"2"}]}"""))
    }
  }

  test("one client per JVM: sequential sends reuse one connection") {
    import spark.implicits._
    loadPorts.clear(); failPuts = false
    withServer { port =>
      val sender = HttpBatchSink.httpSender(s"http://127.0.0.1:$port/load", "PUT", Map.empty)
      val docs = Seq("""{"id":"1"}""").toDF("doc").coalesce(1)
      (1 to 3).foreach(_ => assert(HttpBatchSink.send(docs, 10, sender) == 1))
      val ports = loadPorts.asScala.toSeq
      assert(ports.size == 3 && ports.distinct.size == 1, s"client ports per PUT: $ports")
    }
  }

  test("non-2xx from the target fails fast and nothing commits (W2)") {
    received.clear(); failPuts = true
    withServer { port =>
      val fetch = EntityApiSource.httpFetcher(Map.empty)
      val store = new EntityStateStore(spark, Files.createTempDirectory("http-e2e2").toString)
      val job = new EntityEtlJob(spark, store, fetch,
        entitiesUrlTemplate = s"http://127.0.0.1:$port/v2/entities?type={{type}}&updatedFromMs={{updatedFromMs}}",
        sender = HttpBatchSink.httpSender(s"http://127.0.0.1:$port/load", "PUT", Map.empty),
        templates = Map("widget" -> """{"id": "{{entity.uid}}"}"""),
        maxBatchSize = 10)
      intercept[Exception] { job.runType(EntityType("widget", "uid")) }
      val (state, ckpt) = store.load("widget")
      assert(state.count() == 0 && ckpt == 1) // at-least-once: replay next run

      // the target recovers: the next run over the same store replays every
      // document and the checkpoint reaches the end of the feed
      failPuts = false
      job.runType(EntityType("widget", "uid"))
      val delivered = received.asScala.map(_._2).mkString
      assert(Seq("a", "b", "c").forall(id => delivered.contains(s""""id": "$id"""")))
      assert(store.load("widget")._2 == 300)
    }
  }
}
