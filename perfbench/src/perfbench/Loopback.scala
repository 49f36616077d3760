package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.lang.management.ManagementFactory
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

/** One entities GET the API answered: items `[start, end)` of the type's
  * feed, requested from `fromMs`; the handler ran from `atNs` until the
  * response was written at `endNs` (System.nanoTime).
  */
final case class Served(typeName: String, seq: Int, fromMs: Long, start: Int, end: Int,
                        partial: Boolean, atNs: Long, endNs: Long, bytes: Long)

/** One batch the target accepted: its documents, the GET sequence number of
  * its type at arrival (so the page that sent it), and the handler's start,
  * the body's arrival (`atNs`) and the response's end.
  */
final case class Arrival(typeName: String, seq: Int, startNs: Long, atNs: Long, endNs: Long,
                         docs: Array[String], bytes: Long)

/** What the loopback saw since the last drain: entity pages, accepted
  * batches, and the handler intervals of catalog GETs.
  */
final case class Traffic(served: Seq[Served], arrivals: Seq[Arrival], catalog: Seq[(Long, Long)])

/** In-process loopback of the entity API and the load target, on one
  * `com.sun.net.httpserver` with a fixed handler pool (plus the server's
  * dispatcher thread):
  *
  *  - `GET /v2/entities/types` — the type catalog;
  *  - `GET /v2/entities?type=T&updatedFromMs=C` — the paged envelope: the
  *    type's items with `updatedOnMs >= C` (inclusive, like the real API),
  *    in time order, at most `pageSize` of them, up to the type's current
  *    horizon; `partialResults` tells whether more remain. Item JSON is
  *    rendered once, in set-up;
  *  - `PUT /target/T` — checks that the body is a JSON array of at most
  *    `maxBatchSize` documents, and records them with their arrival time.
  *
  * Every request is recorded with its handler's start and end, which the
  * traced run takes as the fetch and post times. Handler CPU time is summed
  * so the program's own CPU can be told apart.
  */
final class Loopback(feeds: Seq[Feed], maxBatchSize: Int) {

  private val byName: Map[String, Feed] = feeds.map(f => f.typeName -> f).toMap
  private val itemBytes: Map[String, Array[Array[Byte]]] =
    feeds.map(f => f.typeName -> f.items.map(_.json.getBytes(UTF_8))).toMap
  private val horizon = new ConcurrentHashMap[String, Integer]()
  private val seqs: Map[String, AtomicInteger] = feeds.map(f => f.typeName -> new AtomicInteger()).toMap
  @volatile var pageSize: Int = 1

  val served = new ConcurrentLinkedQueue[Served]()
  val arrivals = new ConcurrentLinkedQueue[Arrival]()
  val catalogGets = new ConcurrentLinkedQueue[(Long, Long)]()
  val rejected = new AtomicInteger()
  val handlerCpuNs = new AtomicLong()
  private val inFlight = new AtomicInteger()
  private val threadMx = ManagementFactory.getThreadMXBean

  // three handlers plus the server's dispatcher: four threads, one per core
  private val pool = Executors.newFixedThreadPool(3, (r: Runnable) => {
    val t = new Thread(r, "loopback-handler"); t.setDaemon(true); t
  })
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  server.createContext("/v2/entities/types", ex => timed(ex)(catalog))
  server.createContext("/v2/entities", ex => timed(ex)(entities))
  server.createContext("/target/", ex => timed(ex)(target))
  server.start()

  val baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** Make items `[0, end)` of a type visible. */
  def setHorizon(typeName: String, end: Int): Unit = horizon.put(typeName, end)

  /** Take (and clear) what was served and received so far, once every
    * handler has finished (each records its request after it responded).
    */
  def drain(): Traffic = {
    while (inFlight.get > 0) Thread.sleep(1)
    def take[A](q: ConcurrentLinkedQueue[A]): Seq[A] =
      Iterator.continually(q.poll()).takeWhile(_ != null).toVector
    Traffic(take(served), take(arrivals), take(catalogGets))
  }

  def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }

  private def timed(ex: HttpExchange)(f: HttpExchange => Unit): Unit = {
    inFlight.incrementAndGet()
    val cpu0 = threadMx.getCurrentThreadCpuTime
    try f(ex)
    catch { case e: Throwable => ex.sendResponseHeaders(500, -1); throw e }
    finally {
      ex.close()
      handlerCpuNs.addAndGet(threadMx.getCurrentThreadCpuTime - cpu0)
      inFlight.decrementAndGet()
    }
  }

  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).toSeq.flatMap(_.split("&")).map { kv =>
      val i = kv.indexOf('=')
      java.net.URLDecoder.decode(kv.take(i), UTF_8) -> java.net.URLDecoder.decode(kv.drop(i + 1), UTF_8)
    }.toMap

  private def catalog(ex: HttpExchange): Unit = {
    val atNs = System.nanoTime()
    val body = feeds.map(f => s"""{"name":"${f.typeName}","uniqueIdField":"${Workload.IdKey}"}""")
      .mkString("[", ",", "]").getBytes(UTF_8)
    ex.sendResponseHeaders(200, body.length)
    ex.getResponseBody.write(body)
    catalogGets.add((atNs, System.nanoTime()))
  }

  private def entities(ex: HttpExchange): Unit = {
    val atNs = System.nanoTime()
    val q = query(ex)
    val name = q("type")
    val feed = byName(name)
    val fromMs = q("updatedFromMs").toLong
    val h: Int = horizon.getOrDefault(name, 0)
    val start = math.min(feed.lowerBound(fromMs), h)
    val end = math.min(start + pageSize, h)
    val partial = end < h
    val items = itemBytes(name)
    val head = "{\"items\":[".getBytes(UTF_8)
    val tail = s"],\"partialResults\":$partial}".getBytes(UTF_8)
    var len = head.length.toLong + tail.length + math.max(0, end - start - 1)
    var i = start
    while (i < end) { len += items(i).length; i += 1 }
    val seq = seqs(name).incrementAndGet()
    ex.sendResponseHeaders(200, len)
    val out = new java.io.BufferedOutputStream(ex.getResponseBody, 1 << 16)
    out.write(head)
    i = start
    while (i < end) {
      if (i > start) out.write(',')
      out.write(items(i)); i += 1
    }
    out.write(tail)
    out.flush()
    served.add(Served(name, seq, fromMs, start, end, partial, atNs, System.nanoTime(), len))
  }

  private def target(ex: HttpExchange): Unit = {
    val startNs = System.nanoTime()
    val name = ex.getRequestURI.getPath.stripPrefix("/target/")
    val seq = seqs.get(name).map(_.get).getOrElse(-1)
    val raw = ex.getRequestBody.readAllBytes()
    val atNs = System.nanoTime()
    Loopback.splitArray(new String(raw, UTF_8)) match {
      case Some(docs) if docs.nonEmpty && docs.length <= maxBatchSize && seq >= 0 =>
        ex.sendResponseHeaders(200, -1)
        arrivals.add(Arrival(name, seq, startNs, atNs, System.nanoTime(), docs, raw.length))
      case _ =>
        rejected.incrementAndGet()
        ex.sendResponseHeaders(400, -1)
    }
  }
}

object Loopback {

  /** The top-level objects of a JSON array body, or None when the body is
    * not an array of objects. String-aware; documents are flat objects.
    */
  def splitArray(body: String): Option[Array[String]] = {
    val s = body.trim
    if (!s.startsWith("[") || !s.endsWith("]")) return None
    val out = Array.newBuilder[String]
    var depth = 0; var inStr = false; var esc = false; var objStart = -1
    var expectValue = true
    var i = 1
    while (i < s.length - 1) {
      val c = s.charAt(i)
      if (inStr) {
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '"') inStr = false
      } else c match {
        case '"' if depth > 0 => inStr = true
        case '{' =>
          if (depth == 0) { if (!expectValue) return None; objStart = i; expectValue = false }
          depth += 1
        case '}' =>
          depth -= 1
          if (depth == 0) out += s.substring(objStart, i + 1)
          else if (depth < 0) return None
        case ',' if depth == 0 => if (expectValue) return None else expectValue = true
        case w if depth == 0 && !w.isWhitespace => return None
        case _ =>
      }
      i += 1
    }
    val docs = out.result()
    if (depth != 0 || inStr || (expectValue && docs.nonEmpty)) None else Some(docs)
  }

  /** Value of a string field in a flat JSON object, or null. */
  def field(doc: String, key: String): String = {
    val k = doc.indexOf("\"" + key + "\"")
    if (k < 0) return null
    val open = doc.indexOf('"', doc.indexOf(':', k + key.length + 2) + 1)
    if (open < 0) null else doc.substring(open + 1, doc.indexOf('"', open + 1))
  }
}
