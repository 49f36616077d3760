package graft.sink

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** Batched HTTP load sink (SURVEY.md §2 row K1, §2.10 W2).
  *
  * The reference slices rendered documents into <=maxBatchSize chunks, wraps
  * each in `[doc1,doc2,...]` (targetBody.hbs:2) and PUTs them serially
  * (reference app.js:88-112). Spark-first: each *partition* streams its rows
  * through `Iterator.grouped(maxBatchSize)` and posts its own batches —
  * partitions load in parallel (the reference is fully serial; SURVEY.md §3),
  * memory stays bounded (no collect), and batch assembly is a plain
  * `mkString(",")` exactly like targetBody.hbs.
  *
  * Delivery is at-least-once: the send happens before the state commit
  * (reference app.js:55-58), and a retried Spark task re-sends its
  * partition. The reference has the same property across crashed runs and
  * relies on an idempotent target method (PUT) — we document the same
  * requirement (SURVEY.md §7.5 risk 3).
  */
object HttpBatchSink {

  /** Posts one batch body; must throw on failure (fail-fast, reference
    * http.js:19). It runs inside the send's tasks, so it must serialize.
    */
  type Sender = String => Unit

  /** Timeout of every request, its connect included. */
  private val Timeout = Duration.ofSeconds(60)

  /** The JVM's one HTTP client, built on first use: each executor JVM builds
    * its own, and the driver's fetcher shares the driver's. Its pool keeps
    * connections open across partitions and pages; a pooled connection the
    * server closes leaves the pool when its close arrives.
    *
    * No connect timeout: with one set, the JDK 17 client keeps the request
    * that opened a pooled connection, body included, reachable for the
    * connection's life. The request timeout already bounds the connect.
    */
  private lazy val client: HttpClient = HttpClient.newHttpClient()

  /** Header VALUES are templates re-rendered against `env()` on every
    * request (reference http.js:22-28): `Authorization: Bearer {{env.TOKEN}}`
    * picks up a rotated token without restarting the run.
    *
    * The DEFAULT env is a snapshot of the DRIVER's sys.env taken here, at
    * construction — the same map validation runs against. The request
    * closure executes on EXECUTORS, whose process env does not carry the
    * driver's exported variables on a real cluster manager; a live
    * `() => sys.env` default would validate TOKEN on the driver and then
    * render "" on every executor (the exact 401 the fail-fast exists to
    * prevent). Pass a custom `env` for live rotation — it evaluates
    * wherever the request runs.
    */
  def httpSender(url: String, method: String, headers: Map[String, String],
                 env: () => Map[String, String] = { val snap = sys.env; () => snap }): Sender = {
    val request = httpTransport(method, headers, env)
    body => request(url, Some(body))
  }

  /** The one request builder behind [[httpSender]] and
    * [[graft.source.EntityApiSource.httpFetcher]]: (url, body) => response
    * body over the JVM's client. Header templates render per request; no
    * body sends none; a non-2xx response throws.
    */
  private[graft] def httpTransport(method: String, headers: Map[String, String],
                                   env: () => Map[String, String]): (String, Option[String]) => String = {
    // construction-time fail-fast: malformed header templates and env vars
    // missing at startup are config errors, not per-request 401s
    graft.template.TemplateCompiler.validateHeaderTemplates(headers, env())
    (url, body) => {
      val b = HttpRequest.newBuilder(URI.create(url)).timeout(Timeout)
        .method(method, body.fold(HttpRequest.BodyPublishers.noBody())(HttpRequest.BodyPublishers.ofString))
      val e = env()
      headers.foreach { case (k, v) =>
        b.header(k, graft.template.TemplateCompiler.renderWithEnv(v, Map.empty, e))
      }
      val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode / 100 == 2, s"$method $url -> HTTP ${resp.statusCode}")
      resp.body()
    }
  }

  /** Send `docs` (a single string column of rendered documents) in batches:
    * each partition posts its rows in <=maxBatchSize chunks, and an empty
    * partition posts nothing (reference app.js:89-91). targetBody is
    * replaceable data like every other template (reference templates.js:43,
    * app.js:106); the default is the shipped targetBody.hbs:2 shape as a
    * plain mkString.
    *
    * @return number of batches sent (driver-visible, via accumulator).
    *         Task retries re-send AND re-count — the value can exceed
    *         ceil(n/maxBatchSize) under failures, consistent with the
    *         at-least-once delivery contract (W2).
    */
  def send(docs: DataFrame, maxBatchSize: Int, sender: Sender,
           targetBody: Option[String] = None): Long = {
    require(maxBatchSize > 0, "maxBatchSize must be positive")
    val sent: LongAccumulator = docs.sparkSession.sparkContext.longAccumulator("graft.batchesSent")
    val assemble: Seq[String] => String = targetBody match {
      case Some(t) => chunk => graft.template.TemplateCompiler.renderBatchBody(t, chunk)
      case None    => chunk => chunk.mkString("[", ",", "]")
    }
    docs.select(col(docs.columns.head).cast("string")).foreachPartition {
      (it: Iterator[org.apache.spark.sql.Row]) =>
        it.map(_.getString(0)).grouped(maxBatchSize).foreach { chunk =>
          sender(assemble(chunk))
          sent.add(1)
        }
    }
    sent.value
  }
}
