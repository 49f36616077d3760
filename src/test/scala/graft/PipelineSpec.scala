package graft

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.model.EntityType
import graft.pipeline.{EntityEtlJob, EtlConfig}
import graft.sink.HttpBatchSink
import graft.source.EntityApiSource
import graft.state.EntityStateStore
import java.net.InetSocketAddress
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.ListenerBusAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeAndComment
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** End-to-end pipeline behavior with a stubbed API + collecting sink:
  * pagination (S3/W4), CDC suppression across pages (F2), at-least-once
  * ordering (W2: send fails => state NOT committed), batch slicing (K1),
  * per-page counts (A2) and the page's Spark actions.
  */
object PipelineSpec {
  // static collectors: executors share the JVM in local mode
  val sentBodies = new ConcurrentLinkedQueue[String]()
  @volatile var failSends = false
  def collectingSender: HttpBatchSink.Sender = body => {
    if (failSends) throw new RuntimeException("injected sink failure")
    sentBodies.add(body)
  }
}

class PipelineSpec extends SparkSpec {
  import PipelineSpec._

  private val tpl = """{"id": "{{entity.id}}", "x": "{{entity.x}}"}"""

  private def mkJob(store: EntityStateStore, pages: Map[Long, EntityApiSource.Page],
                    now: () => Long = () => 5000): EntityEtlJob = {
    // fetcher keyed on the rendered updatedFromMs — exercises URL templating (E10)
    val fetch: EntityApiSource.Fetcher = url => {
      val ckpt = url.split("updatedFromMs=")(1).toLong
      val page = pages.getOrElse(ckpt, EntityApiSource.Page(Nil, partialResults = false))
      val items = page.items.mkString("[", ",", "]")
      s"""{"items": $items, "partialResults": ${page.partialResults}}"""
    }
    new EntityEtlJob(spark, store, fetch,
      entitiesUrlTemplate = "stub://e?type={{type}}&updatedFromMs={{updatedFromMs}}",
      sender = collectingSender,
      templates = Map("t" -> tpl),
      maxBatchSize = 2, ttlMs = 1000000, now = now)
  }

  private def entity(id: Int, x: String, ts: Long): String =
    s"""{"id": "$id", "x": "$x", "updatedOnMs": $ts}"""

  test("pagination loop + CDC suppression + batch slicing end-to-end") {
    sentBodies.clear(); failSends = false
    val store = new EntityStateStore(spark, Files.createTempDirectory("pl").toString)
    val pages = Map(
      1L -> EntityApiSource.Page(Seq(entity(1, "a", 10), entity(2, "b", 20), entity(3, "c", 20)), partialResults = true),
      20L -> EntityApiSource.Page(Seq(entity(3, "c", 20), entity(4, "d", 30)), partialResults = false))
    val stats = mkJob(store, pages).runType(EntityType("t", "id"))

    assert(stats.map(_.fetched) == Seq(3, 2))
    // page 2 re-fetches id=3 (inclusive checkpoint boundary, W3) but CDC suppresses it
    assert(stats.map(_.emitted) == Seq(3, 1))
    assert(stats.last.checkpoint == 30)
    // batching is PER PARTITION (parallel load): page1's 3 docs produce
    // 2..3 bodies depending on partition placement, each <= maxBatchSize
    assert(stats.head.batches >= 2 && stats.head.batches <= 3 && stats.last.batches == 1)
    val bodies = sentBodies.asScala.toSeq
    assert(bodies.forall(b => b.startsWith("[") && b.endsWith("]")))
    assert(bodies.map(b => b.count(_ == '{')).sum == 4) // 3 + 1 docs, <=2 each
    assert(bodies.forall(b => b.count(_ == '{') <= 2))
    assert(bodies.mkString.contains(""""x": "d""""))
    // state has all 4 ids, updatedOnMs stripped from cached json
    val (state, ckpt) = store.load("t")
    assert(ckpt == 30 && state.count() == 4)
    assert(!state.select("entityJson").collect().map(_.getString(0)).exists(_.contains("updatedOnMs")))
  }

  test("at-least-once: failed send aborts before state commit (W2, app.js:55-58)") {
    sentBodies.clear(); failSends = true
    val store = new EntityStateStore(spark, Files.createTempDirectory("pl2").toString)
    val pages = Map(1L -> EntityApiSource.Page(Seq(entity(1, "a", 10)), partialResults = false))
    intercept[Exception] { mkJob(store, pages).runType(EntityType("t", "id")) }
    // nothing committed: next run re-fetches from the default checkpoint
    val (state, ckpt) = store.load("t")
    assert(state.count() == 0 && ckpt == 1)
    // recovery: the retry re-sends and commits (effectively-once via F2+idempotent PUT)
    failSends = false
    val stats = mkJob(store, pages).runType(EntityType("t", "id"))
    assert(stats.head.emitted == 1 && store.load("t")._2 == 10)
  }

  test("types without a template are skipped (app.js:22-25); CLI filter respected (F1)") {
    sentBodies.clear(); failSends = false
    val store = new EntityStateStore(spark, Files.createTempDirectory("pl3").toString)
    val job = mkJob(store, Map.empty)
    val ran = job.run(Seq(EntityType("t", "id"), EntityType("untemplated", "id")))
    assert(ran.keySet == Set("t"))
    assert(job.run(Seq(EntityType("t", "id")), requested = Seq("other")).isEmpty)
  }

  test("page stats: id-less rows count as dropped and still move the checkpoint (A2, cache.js:100)") {
    sentBodies.clear(); failSends = false
    val store = new EntityStateStore(spark, Files.createTempDirectory("pl-drop").toString)
    val pages = Map(
      1L -> EntityApiSource.Page(
        Seq(entity(1, "a", 10), """{"x": "no-id", "updatedOnMs": 50}""", entity(2, "b", 20)),
        partialResults = true),
      // no row carries an id: every row gets a null id
      50L -> EntityApiSource.Page(Seq("""{"x": "no-id", "updatedOnMs": 60}"""), partialResults = false))
    val stats = mkJob(store, pages).runType(EntityType("t", "id"))
    assert(stats.map(s => (s.fetched, s.dropped, s.emitted)) == Seq((2, 1, 2), (0, 1, 0)))
    // the max runs over ALL fetched rows, the dropped ones included
    assert(stats.map(_.checkpoint) == Seq(50, 60) && store.load("t")._2 == 60)
  }

  test("intra-page LWW tie: the posted version is the cached version, in either page order") {
    val a = """{"id": "a", "x": "p", "updatedOnMs": 10}"""
    val b = """{"id": "a", "x": "q", "updatedOnMs": 10}"""
    val outcomes = Seq(Seq(a, b), Seq(b, a)).map { items =>
      sentBodies.clear(); failSends = false
      val store = new EntityStateStore(spark, Files.createTempDirectory("pl-tie").toString)
      mkJob(store, Map(1L -> EntityApiSource.Page(items, partialResults = false)))
        .runType(EntityType("t", "id"))
      val posted = sentBodies.asScala.toSeq.flatMap(b => """"x": "(\w)"""".r.findAllMatchIn(b).map(_.group(1)))
      val cached = store.load("t")._1.select("entityJson").collect().toSeq
        .flatMap(r => """"key":"x","value":"(\w)"""".r.findAllMatchIn(r.getString(0)).map(_.group(1)))
      assert(posted.size == 1 && posted == cached,
        s"posted $posted but cached $cached for page order ${items.mkString(", ")}")
      posted.head
    }
    assert(outcomes.distinct.size == 1, s"the tie-break depends on page order: $outcomes")
  }

  test("page independence: an entity re-fetched with the same content is not re-sent, whatever its first page held") {
    sentBodies.clear(); failSends = false
    val store = new EntityStateStore(spark, Files.createTempDirectory("pl-indep").toString)
    val pages = Map(
      1L -> EntityApiSource.Page(Seq("""{"id": "m1", "n": 2, "updatedOnMs": 10}""",
        """{"id": "m2", "n": 2.5, "updatedOnMs": 20}"""), partialResults = true),
      20L -> EntityApiSource.Page(Seq("""{"id": "m1", "n": 2, "updatedOnMs": 30}"""), partialResults = false))
    val stats = mkJob(store, pages).runType(EntityType("t", "id"))
    assert(stats.map(_.emitted) == Seq(2, 0))
  }

  test("numeric ids render alone: id 7 beside 7.5 keeps one state row for \"7\"") {
    sentBodies.clear(); failSends = false
    val store = new EntityStateStore(spark, Files.createTempDirectory("pl-numid").toString)
    val pages = Map(
      1L -> EntityApiSource.Page(Seq("""{"id": 7, "x": "a", "updatedOnMs": 10}""",
        """{"id": 7.5, "x": "b", "updatedOnMs": 20}"""), partialResults = true),
      20L -> EntityApiSource.Page(Seq("""{"id": 7, "x": "a", "updatedOnMs": 30}"""), partialResults = false))
    val stats = mkJob(store, pages).runType(EntityType("t", "id"))
    assert(stats.map(_.emitted) == Seq(2, 0))
    val ids = store.load("t")._1.select("id").collect().map(_.getString(0)).sorted.toSeq
    assert(ids == Seq("7", "7.5"))
  }

  test("keys that differ only in case commit both, on one entity or split across two") {
    val pages = Seq(
      Seq("""{"id": "c1", "aws_tag_Name": "web", "aws_tag_name": "db", "updatedOnMs": 10}"""),
      Seq("""{"id": "c2", "aws_tag_Name": "web", "updatedOnMs": 10}""",
        """{"id": "c3", "aws_tag_name": "db", "updatedOnMs": 10}"""))
    pages.foreach { items =>
      sentBodies.clear(); failSends = false
      val store = new EntityStateStore(spark, Files.createTempDirectory("pl-case").toString)
      mkJob(store, Map(1L -> EntityApiSource.Page(items, partialResults = false))).runType(EntityType("t", "id"))
      val (state, ckpt) = store.load("t")
      val cached = state.select("entityJson").collect().map(_.getString(0)).mkString
      assert(ckpt == 10 && state.count() == items.size)
      assert(cached.contains(""""key":"aws_tag_Name","value":"web"""") &&
        cached.contains(""""key":"aws_tag_name","value":"db""""), cached)
    }
  }

  test("a string updatedOnMs such as \"abc\" leaves the checkpoint max; the page commits") {
    sentBodies.clear(); failSends = false
    val store = new EntityStateStore(spark, Files.createTempDirectory("pl-badts").toString)
    val items = Seq(entity(1, "a", 10), """{"id": "2", "x": "b", "updatedOnMs": "abc"}""", entity(3, "c", 20))
    val stats = mkJob(store, Map(1L -> EntityApiSource.Page(items, partialResults = false)))
      .runType(EntityType("t", "id"))
    assert(stats.map(s => (s.fetched, s.emitted, s.checkpoint)) == Seq((3, 3, 20)))
    assert(store.load("t")._2 == 20 && store.load("t")._1.count() == 3)
  }

  test("a malformed item drops alone and counts as dropped") {
    sentBodies.clear(); failSends = false
    val store = new EntityStateStore(spark, Files.createTempDirectory("pl-malformed").toString)
    val items = Seq(entity(1, "a", 10), """{"id": "x" "n": 1}""", entity(2, "b", 20))
    val stats = mkJob(store, Map(1L -> EntityApiSource.Page(items, partialResults = false)))
      .runType(EntityType("t", "id"))
    assert(stats.map(s => (s.fetched, s.dropped, s.emitted, s.checkpoint)) == Seq((2, 1, 2, 20)))
    assert(store.load("t")._1.count() == 2)
  }

  test("processPage runs no head or count: only the source read, the send and the commit") {
    sentBodies.clear(); failSends = false
    val store = new EntityStateStore(spark, Files.createTempDirectory("pl-actions").toString)
    val job = mkJob(store, Map.empty)
    val page = EntityApiSource.Page(Seq(entity(1, "a", 10), entity(2, "b", 20)), partialResults = false)
    val actions = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = actions.add(funcName)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = actions.add(funcName)
    }
    ListenerBusAccess.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      job.processPage(EntityType("t", "id"), page, prevCheckpoint = 1L)
      ListenerBusAccess.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val seen = actions.asScala.toSeq
    assert(!seen.contains("head") && !seen.contains("count"), s"page actions: $seen")
    // the send (which parses the page in its tasks) and the commit's write
    assert(seen == Seq("foreachPartition", "command"), s"page actions: $seen")
    assert(store.load("t")._2 == 20 && store.load("t")._1.count() == 2)
  }

  /** A first page of `base` entities (ids 1 to `base`, updatedOnMs 10) and
    * then `n` pages, page i fetched from checkpoint 10 * i and made by
    * `items(i, updatedOnMs)`; the last one ends the run.
    */
  private def pageRun(base: Int, n: Int)(items: (Int, Long) => Seq[String]): Map[Long, EntityApiSource.Page] =
    Map(1L -> EntityApiSource.Page((1 to base).map(entity(_, "a", 10)), partialResults = true)) ++
      (1 to n).map(i => 10L * i -> EntityApiSource.Page(items(i, 10L * (i + 1)), partialResults = i < n))

  private def deltaDirs(root: java.nio.file.Path): Int =
    Files.list(root.resolve("t").resolve("current")).iterator().asScala
      .count(_.getFileName.toString.startsWith("_delta-"))

  /** The sources in Spark's codegen cache (CodeGenerator's private `cache`,
    * read by reflection). Spark's compilation count
    * (CodegenMetrics.METRIC_COMPILATION_TIME) also counts a class compiled
    * again after that 100-entry cache evicted it, so a rising count alone
    * does not mean new code; a source never cached before does.
    */
  private def cachedSources(): Set[String] = {
    val generator = Class.forName("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
    val field = generator.getDeclaredField("cache")
    field.setAccessible(true)
    val cache = field.get(generator.getField("MODULE$").get(null))
    val loading = cache.getClass.getMethod("loadingCache").invoke(cache)
    val asMap = loading.getClass.getMethod("asMap")
    asMap.setAccessible(true)
    asMap.invoke(loading).asInstanceOf[java.util.Map[AnyRef, AnyRef]].keySet().asScala.collect {
      case (c: CodeAndComment, _) => c.body
      case (_, c: CodeAndComment) => c.body
    }.toSet
  }

  test("a moving clock compiles no new code: generated sources stop changing after a compaction cycle") {
    sentBodies.clear(); failSends = false
    val root = Files.createTempDirectory("pl-codegen")
    // 400 state rows and 20 pages of two changed entities: five deltas and
    // one compaction per cycle. Page 6 compacts the first page's base and
    // page 12 the base page 6 wrote, whose file layout differs; from then
    // on every plan has been seen.
    val pages = pageRun(400, 20)((i, ts) => Seq(entity(i, s"v$i", ts), entity(i + 100, s"v$i", ts)))
    val seen = mutable.Set.empty[String] ++ cachedSources()
    val fresh = mutable.Buffer.empty[Int]
    val compiled = mutable.Buffer.empty[Long]
    var clock = 5000L
    // the job reads the clock once per page, between its send and its commit
    val now = () => {
      val sources = cachedSources()
      fresh += (sources -- seen).size
      seen ++= sources
      compiled += CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      clock += 1000
      clock
    }
    val stats = mkJob(new EntityStateStore(spark, root.toString), pages, now).runType(EntityType("t", "id"))
    assert(stats.map(_.emitted) == 400 +: Seq.fill(20)(2L))
    assert(fresh.drop(14).forall(_ == 0),
      s"new generated sources at each page: $fresh; compilations counted: $compiled")
    assert(deltaDirs(root) == 2)
  }

  test("a delta page writes its deduplicated ids, not the state, while the state grows") {
    sentBodies.clear(); failSends = false
    val root = Files.createTempDirectory("pl-delta")
    val store = new EntityStateStore(spark, root.toString)
    // each page: two new ids, one of them twice
    val pages = pageRun(400, 5)((i, ts) =>
      Seq(entity(1000 + 2 * i, "n", ts), entity(1001 + 2 * i, "n", ts), entity(1000 + 2 * i, "m", ts)))
    // each write's row count, with the shuffles its execution planned
    val written = new ConcurrentLinkedQueue[(Long, Seq[String])]()
    def planNodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case q: QueryStageExec => planNodes(q.plan)
      case p => p +: p.children.flatMap(planNodes)
    }
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val nodes = planNodes(qe.executedPlan)
        nodes.collect { case w: DataWritingCommandExec => w.cmd.metrics("numOutputRows").value }.foreach { rows =>
          written.add(rows -> nodes.collect { case e: ShuffleExchangeExec => e.simpleString(200) })
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    ListenerBusAccess.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      mkJob(store, pages).runType(EntityType("t", "id"))
      ListenerBusAccess.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    // CompactionShare of 400 rows is 10: four 2-row deltas as the state
    // grows from 400 to 408 rows, then page 5 compacts all 410
    assert(written.asScala.toSeq.map(_._1) == Seq(400L, 2L, 2L, 2L, 2L, 410L))
    // a delta commit reads the send's cached, deduplicated page without shuffling it again
    val deltaShuffles = written.asScala.toSeq.slice(1, 5).flatMap(_._2)
    assert(deltaShuffles.isEmpty, s"the delta commits shuffle: ${deltaShuffles.mkString("; ")}")
    assert(store.load("t")._1.count() == 410 && deltaDirs(root) == 0)
  }

  test("EtlConfig.buildJob renders {{env.X}} in entity templates from its env") {
    val posted = new ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/load", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        posted.add(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
        ex.sendResponseHeaders(200, -1); ex.close()
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val cfg = EtlConfig.fromJson(
        s"""{"sfx": {"server": "$base", "entitiesEndpoint": "/v2/entities?type={{type}}&updatedFromMs={{updatedFromMs}}"},
           | "target": {"server": "$base", "entitiesEndpoint": "/load"}}""".stripMargin)
      val job = EtlConfig.buildJob(spark,
        new EntityStateStore(spark, Files.createTempDirectory("pl-env").toString),
        cfg, Map("vm" -> """{"v": "{{env.BAR}}"}"""), "vm",
        env = () => Map("FOO" -> "f", "BAR" -> "b"))
      job.processPage(EntityType("vm", "id"),
        EntityApiSource.Page(Seq(entity(1, "a", 10)), partialResults = false), prevCheckpoint = 1L)
    } finally server.stop(0)
    assert(posted.asScala.toSeq == Seq("""[{"v": "b"}]"""))
  }

  test("EtlConfig loads the reference config.json shape (config.json:1-23, app.js:11)") {
    // the real reference config is the golden input, like the .hbs goldens
    val cfg = EtlConfig.load(java.nio.file.Paths.get("/root/reference/config.json"))
    assert(cfg.sfxHeaders == Map("X-SF-TOKEN" -> "{{env.SIGNALFX_ACCESS_TOKEN}}"))
    assert(cfg.typesUrl == "https://api.us1.signalfx.com/v2/entities/types")
    assert(cfg.entitiesUrlTemplate ==
      "https://api.us1.signalfx.com/v2/entities?type={{type}}&updatedFromMs={{updatedFromMs}}")
    assert(cfg.targetMethod == "PUT" && cfg.maxBatchSize == 10000)
    assert(cfg.targetHeaders("Content-Type") == "application/json")
    assert(cfg.ttlMs == 8L * 3600 * 1000)
    // url.resolve semantics (http.js:12): absolute endpoint replaces the
    // server's trailing slash; {{type}}/{{env.X}} render per type
    assert(cfg.targetUrlFor("vm", Map("BAR" -> "baz")) == "http://localhost:9090/sample/vm?foo=baz")
    // wiring fails fast when a header's env var is unset at construction
    intercept[IllegalArgumentException] {
      EtlConfig.buildJob(spark, new EntityStateStore(spark,
        Files.createTempDirectory("plc").toString), cfg, Map("vm" -> "{}"), "vm",
        env = () => Map("MY_SECRET_TOKEN" -> "t", "BAR" -> "b")) // SIGNALFX token missing
    }
    // with every referenced var present, the job wires end-to-end
    val job = EtlConfig.buildJob(spark, new EntityStateStore(spark,
      Files.createTempDirectory("plc2").toString), cfg, Map("vm" -> "{}"), "vm",
      env = () => Map("SIGNALFX_ACCESS_TOKEN" -> "s", "MY_SECRET_TOKEN" -> "t", "BAR" -> "b"))
    assert(job != null)
  }

  test("resolveUrl: an absolute endpoint replaces the server's base path (node url.resolve)") {
    val cfg = EtlConfig.fromJson(
      """{"sfx": {"server": "https://host/api", "entitiesEndpoint": "/v2/entities?type={{type}}"}}""")
    // node: url.resolve("https://host/api", "/v2/...") == "https://host/v2/..."
    assert(cfg.entitiesUrlTemplate == "https://host/v2/entities?type={{type}}")
    // relative endpoint appends
    val rel = EtlConfig.fromJson(
      """{"sfx": {"server": "https://host/api", "entitiesEndpoint": "v2/e"}}""")
    assert(rel.entitiesUrlTemplate == "https://host/api/v2/e")
  }
}
