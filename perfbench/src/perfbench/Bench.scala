package perfbench

import graft.GraftSession
import graft.pipeline.EtlConfig
import graft.source.EntityApiSource
import graft.state.EntityStateStore
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Replay benchmark of the incremental entity ETL loop.
  *
  * Usage: `Bench --workload W --seed N --seconds S --trace 0|1 --work-dir D`.
  *
  * Set-up starts the session and the loopback API/target, generates the
  * workload from the seed, builds the pre-existing state with the program's
  * own backfill and runs warm-up passes. The timed section then runs passes
  * until `S` seconds of pass time have accrued; a pass is one run of the
  * job over every catalogued type, a closed loop with one client. Every
  * pass is checked against [[Oracle]]; the final state and checkpoint are
  * checked at the end. The last stdout line is the JSON result.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val spec = Workload.specs.getOrElse(opts("workload"),
      sys.error(s"unknown workload ${opts("workload")}; known: ${Workload.specs.keys.mkString(", ")}"))
    val workDir = Paths.get(opts("work-dir")).toAbsolutePath
    val spark = GraftSession.builder("local[4]", 4)
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.attach(spark)
    val harness = new Harness(spark, spec, opts("seed").toLong, workDir, opts.get("spans").map(Paths.get(_)))
    val result =
      try harness.run(opts("seconds").toDouble, opts.get("trace").contains("1"))
      finally { harness.close(); spark.stop() }
    Harness.log(s"stopped at ${Harness.uptimeS()}s")
    println(result)
    if (!result.startsWith("{\"correct\": true")) sys.exit(1)
  }
}

/** One pass's outcome. Times are nanoseconds; `deliveryS` is the p50 and
  * p99 delivery time in seconds; `catalogNs` and `postNs` are the handler
  * intervals of the catalog GETs and the target's PUTs.
  */
final case class PassResult(
    wallNs: Long, startNs: Long, fetched: Long, pages: Int, failedPages: Int,
    pageNs: Seq[Long], deliveryS: (Double, Double), emitted: Long, docs: Long, batches: Long,
    duplicates: Long, bytesOut: Long, bytesIn: Long, programCpuNs: Long, liveHeap: Long,
    served: Seq[Served], catalogNs: Seq[(Long, Long)], postNs: Seq[(Long, Long)])

final class Harness(spark: SparkSession, spec: Spec, seed: Long, workDir: Path, spansOut: Option[Path]) {

  // the catalog lists one type; the harness handles the catalog's types alike
  private val feeds = Seq(Workload.generate(spec, seed))
  private val feedOf = feeds.map(f => f.typeName -> f).toMap
  private val api = new Loopback(feeds, Workload.MaxBatchSize)
  private val cfg = EtlConfig.fromJson(
    s"""{"logLevel": "warn",
       | "sfx": {"server": "${api.baseUrl}", "headers": {"Accept": "application/json"},
       |   "entitiesTypesEndpoint": "/v2/entities/types",
       |   "entitiesEndpoint": "/v2/entities?type={{type}}&updatedFromMs={{updatedFromMs}}"},
       | "target": {"method": "PUT", "server": "${api.baseUrl}",
       |   "headers": {"Content-Type": "application/json"},
       |   "entitiesEndpoint": "/target/{{type}}", "maxBatchSize": ${Workload.MaxBatchSize}},
       | "entitiesCacheTtlInHours": 8}""".stripMargin)
  private val templates = feeds.map(_.typeName -> Workload.Template).toMap
  private val sparkTrace = new SparkTrace
  private val cpuMx = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private var storeNo = 0
  private var storeRoot: Path = _
  private var store: EntityStateStore = _
  private var oracles: Map[String, Oracle[Item]] = Map.empty
  private var streamPass = 0
  private var problems = Vector.empty[String]

  def close(): Unit = api.close()

  private def freshStore(): Unit = {
    if (storeRoot != null) Harness.deleteTree(storeRoot)
    storeNo += 1
    storeRoot = workDir.resolve(s"state-$storeNo")
    store = new EntityStateStore(spark, storeRoot.toString)
    oracles = feeds.map(f => f.typeName -> new Oracle[Item](_.id, _.ts, _.content)).toMap
  }

  /** The next slice of the feed: for backfill the whole history into an
    * empty store, otherwise the next `passPages` pages of the stream.
    */
  private def nextPass(): PassResult = {
    if (spec.backfill) freshStore()
    streamPass += 1
    val horizons = feeds.map { f =>
      f.typeName -> (if (!spec.backfill) f.horizons(streamPass)
                     else f.horizons(1))
    }.toMap
    runPass(horizons, spec.pageSize)
  }

  def run(seconds: Double, trace: Boolean): String = {
    Harness.log(s"session and inputs ready at ${Harness.uptimeS()}s")
    freshStore()
    if (!spec.backfill) {
      val built = runPass(feeds.map(f => f.typeName -> f.horizons(0)).toMap, spec.setupPageSize)
      require(problems.isEmpty, s"set-up backfill failed: ${problems.mkString("; ")}")
      require(built.fetched >= spec.stateSize, "set-up backfill fetched too little")
      Harness.log(s"pre-existing state built at ${Harness.uptimeS()}s")
    }
    (0 until Workload.WarmupPasses).foreach(_ => nextPass())
    require(problems.isEmpty, s"warm-up failed: ${problems.mkString("; ")}")
    val setupS = Harness.uptimeS()
    Harness.log(s"warm-up done at ${setupS}s; ${Harness.jvmTotals()}")

    val passes = mutable.ArrayBuffer.empty[(PassResult, Option[PassTrace])]
    var measuredNs = 0L
    val budgetNs = (seconds * 1e9).toLong
    // traced runs alternate untraced and traced passes and end untraced
    val minPasses = if (trace) 3 else 1
    def more = passes.size < minPasses || measuredNs < budgetNs || (trace && passes.size % 2 == 0)
    while (more && passes.size < Workload.MaxPasses && problems.isEmpty) {
      val traced = trace && passes.size % 2 == 1
      if (traced) {
        sparkTrace.clear()
        spark.sparkContext.addSparkListener(sparkTrace)
        spark.listenerManager.register(sparkTrace)
      }
      val r = nextPass()
      val t = if (!traced) None else {
        org.apache.spark.sql.PerfbenchAccess.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(sparkTrace)
        spark.listenerManager.unregister(sparkTrace)
        Some(traceOf(r, passes.size))
      }
      passes += ((r, t))
      measuredNs += r.wallNs
      Harness.log(f"pass ${passes.size}%d${if (traced) " (traced)" else ""}: ${r.pages}%d pages, " +
        f"${r.wallNs / 1e9}%.2fs, cpu ${r.programCpuNs / 1e9}%.2fs, live heap ${r.liveHeap >> 20}%dMB, " +
        Harness.jvmTotals())
    }
    checkFinalState()
    Harness.log(s"final state checked at ${Harness.uptimeS()}s")

    val results = passes.map(_._1)
    val attempted = results.map(_.pages).sum
    val failed = results.map(_.failedPages).sum
    val ok = problems.isEmpty && failed == 0
    if (!ok) {
      problems.take(20).foreach(p => System.err.println(s"[perfbench] check failed: $p"))
      return s"""{"correct": false, "attempted": ${math.max(attempted, 1)}, "failed": ${math.max(failed, 1)}, "metrics": {}}"""
    }
    val metrics: Seq[(String, Double, String)] =
      if (trace) traceMetrics(passes.toSeq)
      else endToEnd(results.toSeq, setupS)
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${Harness.num(v)}, "unit": "$u"}""" }
    s"""{"correct": true, "attempted": $attempted, "failed": $failed, "metrics": {${body.mkString(", ")}}}"""
  }

  // ------------------------------------------------------------------ a pass

  /** Run the job, as [[EtlConfig.buildJob]] builds it, once over every
    * catalogued type, one type after another like the reference's loop;
    * then check the pass.
    */
  private def runPass(horizons: Map[String, Int], pageSize: Int): PassResult = {
    horizons.foreach { case (t, h) => api.setHorizon(t, h) }
    api.pageSize = pageSize
    api.drain()
    val cpu0 = cpuMx.getProcessCpuTime
    val handler0 = api.handlerCpuNs.get
    val rejected0 = api.rejected.get
    val t0 = System.nanoTime()
    val types = EntityApiSource.fetchEntityTypes(EntityApiSource.httpFetcher(cfg.sfxHeaders), cfg.typesUrl)
    val failure: Option[Throwable] = types.iterator.map { t =>
      try { EtlConfig.buildJob(spark, store, cfg, templates, t.name).runType(t); None }
      catch { case e: Exception => Some(e) }
    }.collectFirst { case Some(e) => e }
    val t1 = System.nanoTime()
    val programCpu = (cpuMx.getProcessCpuTime - cpu0) - (api.handlerCpuNs.get - handler0)
    failure.foreach(e => problems :+= s"pass ${streamPass} threw: $e")
    val failedPages = if (failure.isDefined || api.rejected.get > rejected0) 1 else 0
    val r = summarize(api.drain(), horizons, t0, t1, programCpu, failedPages)
    // measured once the documents the target recorded are unreachable
    r.copy(liveHeap = Harness.liveHeap())
  }

  private def summarize(traffic: Traffic, horizons: Map[String, Int], t0: Long, t1: Long,
                        programCpu: Long, failedPages: Int): PassResult = {
    val Traffic(served, arrivals, catalog) = traffic
    val deliveries = check(served, arrivals, horizons, t0)
    val pageStarts = served.map(_.atNs)
    val pageNs = pageStarts.indices.map(i => (if (i + 1 < pageStarts.size) pageStarts(i + 1) else t1) - pageStarts(i))
    val docs = arrivals.map(_.docs.length.toLong).sum
    val distinct = arrivals.groupBy(a => (a.typeName, a.seq)).values
      .map(_.flatMap(_.docs.map(d => Loopback.field(d, Workload.IdKey))).distinct.size.toLong).sum
    PassResult(
      wallNs = t1 - t0, startNs = t0, fetched = served.map(s => (s.end - s.start).toLong).sum,
      pages = served.size, failedPages = failedPages,
      pageNs = pageNs, deliveryS = (Harness.quantile(deliveries.map(_ / 1e9), 0.5),
        Harness.quantile(deliveries.map(_ / 1e9), 0.99)), emitted = deliveries.size.toLong, docs = docs,
      batches = arrivals.size.toLong, duplicates = docs - distinct, bytesOut = arrivals.map(_.bytes).sum,
      bytesIn = served.map(_.bytes).sum, programCpuNs = programCpu, liveHeap = 0L,
      served = served, catalogNs = catalog, postNs = arrivals.map(a => (a.startNs, a.endNs)))
  }

  /** Replay the served pages through the oracle and compare what reached
    * the target; returns each emitted entity's delivery time from `t0`.
    */
  private def check(served: Seq[Served], arrivals: Seq[Arrival], horizons: Map[String, Int],
                    t0: Long): Seq[Long] = {
    val bySeq = arrivals.groupBy(a => (a.typeName, a.seq))
    val deliveries = Vector.newBuilder[Long]
    for (f <- feeds) {
      val pages = served.filter(_.typeName == f.typeName)
      val oracle = oracles(f.typeName)
      try {
        pages.foreach { p =>
          val expected = oracle.page(p.fromMs, f.items.slice(p.start, p.end).toSeq, p.partial)
          val got = bySeq.getOrElse((f.typeName, p.seq), Nil)
          val firstArrival = mutable.HashMap.empty[String, Long]
          for (a <- got; d <- a.docs) {
            val id = Loopback.field(d, Workload.IdKey)
            expected.get(id) match {
              case None => problems :+= s"${f.typeName} page ${p.seq}: unexpected document for $id"
              case Some(item) if d != Workload.render(item.values) =>
                problems :+= s"${f.typeName} page ${p.seq}: wrong document for $id: $d"
              case _ => if (firstArrival.get(id).forall(_ > a.atNs)) firstArrival(id) = a.atNs
            }
          }
          val missing = expected.keySet -- firstArrival.keySet
          if (missing.nonEmpty) problems :+= s"${f.typeName} page ${p.seq}: ${missing.size} changed entities never delivered"
          deliveries ++= firstArrival.values.map(_ - t0)
        }
        val last = pages.lastOption
        if (!last.exists(p => !p.partial && p.end == horizons(f.typeName)))
          problems :+= s"${f.typeName}: pass stopped before the end of its feed"
        val ckpt = store.load(f.typeName)._2
        if (ckpt != oracle.checkpoint)
          problems :+= s"${f.typeName}: checkpoint $ckpt, expected ${oracle.checkpoint}"
      } catch {
        case e: IllegalArgumentException => problems :+= s"${f.typeName}: ${e.getMessage}"
      }
    }
    val extra = served.map(_.typeName).toSet -- feedOf.keySet
    if (extra.nonEmpty) problems :+= s"unknown types fetched: $extra"
    deliveries.result()
  }

  /** The committed state of every type equals the oracle's cache. */
  private def checkFinalState(): Unit = feeds.foreach { f =>
    val (df, ckpt) = store.load(f.typeName)
    val oracle = oracles(f.typeName)
    if (ckpt != oracle.checkpoint) problems :+= s"${f.typeName}: final checkpoint $ckpt, expected ${oracle.checkpoint}"
    val rows = df.select("id", "entityJson").collect().map(r => r.getString(0) -> r.getString(1))
    val got = rows.toMap
    if (rows.length != got.size) problems :+= s"${f.typeName}: state holds duplicate ids"
    if (got.keySet != oracle.state.keySet)
      problems :+= s"${f.typeName}: state has ${got.size} ids, expected ${oracle.state.size}"
    val wrong = oracle.state.count { case (id, item) => got.get(id).exists(_ != Harness.stateJson(item)) }
    if (wrong > 0) problems :+= s"${f.typeName}: $wrong cached copies differ from the newest version"
  }

  private def stateBytes(): Long = feeds.map(f => Harness.treeBytes(storeRoot.resolve(f.typeName))).sum

  // ----------------------------------------------------------------- metrics

  private def endToEnd(rs: Seq[PassResult], setupS: Double): Seq[(String, Double, String)] = {
    val liveRows = oracles.values.map(_.state.size).sum.toDouble
    Seq(
      ("entities_per_s", Harness.quantile(rs.map(r => r.fetched / (r.wallNs / 1e9)), 0.5), "entities/s"),
      ("page_s_p50", Harness.quantile(rs.flatMap(_.pageNs).map(_ / 1e9), 0.5), "s"),
      ("delivery_s_p50", Harness.quantile(rs.map(_.deliveryS._1), 0.5), "s"),
      ("delivery_s_p99", Harness.quantile(rs.map(_.deliveryS._2), 0.5), "s"),
      ("cpu_ms_per_entity", Harness.quantile(rs.map(r => r.programCpuNs / 1e6 / r.fetched), 0.5), "ms"),
      ("state_bytes_per_entity", stateBytes() / liveRows, "B"),
      ("live_heap_mb", Harness.quantile(rs.map(_.liveHeap / 1048576.0), 0.5), "MB"),
      ("setup_s", setupS, "s"))
  }

  /** Per-page layer figures of one traced pass. */
  private final case class PageTrace(
      fetchNs: Long, driverNs: Long, planningNs: Long, layerNs: Map[String, Long],
      selfNs: Map[String, Long], execs: Int, jobs: Int, tasks: Long, cpuNs: Long, gcNs: Long,
      spillBytes: Long, sendCpuNs: Long, sendShuffleBytes: Long, sendRowsRead: Long,
      rowsWritten: Long, bytesWritten: Long, inferJobs: Int, postNs: Long)

  /** One traced pass: its pages, plus state counts taken right after it. */
  private final case class PassTrace(pass: PassResult, pages: Seq[PageTrace], fetchCalls: Int,
                                     liveRows: Long, bytesOnDisk: Long)

  private var spanId = 0
  private val allSpans = Vector.newBuilder[Span]

  /** Spans and layer figures of a traced pass. The job runs as in every
    * other pass; fetch and post times are the loopback handlers' intervals,
    * and Spark work belongs to the page during which it ran: a pass is a
    * closed loop with one client, so pages follow one another.
    */
  private def traceOf(r: PassResult, passNo: Int): PassTrace = {
    def span(parent: Int, name: String, a: Long, b: Long): Span = {
      spanId += 1; Span(spanId, parent, name, passNo, a, b)
    }
    val passEnd = r.startNs + r.wallNs
    val passSpan = span(-1, "pass", r.startNs, passEnd)
    val gets = r.served.sortBy(_.atNs)
    // page of an interval: the last page whose GET started before its middle
    def pageOf(startMs: Long, endMs: Long): Int = {
      val mid = (sparkTrace.toNs(startMs) + sparkTrace.toNs(endMs)) / 2
      gets.lastIndexWhere(_.atNs <= mid)
    }
    val jobs = sparkTrace.jobList.filter(_.endMs >= 0)
    val execs = sparkTrace.execList.filter(_.endMs >= 0)
    val spans = Vector.newBuilder[Span]
    spans += passSpan
    r.catalogNs.foreach { case (a, b) => spans += span(passSpan.id, "source.fetch", a, b) }
    val pages = gets.zipWithIndex.map { case (g, i) =>
      val end = if (i + 1 < gets.size) gets(i + 1).atNs else passEnd
      val page = span(passSpan.id, "page", g.atNs, end)
      val fetchSpan = span(page.id, "source.fetch", g.atNs, g.endNs)
      val pExecs = execs.filter(e => pageOf(e.startMs, e.endMs) == i)
      val pJobs = jobs.filter(j => pageOf(j.startMs, j.endMs) == i)
      val execSpans = pExecs.map(e =>
        e.id -> span(page.id, Spans.layerOf(e.callSite), sparkTrace.toNs(e.startMs), sparkTrace.toNs(e.endMs)))
      val bareJobSpans = pJobs.filter(_.exec < 0).map(j =>
        span(page.id, Spans.layerOf(j.callSite), sparkTrace.toNs(j.startMs), sparkTrace.toNs(j.endMs)))
      val postSpans = r.postNs.filter { case (a, _) => a >= page.startNs && a < page.endNs }.map { case (a, b) =>
        val parent = execSpans.map(_._2).find(s => s.name == "sink.send" && s.startNs <= a && b <= s.endNs)
        span(parent.map(_.id).getOrElse(page.id), "sink.post", a, b)
      }
      val pageSpans = Seq(page, fetchSpan) ++ execSpans.map(_._2) ++ bareJobSpans ++ postSpans
      spans ++= pageSpans
      val self = Spans.selfTimes(pageSpans)
      val jobIvs = pJobs.map(j => (sparkTrace.toNs(j.startMs), sparkTrace.toNs(j.endMs)))
      val driverNs = page.durNs - Spans.covered(page.startNs, page.endNs, (g.atNs, g.endNs) +: jobIvs)
      val metricsOf = pJobs.map(j => j -> sparkTrace.jobMetrics(j.id))
      def execMetrics(layer: String) = metricsOf.filter { case (j, _) =>
        execSpans.exists { case (id, s) => id == j.exec && s.name == layer }
      }.map(_._2)
      val send = execMetrics("sink.send")
      val commit = execMetrics("state.commit")
      val layerSpans = execSpans.map(_._2) ++ bareJobSpans
      PageTrace(
        fetchNs = fetchSpan.durNs, driverNs = driverNs,
        planningNs = pExecs.map(e => sparkTrace.planningMsOf(e.id)).sum * 1000000L,
        layerNs = layerSpans.groupBy(_.name).map { case (n, ss) => n -> ss.map(_.durNs).sum },
        selfNs = pageSpans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum },
        execs = pExecs.size, jobs = pJobs.size, tasks = metricsOf.map(_._2.tasks).sum,
        cpuNs = metricsOf.map(_._2.cpuNs).sum, gcNs = metricsOf.map(_._2.gcMs).sum * 1000000L,
        spillBytes = metricsOf.map(_._2.spillBytes).sum,
        sendCpuNs = send.map(_.cpuNs).sum, sendShuffleBytes = send.map(_.shuffleWriteBytes).sum,
        sendRowsRead = send.map(_.recordsRead).sum,
        rowsWritten = commit.map(_.recordsWritten).sum, bytesWritten = commit.map(_.bytesWritten).sum,
        inferJobs = pJobs.count(j => Spans.layerOf(j.callSite) == "source.infer"),
        postNs = postSpans.map(_.durNs).sum)
    }
    allSpans ++= spans.result()
    val live = feeds.map(f => store.load(f.typeName)._1.count()).sum
    PassTrace(r, pages, gets.size + r.catalogNs.size, live, stateBytes())
  }

  private def traceMetrics(passes: Seq[(PassResult, Option[PassTrace])]): Seq[(String, Double, String)] = {
    val traced = passes.flatMap(_._2)
    // tracing overhead: each traced pass against the untraced passes on
    // either side of it, so the warm-up trend cancels
    val overheads = passes.indices.collect { case i if passes(i)._2.isDefined =>
      val around = Seq(i - 1, i + 1).filter(j => passes.isDefinedAt(j) && passes(j)._2.isEmpty)
      passes(i)._1.wallNs / 1e9 - around.map(j => passes(j)._1.wallNs / 1e9).sum / around.size
    }
    val first = traced.head
    val pages = traced.flatMap(_.pages)
    val n = first.pages.size.toDouble
    def med(f: PageTrace => Long): Double = Harness.quantile(pages.map(p => f(p) / 1e9), 0.5)
    def tot(f: PageTrace => Long): Double = first.pages.map(f).sum.toDouble
    val fp = first.pass
    val self = Spans.selfTimes(allSpans.result())
    spansOut.foreach(Files.writeString(_, Spans.toJson(allSpans.result(), self)))
    val spanNames = Seq("page", "source.fetch", "source.infer", "sink.send", "sink.post",
      "state.checkpoint", "state.commit", "pipeline.count")
    Seq(
      ("state.commit_s", med(_.layerNs.getOrElse("state.commit", 0L)), "s"),
      ("state.rows_written", tot(_.rowsWritten), "count"),
      ("state.bytes_written", tot(_.bytesWritten), "B"),
      ("state.write_amp", tot(_.rowsWritten) / fp.fetched, "ratio"),
      ("state.checkpoint_s", med(_.layerNs.getOrElse("state.checkpoint", 0L)), "s"),
      ("state.live_rows", first.liveRows.toDouble, "count"),
      ("state.bytes_on_disk", first.bytesOnDisk.toDouble, "B"),
      ("pipeline.sql_executions_per_page", tot(_.execs) / n, "count"),
      ("pipeline.spark_jobs_per_page", tot(_.jobs) / n, "count"),
      ("pipeline.tasks_per_page", tot(_.tasks) / n, "count"),
      ("pipeline.driver_s_per_page", med(_.driverNs), "s"),
      ("pipeline.planning_s_per_page", med(_.planningNs), "s"),
      ("pipeline.count_s", med(_.layerNs.getOrElse("pipeline.count", 0L)), "s"),
      ("pipeline.exec_cpu_s", med(_.cpuNs), "s"),
      ("pipeline.exec_gc_s", med(_.gcNs), "s"),
      ("pipeline.spill_bytes", tot(_.spillBytes), "B"),
      ("pipeline.pages", n, "count"),
      ("cdc.state_rows_read_per_page", tot(_.sendRowsRead) / n, "count"),
      ("cdc.shuffle_bytes_per_page", tot(_.sendShuffleBytes) / n, "B"),
      ("cdc.emitted_ratio", fp.emitted.toDouble / fp.fetched, "ratio"),
      ("sink.send_s", med(_.layerNs.getOrElse("sink.send", 0L)), "s"),
      ("sink.send_cpu_s", med(_.sendCpuNs), "s"),
      ("sink.post_s", med(_.postNs), "s"),
      ("sink.batches", fp.batches.toDouble, "count"),
      ("sink.docs", fp.docs.toDouble, "count"),
      ("sink.bytes_out", fp.bytesOut.toDouble, "B"),
      ("sink.batch_fill", if (fp.batches == 0) 0.0 else fp.docs.toDouble / fp.batches / Workload.MaxBatchSize, "ratio"),
      ("sink.duplicate_docs", fp.duplicates.toDouble, "count"),
      ("source.fetch_s", med(_.fetchNs), "s"),
      ("source.fetch_calls", first.fetchCalls.toDouble, "count"),
      ("source.bytes_in", fp.bytesIn.toDouble, "B"),
      ("source.infer_jobs", tot(_.inferJobs), "count"),
      ("source.infer_s", med(_.layerNs.getOrElse("source.infer", 0L)), "s")
    ) ++ spanNames.map(s => (s"span.$s.self_s", med(_.selfNs.getOrElse(s, 0L)), "s")) ++ Seq(
      ("trace.pass_s", Harness.quantile(traced.map(_.pass.wallNs / 1e9), 0.5), "s"),
      ("trace.overhead_s", Harness.quantile(overheads, 0.5), "s"))
  }
}

object Harness {

  /** Linear-interpolated quantile (NaN for no samples). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Heap in use after full collections, once Spark's cleaner has had the
    * chance to drop what the first collection made unreachable.
    */
  def liveHeap(): Long = {
    System.gc(); Thread.sleep(200); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Cumulative GC and JIT compilation time, for the run log. */
  def jvmTotals(): String = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    s"gc ${gcMs}ms, jit ${ManagementFactory.getCompilationMXBean.getTotalCompilationTime}ms so far"
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Seconds since the JVM started. */
  def uptimeS(): Double = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  /** The cached copy the program keeps for an entity: its attributes but
    * `updatedOnMs`, as key-sorted `{key, value}` entries.
    */
  def stateJson(item: Item): String =
    Workload.Keys.indices.sortBy(Workload.Keys(_))
      .map(i => s"""{"key":"${Workload.Keys(i)}","value":"${item.values(i)}"}""").mkString("[", ",", "]")

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally s.close()
    }
}
