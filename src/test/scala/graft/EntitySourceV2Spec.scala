package graft

import graft.model.EntityType
import graft.source.v2.{CheckpointOffset, EntityMicroBatchStream, EntityReaderFactory, EntitySourceConfig, EntityTableProvider, FetcherFactory}
import graft.source.EntityApiSource
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.functions._

/** Stub transport for the V2 connector specs: pages keyed by checkpoint. */
class StubFetcherFactory extends FetcherFactory {
  override def fetcher(options: Map[String, String]): EntityApiSource.Fetcher = url => {
    val ckpt = url.split("updatedFromMs=")(1).toLong
    StubFetcherFactory.pages.getOrElse(ckpt, """{"items": [], "partialResults": false}""")
  }
}
object StubFetcherFactory {
  val pages: Map[Long, String] = Map(
    1L ->
      """{"items": [{"uid": "a", "color": "red", "updatedOnMs": 100},
        |           {"uid": "b", "color": "blue", "updatedOnMs": 200}], "partialResults": true}""".stripMargin,
    200L ->
      """{"items": [{"uid": "b", "color": "blue", "updatedOnMs": 200},
        |           {"uid": "c", "color": "green", "updatedOnMs": 300}], "partialResults": false}""".stripMargin)
}

/** 5-page backlog stub for the admission-control spec: 10 distinct items,
  * two per page, strictly increasing timestamps, no boundary re-fetch.
  */
class DeepBacklogFetcherFactory extends FetcherFactory {
  override def fetcher(options: Map[String, String]): EntityApiSource.Fetcher = url => {
    val ckpt = url.split("updatedFromMs=")(1).toLong
    DeepBacklogFetcherFactory.pages.getOrElse(ckpt, """{"items": [], "partialResults": false}""")
  }
}
object DeepBacklogFetcherFactory {
  private def page(ts: Seq[Long], partial: Boolean): String = {
    val items = ts.map(t => s"""{"uid": "u$t", "v": "x$t", "updatedOnMs": $t}""").mkString(",")
    s"""{"items": [$items], "partialResults": $partial}"""
  }
  val pages: Map[Long, String] = Map(
    1L -> page(Seq(100L, 110L), partial = true),
    110L -> page(Seq(120L, 130L), partial = true),
    130L -> page(Seq(140L, 150L), partial = true),
    150L -> page(Seq(160L, 170L), partial = true),
    170L -> page(Seq(180L, 190L), partial = false))
}

/** Mutable stub for the AvailableNow spec: pages can change mid-run to
  * model data arriving after the prepare-time probe.
  */
class MutableBacklogFetcherFactory extends FetcherFactory {
  override def fetcher(options: Map[String, String]): EntityApiSource.Fetcher = url => {
    val ckpt = url.split("updatedFromMs=")(1).toLong
    MutableBacklogFetcherFactory.pages.getOrElse(ckpt, """{"items": [], "partialResults": false}""")
  }
}
object MutableBacklogFetcherFactory {
  @volatile var pages: Map[Long, String] = Map.empty
}

/** Records every requested checkpoint; serves `pages` (by default the
  * deep-backlog pages).
  */
class CountingFetcherFactory extends FetcherFactory {
  override def fetcher(options: Map[String, String]): EntityApiSource.Fetcher = url => {
    val ckpt = url.split("updatedFromMs=")(1).toLong
    CountingFetcherFactory.requested.add(ckpt)
    CountingFetcherFactory.pages.getOrElse(ckpt, """{"items": [], "partialResults": false}""")
  }
}
object CountingFetcherFactory {
  val requested = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  @volatile var pages: Map[Long, String] = DeepBacklogFetcherFactory.pages
  def asked: Seq[Long] = scala.jdk.CollectionConverters.CollectionHasAsScala(requested).asScala.toSeq
}

/** Two-page stub whose first page carries `updatedOnMs` in exponent
  * notation (`1.5e9`): the checkpoint must advance numerically (to
  * 1500000000), not freeze on an unparseable literal.
  */
class ExponentTsFetcherFactory extends FetcherFactory {
  override def fetcher(options: Map[String, String]): EntityApiSource.Fetcher = url => {
    val ckpt = url.split("updatedFromMs=")(1).toLong
    ExponentTsFetcherFactory.pages.getOrElse(ckpt, """{"items": [], "partialResults": false}""")
  }
}
object ExponentTsFetcherFactory {
  val pages: Map[Long, String] = Map(
    1L ->
      """{"items": [{"uid": "e1", "v": "a", "updatedOnMs": 1.5e9},
        |           {"uid": "e2", "v": "b", "updatedOnMs": 1.4e9}], "partialResults": true}""".stripMargin,
    1500000000L ->
      """{"items": [{"uid": "e3", "v": "c", "updatedOnMs": 1500000100}], "partialResults": false}""".stripMargin)
}

/** DataSource V2 connector: batch read drains the pagination loop with the
  * stall-proof checkpoint advance; short name resolves via
  * DataSourceRegister; rows land in the canonical (id, updatedOnMs, attrs)
  * shape with pushdown-by-URL.
  */
class EntitySourceV2Spec extends SparkSpec {
  import spark.implicits._

  /** Drives an AvailableNow run by hand, as Spark's engine would: batches
    * until `latestOffset` stops advancing. Returns the final offset and the
    * ids read.
    */
  private def driveAvailableNow(stream: EntityMicroBatchStream): (Long, Seq[String]) = {
    stream.prepareForTriggerAvailableNow()
    var start = stream.initialOffset().asInstanceOf[CheckpointOffset]
    val seen = Seq.newBuilder[String]
    var end = stream.latestOffset(start, ReadLimit.allAvailable()).asInstanceOf[CheckpointOffset]
    while (end.ms != start.ms) {
      stream.planInputPartitions(start, end).foreach { p =>
        val r = EntityReaderFactory.createReader(p)
        while (r.next()) seen += r.get().getUTF8String(0).toString
      }
      start = end
      end = stream.latestOffset(start, ReadLimit.allAvailable()).asInstanceOf[CheckpointOffset]
    }
    (end.ms, seen.result())
  }

  private def read() = spark.read.format("graft-entities")
    .option("urlTemplate", "stub://e?type={{type}}&updatedFromMs={{updatedFromMs}}")
    .option("type", "widget")
    .option("uniqueIdField", "uid")
    .option("fetcherClass", classOf[StubFetcherFactory].getName)
    .load()

  test("batch read drains all pages; duplicate boundary rows arrive (CDC suppresses downstream)") {
    val df = read()
    assert(df.schema.fieldNames.toSeq == Seq("id", "updatedOnMs", "attrs"))
    val rows = df.select($"id", $"updatedOnMs", element_at($"attrs", "color"))
      .as[(String, Long, String)].collect().sorted.toSeq
    // 4 raw rows: b is re-fetched at the inclusive checkpoint boundary (W3)
    assert(rows == Seq(("a", 100L, "red"), ("b", 200L, "blue"), ("b", 200L, "blue"), ("c", 300L, "green")))
  }

  test("v1/v2 parity: identical attrs map (and hash input) for nulls, decimals and numeric strings") {
    // the entity a migration must not re-emit: decimal 1.50, JSON null,
    // a string that LOOKS numeric, a long, a bool
    val item = """{"uid": "e1", "w": 1.50, "z": null, "s": "1.50", "n": 2, "b": true, "updatedOnMs": 100}"""
    MutableBacklogFetcherFactory.pages = Map(
      1L -> s"""{"items": [$item], "partialResults": false}""")
    val v2 = spark.read.format("graft-entities")
      .option("urlTemplate", "stub://e?type={{type}}&updatedFromMs={{updatedFromMs}}")
      .option("type", "widget").option("uniqueIdField", "uid")
      .option("fetcherClass", classOf[MutableBacklogFetcherFactory].getName)
      .load()
    val v1 = EntityApiSource.pageToDf(spark,
      EntityApiSource.Page(Seq(item), partialResults = false), EntityType("widget", "uid"))
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", $"updatedOnMs", map_entries($"attrs").cast("array<struct<key:string,value:string>>"))
        .as[(String, Long, Seq[(String, String)])].collect()
        .map { case (id, u, m) => (id, u, m.sortBy(_._1)) }.toSeq
    assert(shape(v2) == shape(v1))
  }

  test("page independence: a value renders alone, whatever else its page holds") {
    // {"n":2} shares page 1 with {"n":2.5}, and is re-fetched alone on
    // page 2 with the same content: both copies must hash the same, or the
    // CDC filter re-sends an unchanged entity
    MutableBacklogFetcherFactory.pages = Map(
      1L -> """{"items": [{"uid": "m1", "n": 2, "updatedOnMs": 100},
        |                {"uid": "m2", "n": 2.5, "updatedOnMs": 150}], "partialResults": true}""".stripMargin,
      150L -> """{"items": [{"uid": "m1", "n": 2, "updatedOnMs": 200}], "partialResults": false}""")
    val v2 = spark.read.format("graft-entities")
      .option("urlTemplate", "stub://e?type={{type}}&updatedFromMs={{updatedFromMs}}")
      .option("type", "widget").option("uniqueIdField", "uid")
      .option("fetcherClass", classOf[MutableBacklogFetcherFactory].getName)
      .load()
    val rows = graft.cdc.ChangeFilter.withContentColumns(v2)
      .select($"id", element_at($"attrs", "n"), $"entityHash").as[(String, String, String)].collect()
    assert(rows.map(r => (r._1, r._2)).sorted.toSeq == Seq(("m1", "2"), ("m1", "2"), ("m2", "2.5")))
    assert(rows.filter(_._1 == "m1").map(_._3).distinct.length == 1)
  }

  test("checkpoint option starts mid-stream (URL pushdown of the predicate)") {
    val df = spark.read.format("graft-entities")
      .option("urlTemplate", "stub://e?type={{type}}&updatedFromMs={{updatedFromMs}}")
      .option("type", "widget").option("uniqueIdField", "uid")
      .option("checkpoint", "200")
      .option("fetcherClass", classOf[StubFetcherFactory].getName)
      .load()
    assert(df.select("id").as[String].collect().sorted.toSeq == Seq("b", "c"))
  }

  test("AvailableNow: prepared end bounds the run; capped batches walk the full backlog") {
    val config = EntitySourceConfig(
      "stub://e?type={{type}}&updatedFromMs={{updatedFromMs}}",
      EntityType("widget", "uid"), 1L,
      classOf[MutableBacklogFetcherFactory].getName, Map.empty, maxPagesPerBatch = 2)
    MutableBacklogFetcherFactory.pages = DeepBacklogFetcherFactory.pages
    val stream = new EntityMicroBatchStream(config)
    stream.prepareForTriggerAvailableNow() // fixes end = 190 (full backlog)
    // data arriving AFTER the probe: reachable from offset 190, but must be
    // excluded from this run and left for the next one
    MutableBacklogFetcherFactory.pages = DeepBacklogFetcherFactory.pages +
      (190L -> """{"items": [{"uid": "late", "v": "x", "updatedOnMs": 250}], "partialResults": false}""")
    var start = stream.initialOffset()
    var batches = 0
    val seen = Seq.newBuilder[String]
    var done = false
    while (!done) {
      val end = stream.latestOffset(start, ReadLimit.allAvailable())
      if (end.asInstanceOf[CheckpointOffset].ms == start.asInstanceOf[CheckpointOffset].ms) done = true
      else {
        batches += 1
        stream.planInputPartitions(start, end).foreach { p =>
          val r = EntityReaderFactory.createReader(p)
          while (r.next()) seen += r.get().getUTF8String(0).toString
        }
        start = end
      }
    }
    // 5 pages at cap 2 => 3 batches; the walk reaches the PREPARED end, not
    // one capped drain (the generic wrapper's failure mode), and not the
    // late arrival either
    assert(batches == 3)
    assert(start.asInstanceOf[CheckpointOffset].ms == 190L)
    val ids = seen.result()
    assert(ids.size == 10 && !ids.contains("late"))
  }

  /** Fetches per checkpoint of a hand-driven AvailableNow run over the
    * 5-page backlog at page cap `cap`.
    */
  private def availableNowFetches(cap: Int): Map[Long, Int] = {
    CountingFetcherFactory.requested.clear()
    val stream = new EntityMicroBatchStream(EntitySourceConfig(
      "stub://e?type={{type}}&updatedFromMs={{updatedFromMs}}",
      EntityType("widget", "uid"), 1L,
      classOf[CountingFetcherFactory].getName, Map.empty, maxPagesPerBatch = cap))
    val (end, ids) = driveAvailableNow(stream)
    assert(end == 190L && ids.sorted == (100 to 190 by 10).map(t => s"u$t").sorted)
    CountingFetcherFactory.asked.groupBy(identity).map { case (ckpt, n) => ckpt -> n.size }
  }

  test("AvailableNow at the default cap: the run's walk is its batch, each page fetched once") {
    // 190 is the last latestOffset's empty page, which ends the run
    assert(availableNowFetches(Int.MaxValue) ==
      Map(1L -> 1, 110L -> 1, 130L -> 1, 150L -> 1, 170L -> 1, 190L -> 1))
  }

  test("AvailableNow at cap 2: the first batch's pages come from the run's walk, fetched once") {
    // the pages past the cap are fetched again by their own batches, which
    // keeps the driver's memory at the cap
    assert(availableNowFetches(2) ==
      Map(1L -> 1, 110L -> 1, 130L -> 2, 150L -> 2, 170L -> 2, 190L -> 1))
  }

  test("the batch read and runType walk the same checkpoints (boundary re-fetch, exponent timestamps)") {
    val tpl = """{"id": "{{entity.id}}"}"""
    def walkedBy(read: => Unit): Seq[Long] = {
      CountingFetcherFactory.requested.clear()
      read
      CountingFetcherFactory.asked
    }
    try {
      for ((pages, expected) <- Seq(StubFetcherFactory.pages -> Seq(1L, 200L),
                                    ExponentTsFetcherFactory.pages -> Seq(1L, 1500000000L))) {
        CountingFetcherFactory.pages = pages
        val viaReader = walkedBy {
          spark.read.format("graft-entities")
            .option("urlTemplate", "stub://e?type={{type}}&updatedFromMs={{updatedFromMs}}")
            .option("type", "widget").option("uniqueIdField", "uid")
            .option("fetcherClass", classOf[CountingFetcherFactory].getName)
            .load().collect()
        }
        val viaLoop = walkedBy {
          val store = new graft.state.EntityStateStore(spark,
            java.nio.file.Files.createTempDirectory("v2walk").toString)
          new graft.pipeline.EntityEtlJob(spark, store, new CountingFetcherFactory().fetcher(Map.empty),
            entitiesUrlTemplate = "stub://e?type={{type}}&updatedFromMs={{updatedFromMs}}",
            sender = _ => (), templates = Map("widget" -> tpl))
            .runType(EntityType("widget", "uid"))
        }
        assert(viaReader == expected)
        assert(viaLoop == viaReader)
      }
    } finally CountingFetcherFactory.pages = DeepBacklogFetcherFactory.pages
  }

  test("AvailableNow probe starts from the restored offset, not startCheckpoint") {
    val config = EntitySourceConfig(
      "stub://e?type={{type}}&updatedFromMs={{updatedFromMs}}",
      EntityType("widget", "uid"), 1L,
      classOf[CountingFetcherFactory].getName, Map.empty, maxPagesPerBatch = 2)
    CountingFetcherFactory.requested.clear()
    val stream = new EntityMicroBatchStream(config)
    stream.prepareForTriggerAvailableNow()
    // prepare must NOT walk the API (it has no offset yet); the probe runs
    // on the first latestOffset call with the restored checkpoint
    assert(CountingFetcherFactory.requested.isEmpty)
    stream.latestOffset(CheckpointOffset(150L), ReadLimit.allAvailable())
    val asked = CountingFetcherFactory.asked
    assert(asked.nonEmpty)
    // a long-lived pipeline restored at 150 must never re-fetch history
    // from startCheckpoint=1
    assert(asked.min >= 150L, s"probe re-walked history: fetched from ${asked.min}")
  }

  test("exponent-notation updatedOnMs advances the checkpoint and lands as a long") {
    val df = spark.read.format("graft-entities")
      .option("urlTemplate", "stub://e?type={{type}}&updatedFromMs={{updatedFromMs}}")
      .option("type", "widget").option("uniqueIdField", "uid")
      .option("fetcherClass", classOf[ExponentTsFetcherFactory].getName)
      .load()
    val rows = df.select($"id", $"updatedOnMs").as[(String, Long)].collect().sorted.toSeq
    // page 2 was fetched => the 1.5e9 checkpoint advanced the pagination loop
    assert(rows == Seq(("e1", 1500000000L), ("e2", 1400000000L), ("e3", 1500000100L)))
  }

  test("micro-batch streaming read: offset = checkpoint, pages arrive incrementally") {
    val out = spark.readStream.format("graft-entities")
      .option("urlTemplate", "stub://e?type={{type}}&updatedFromMs={{updatedFromMs}}")
      .option("type", "widget").option("uniqueIdField", "uid")
      .option("fetcherClass", classOf[StubFetcherFactory].getName)
      .load()
    val q = out.writeStream.format("memory").queryName("v2_stream")
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory("v2s").toString)
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    // the first latestOffset drains the full pagination loop (both pages)
    val ids = spark.table("v2_stream").select("id").as[String].collect().sorted.toSeq
    assert(ids == Seq("a", "b", "b", "c"))
  }

  test("admission control: maxPagesPerBatch walks a deep backlog across micro-batches (W4)") {
    val out = spark.readStream.format("graft-entities")
      .option("urlTemplate", "stub://e?type={{type}}&updatedFromMs={{updatedFromMs}}")
      .option("type", "widget").option("uniqueIdField", "uid")
      .option("maxPagesPerBatch", "2")
      .option("fetcherClass", classOf[DeepBacklogFetcherFactory].getName)
      .load()
    val q = out.writeStream.format("memory").queryName("v2_admission")
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory("v2a").toString)
      .outputMode("append").start()
    q.processAllAvailable()
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    q.stop()
    // 5 pages / cap 2 => 3 micro-batches (4 + 4 + 2 rows), never one big drain
    assert(progress.length == 3, s"expected 3 non-empty micro-batches, got ${progress.length}")
    assert(progress.map(_.numInputRows).toSeq == Seq(4L, 4L, 2L))
    // the source offset (= entity checkpoint) advances strictly monotonically
    val endOffsets = progress.map(_.sources.head.endOffset.toLong).toSeq
    assert(endOffsets == endOffsets.sorted && endOffsets.distinct == endOffsets)
    assert(endOffsets.last == 190L)
    // union of the batches is the complete backlog, exactly once here
    val ids = spark.table("v2_admission").select("id").as[String].collect().sorted.toSeq
    assert(ids == (100 to 190 by 10).map(t => s"u$t").sorted)
  }

  test("Trigger.AvailableNow drains a deep backlog across multiple batches, then terminates") {
    // end-to-end through Spark's streaming engine (not a hand-driven stream
    // object): 5 pages at cap 2 must surface as 3 micro-batches under ONE
    // AvailableNow run, terminate on its own, and deliver the whole backlog
    val out = spark.readStream.format("graft-entities")
      .option("urlTemplate", "stub://e?type={{type}}&updatedFromMs={{updatedFromMs}}")
      .option("type", "widget").option("uniqueIdField", "uid")
      .option("maxPagesPerBatch", "2")
      .option("fetcherClass", classOf[DeepBacklogFetcherFactory].getName)
      .load()
    val q = out.writeStream.format("memory").queryName("v2_availablenow")
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory("v2an").toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val finished = q.awaitTermination(120000)
    assert(finished, "AvailableNow query did not terminate: capped walk never reached the prepared end")
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    // the drain continued past one capped batch (the generic-wrapper failure
    // mode stops at 4 rows) and reached the true backlog end
    assert(progress.map(_.numInputRows).toSeq == Seq(4L, 4L, 2L),
      s"expected 3 capped batches, got ${progress.map(_.numInputRows).toSeq}")
    assert(progress.last.sources.head.endOffset.toLong == 190L)
    val ids = spark.table("v2_availablenow").select("id").as[String].collect().sorted.toSeq
    assert(ids == (100 to 190 by 10).map(t => s"u$t").sorted)
  }

  test("composes with the CDC filter + template like any DataFrame") {
    val batch = read()
    val state = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      graft.model.Model.stateSchema)
    val changed = graft.cdc.ChangeFilter.newOrUpdated(
      graft.cdc.ChangeFilter.withContentColumns(batch.dropDuplicates("id")), state)
    assert(changed.count() == 3)
  }
}
