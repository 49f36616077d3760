package graft

import graft.streaming.StreamingCdc
import graft.streaming.StreamingCdc.{Change, EntityEvent}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files
import java.sql.Timestamp

/** Streaming CDC semantics over MemoryStream micro-batches: new/changed
  * emission, suppression of unchanged re-fetches across batches, and
  * watermarked windowed aggregation. One long-lived query per test with
  * `processAllAvailable` barriers between micro-batches (the sandboxed env
  * cannot run Trigger.AvailableNow's restart-per-run pattern — see
  * ShellFreeLocalFs scaladoc for the environment constraints).
  */
class StreamingCdcSpec extends SparkSpec {
  import spark.implicits._

  test("transformWithState CDC: new/updated emitted, unchanged suppressed across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EntityEvent]
    input.addData(
      EntityEvent("1", 10, """{"x":"1"}"""),
      EntityEvent("2", 20, """{"x":"2"}"""))
    val q = StreamingCdc.newOrUpdatedStream(input.toDS(), ttlMs = 0)
      .writeStream.format("memory").queryName("cdc_out")
      .option("checkpointLocation", Files.createTempDirectory("cdc-ckpt").toString)
      .outputMode("append").start()
    q.processAllAvailable()

    // batch 2: id=1 unchanged (overlap re-fetch), id=2 changed, id=3 new
    input.addData(
      EntityEvent("1", 30, """{"x":"1"}"""),
      EntityEvent("2", 40, """{"x":"2b"}"""),
      EntityEvent("3", 50, """{"x":"3"}"""))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("cdc_out").as[Change].collect()
      .map(c => (c.id, c.changeType, c.updatedOnMs)).toSet
    assert(out == Set(
      ("1", "new", 10L), ("2", "new", 20L),
      ("2", "updated", 40L), ("3", "new", 50L)))
  }

  test("late-arriving OLDER version in a later batch is suppressed (no stale overwrite)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EntityEvent]
    input.addData(EntityEvent("e", 200, """{"v":"new"}"""))
    val q = StreamingCdc.newOrUpdatedStream(input.toDS(), ttlMs = 0)
      .writeStream.format("memory").queryName("cdc_late")
      .option("checkpointLocation", Files.createTempDirectory("cdc-ckpt-late").toString)
      .outputMode("append").start()
    q.processAllAvailable()
    // batch 2: v1 arrives LATE, content differs — hash-only state would
    // emit it as 'updated' and regress the target to stale content
    input.addData(EntityEvent("e", 100, """{"v":"old"}"""))
    q.processAllAvailable()
    // batch 3: redelivery of the CURRENT version must stay suppressed
    input.addData(EntityEvent("e", 200, """{"v":"new"}"""))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("cdc_late").as[Change].collect()
      .map(c => (c.changeType, c.updatedOnMs)).toSeq
    assert(out == Seq(("new", 200L)))
  }

  test("two versions of one id inside a single batch emit both transitions in order") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EntityEvent]
    input.addData(
      EntityEvent("9", 1, """{"v":"a"}"""),
      EntityEvent("9", 2, """{"v":"b"}"""),
      EntityEvent("9", 3, """{"v":"b"}"""))
    val q = StreamingCdc.newOrUpdatedStream(input.toDS(), ttlMs = 0)
      .writeStream.format("memory").queryName("cdc_out2")
      .option("checkpointLocation", Files.createTempDirectory("cdc-ckpt2").toString)
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("cdc_out2").as[Change].collect().sortBy(_.updatedOnMs)
      .map(c => (c.changeType, c.updatedOnMs)).toSeq
    assert(out == Seq(("new", 1L), ("updated", 2L)))
  }

  test("streaming exact dedup: first content wins across batches, min doc id within a batch") {
    import graft.streaming.StreamingDedup
    import graft.streaming.StreamingDedup.{Doc, Kept}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    // batch 1: docs 5 and 2 are dups modulo case/whitespace -> keeper 2
    input.addData(
      Doc(5L, "The quick  brown fox"),
      Doc(2L, "  the quick brown fox "),
      Doc(7L, "something else entirely"))
    val q = StreamingDedup.firstSeenStream(input.toDS())
      .writeStream.format("memory").queryName("dedup_out")
      .option("checkpointLocation", Files.createTempDirectory("dedup-ckpt").toString)
      .outputMode("append").start()
    q.processAllAvailable()

    // batch 2: known content re-arrives (suppressed, even with a smaller
    // id — first arrival won); one genuinely new doc passes
    input.addData(
      Doc(1L, "the quick brown fox"),
      Doc(9L, "brand new content here"))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("dedup_out").as[Kept].collect().map(k => k.docId).toSet
    assert(out == Set(2L, 7L, 9L))
  }

  test("watermarked tumbling window aggregates per hour") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    input.addData(
      (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
      (Timestamp.valueOf("2024-01-01 10:55:00"), "click", 2.0),
      (Timestamp.valueOf("2024-01-01 11:05:00"), "click", 4.0))
    val q = StreamingCdc.tumblingCounts(df, "ts", "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("wnd_out")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("wnd_out")
      .select("window_start", "n", "sum_value").as[(Timestamp, Long, Double)]
      .collect().sortBy(_._1.getTime)
    assert(rows.map(r => (r._2, r._3)).toSeq == Seq((2L, 3.0), (1L, 4.0)))
  }

  test("sliding windows: each event lands in exactly two hopping windows, stream equals batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val events = Seq(
      (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
      (Timestamp.valueOf("2024-01-01 10:40:00"), "click", 2.0),
      (Timestamp.valueOf("2024-01-01 11:05:00"), "view", 4.0))
    input.addData(events: _*)
    val q = StreamingCdc.slidingCounts(df, "ts", "1 hour", "30 minutes", "10 minutes")
      .writeStream.format("memory").queryName("slide_out")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("slide_out")
      .select("window_start", "event_type", "n", "sum_value")
      .as[(Timestamp, String, Long, Double)].collect()
      .map(r => (r._1.getTime, r._2) -> ((r._3, r._4))).toMap
    // batch twin: every event belongs to windows starting at
    // floor(t/30m)*30m and that minus 30m (1h length, 30m hop)
    val expected = events
      .flatMap { case (ts, et, v) =>
        val s1 = ts.getTime / 1800000L * 1800000L
        Seq(((s1 - 1800000L, et), v), ((s1, et), v))
      }
      .groupBy(_._1)
      .map { case (k, vs) => k -> ((vs.size.toLong, vs.map(_._2).sum)) }
    assert(rows == expected, s"stream $rows vs batch $expected")
  }

  test("JVM normalize is the twin of Dedup.normalizeText on edge whitespace") {
    val tricky = Seq("foo\n", "  foo  ", "\tfoo\t", "a  b\n\nc", " Mixed CASE \r\n", "", "   ", "\n")
    val viaCol = tricky.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
      .select(graft.ops.Dedup.normalizeText(org.apache.spark.sql.functions.col("t"))).as[String].collect().toSeq
    val viaJvm = tricky.map(graft.streaming.StreamingDedup.normalize)
    assert(viaJvm == viaCol)
  }

  test("session windows merge events within the gap, split across it") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "user", "value")
    input.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), "u1", 1.0),
      (Timestamp.valueOf("2024-01-01 10:10:00"), "u1", 2.0),  // within 30m gap: merges
      (Timestamp.valueOf("2024-01-01 12:00:00"), "u1", 4.0),  // > gap: new session
      (Timestamp.valueOf("2024-01-01 10:05:00"), "u2", 8.0))
    val q = StreamingCdc.sessionCounts(df, "ts", "user", gap = "30 minutes", watermark = "10 minutes")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sess_out")
      .select("user", "session_start", "n_events", "sum_value")
      .as[(String, Timestamp, Long, Double)].collect().sortBy(r => (r._1, r._2.getTime))
    assert(rows.map(r => (r._1, r._3, r._4)).toSeq ==
      Seq(("u1", 2L, 3.0), ("u1", 1L, 4.0), ("u2", 1L, 8.0)))
    // the merged session spans first event .. last event + gap
    assert(rows(0)._2 == Timestamp.valueOf("2024-01-01 10:00:00"))
  }

  test("foreachBatch load path: changes render + send before the offset commits") {
    implicit val sqlCtx = spark.sqlContext
    PipelineSpec.sentBodies.clear(); PipelineSpec.failSends = false
    val input = MemoryStream[EntityEvent]
    input.addData(
      EntityEvent("7", 1, """{"v":"a"}"""),
      EntityEvent("8", 2, """{"v":"b"}"""))
    val changes = StreamingCdc.newOrUpdatedStream(input.toDS(), ttlMs = 0)
    val q = StreamingCdc.loadStream(changes,
      """{"id": "{{entity.id}}", "change": "{{entity.changeType}}", "doc": {{{entity.payload}}}, "v": "{{entity.v}}", "z": "{{entity.z}}"}""",
      PipelineSpec.collectingSender, maxBatchSize = 1,
      Files.createTempDirectory("load-ckpt").toString)
    q.processAllAvailable()
    q.stop()
    val bodies = scala.jdk.CollectionConverters.CollectionHasAsScala(PipelineSpec.sentBodies).asScala.toSeq
    assert(bodies.size == 2) // maxBatchSize=1 -> one body per change
    val all = bodies.mkString
    assert(all.contains(""""change": "new"""") && all.contains(""""doc": {"v":"b"}"""))
    // other entity fields render from the payload's keys, an absent one as ""
    assert(all.contains(""""v": "a", "z": """"") && all.contains(""""v": "b", "z": """""))
  }

  test("dropDuplicatesWithinWatermark suppresses overlap re-fetches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val df = input.toDF().toDF("ts", "event_id")
    val q = StreamingCdc.dedupWithinWatermark(df, Seq("event_id"), "ts", "1 hour")
      .writeStream.format("memory").queryName("dd_out")
      .option("checkpointLocation", Files.createTempDirectory("dd-ckpt").toString)
      .outputMode("append").start()
    input.addData((Timestamp.valueOf("2024-01-01 10:00:00"), 1L),
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L),
      (Timestamp.valueOf("2024-01-01 10:01:00"), 2L))
    q.processAllAvailable()
    input.addData((Timestamp.valueOf("2024-01-01 10:02:00"), 1L)) // overlap re-fetch
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dd_out").count() == 2)
  }
}
