package graft

import graft.model.Model
import graft.state.{EntityStateStore, StateStores}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** State-store semantics, 1:1 with the reference's cache tests
  * (test/cache.test.js): empty bootstrap (:17-23), save/load roundtrip
  * (:36-48), upsert + checkpoint=max (:50-61), TTL eviction (:63-74),
  * partial-results stall bump (:76-82), TTL refresh on every touched id
  * (:98-106); and the generation store against the full rewrite it
  * replaced.
  */
class EntityStateStoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore() =
    new EntityStateStore(spark, Files.createTempDirectory("graft-state-spec").toString)

  private def batch(rows: (String, String)*) =
    rows.toSeq.toDF("id", "entityHash").withColumn("entityJson", concat(lit("{}"), lit("")))
      .select("id", "entityJson", "entityHash")

  test("empty bootstrap: missing state -> empty DF + default checkpoint (cache.test.js:17-23)") {
    val (df, ckpt) = freshStore().load("nope")
    assert(df.count() == 0 && ckpt == Model.DefaultCheckpoint)
    assert(df.schema == Model.stateSchema)
  }

  test("commit/load roundtrip with upsert and checkpoint (cache.test.js:36-61)") {
    val store = freshStore()
    store.commit("t", batch("1" -> "h1", "2" -> "h2"), nowMs = 1000, ttlMs = 500, newCheckpoint = 42, pageRows = 2)
    val (df1, ckpt1) = store.load("t")
    assert(ckpt1 == 42 && df1.count() == 2)
    // upsert overwrites by id, keeps survivors
    store.commit("t", batch("2" -> "h2b", "3" -> "h3"), nowMs = 1100, ttlMs = 500, newCheckpoint = 50, pageRows = 2)
    val (df2, ckpt2) = store.load("t")
    assert(ckpt2 == 50)
    val m = df2.select("id", "entityHash").as[(String, String)].collect().toMap
    assert(m == Map("1" -> "h1", "2" -> "h2b", "3" -> "h3"))
  }

  test("TTL eviction at commit time (cache.test.js:63-74) + refresh for touched ids") {
    val store = freshStore()
    store.commit("t", batch("old" -> "h", "touched" -> "h"), nowMs = 1000, ttlMs = 100, newCheckpoint = 1, pageRows = 2)
    // at now=1200 both ttls (1100) expired; "touched" re-appears in the batch
    // (TTL refresh side effect, cache.js:79), "old" is evicted
    store.commit("t", batch("touched" -> "h"), nowMs = 1200, ttlMs = 100, newCheckpoint = 2, pageRows = 1)
    val ids = store.load("t")._1.select("id").as[String].collect().toSeq
    assert(ids == Seq("touched"))
  }

  /** The commit before generations, kept as the reference: every commit
    * rewrites the whole state — the survivors of `state` that are not in
    * the page, plus the page.
    */
  private def rewriteCommit(state: DataFrame, batch: DataFrame, nowMs: Long, ttlMs: Long): DataFrame = {
    val fresh = StateStores.dedupNewestPerId(batch)
      .select(col("id"), lit(nowMs + ttlMs).as("ttl"), col("entityJson"), col("entityHash"))
    val survivors = state
      .where(col("ttl") >= lit(nowMs))
      .join(fresh.select(col("id").as("__bid")), col("id") === col("__bid"), "left_anti")
    survivors.unionByName(fresh).select(Model.stateSchema.fieldNames.map(col): _*)
  }

  private def stateRows(df: DataFrame): Seq[(String, Long, String, String)] =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3))).toSeq.sorted

  private def deltaCount(root: Path): Int = {
    val current = root.resolve("t").resolve("current")
    if (!Files.exists(current)) 0
    else Files.list(current).iterator().asScala.count(_.getFileName.toString.startsWith("_delta-"))
  }

  test("generations: after every commit of random pages, load equals the full rewrite, rows and checkpoint") {
    val ttlMs = 1000L
    var sawDelta, sawDeltasCompacted, sawEvictionAtRead = false
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val root = Files.createTempDirectory(s"graft-gen-$seed")
      val store = new EntityStateStore(spark, root.toString)
      var reference = spark.createDataFrame(List.empty[Row].asJava, Model.stateSchema)
      var now, ckpt = 0L
      for (step <- 0 until 14) {
        // a big page now and then (compacts), mostly pages of 1-3 rows over
        // overlapping ids, with repeats inside a page; the clock moves by up
        // to 40% of the TTL, so rows expire across generations
        val size = if (step == 0 || rnd.nextInt(6) == 0) 300 + rnd.nextInt(200) else 1 + rnd.nextInt(3)
        val page = Seq.fill(size)((s"e${rnd.nextInt(600)}", rnd.nextInt(50).toLong, s"h${rnd.nextInt(3)}"))
          .toDF("id", Model.UpdatedOnMs, "entityHash").withColumn("entityJson", concat(lit("j-"), col("entityHash")))
        now += rnd.nextInt(400); ckpt += rnd.nextInt(5)
        val before = stateRows(reference).map(_._1).toSet
        val deltasBefore = deltaCount(root)
        store.commit("t", page, now, ttlMs, ckpt, pageRows = size)
        val expected = rewriteCommit(reference, page, now, ttlMs).collect().toList
        reference = spark.createDataFrame(expected.asJava, Model.stateSchema)
        val (df, loaded) = store.load("t")
        assert(loaded == ckpt, s"seed $seed step $step: checkpoint")
        assert(stateRows(df) == stateRows(reference), s"seed $seed step $step")
        val deltas = deltaCount(root)
        sawDelta |= deltas > 0
        sawDeltasCompacted |= deltasBefore > 0 && deltas == 0
        sawEvictionAtRead |= deltas > 0 && (before -- expected.map(_.getString(0))).nonEmpty
      }
    }
    assert(sawDelta && sawDeltasCompacted && sawEvictionAtRead,
      s"delta $sawDelta, compaction of deltas $sawDeltasCompacted, eviction at read $sawEvictionAtRead")
  }

  test("nextCheckpoint: max over ALL fetched rows; invalid keeps prev; stall bumps (cache.js:100-117)") {
    import EntityStateStore.nextCheckpoint
    // the observed max (over every fetched row, PipelineSpec's dropped-row
    // page checks that) advances the checkpoint, never backwards
    assert(nextCheckpoint(Some(30L), prev = 5, partialResults = false) == 30)
    assert(nextCheckpoint(Some(3L), prev = 5, partialResults = false) == 5)
    // no valid updatedOnMs on the page -> the checkpoint stays
    assert(nextCheckpoint(None, prev = 5, partialResults = false) == 5)
    // stall-breaker: partial results but checkpoint did not advance -> +1ms
    assert(nextCheckpoint(Some(5L), prev = 5, partialResults = true) == 6)
    assert(nextCheckpoint(None, prev = 5, partialResults = true) == 6)
    // reference fixture: checkpoint 30 + stall -> 31 (cache.test.js:76-82)
    assert(nextCheckpoint(Some(30L), prev = 30, partialResults = true) == 31)
    // no bump when the page was the last one
    assert(nextCheckpoint(Some(30L), prev = 30, partialResults = false) == 30)
  }

  test("commit survives repeated ids within one page (overlap re-fetch, W3)") {
    val store = freshStore()
    store.commit("t", batch("1" -> "ha", "1" -> "ha"), nowMs = 1, ttlMs = 10, newCheckpoint = 1, pageRows = 2)
    assert(store.load("t")._1.count() == 1)
  }

  test("intra-page dedup keeps the NEWEST version per id (page-order overwrite, cache.js:56)") {
    val store = freshStore()
    // same id, two contents: updatedOnMs 20 must win over 10 even though
    // its hash sorts lexicographically later
    val b = Seq(("1", 10L, "aaa-old"), ("1", 20L, "zzz-new"))
      .toDF("id", Model.UpdatedOnMs, "entityHash")
      .withColumn("entityJson", lit("{}"))
    store.commit("t", b, nowMs = 1, ttlMs = 10, newCheckpoint = 1, pageRows = 2)
    val kept = store.load("t")._1.select("entityHash").as[String].collect().toSeq
    assert(kept == Seq("zzz-new"))
  }

  test("K3 SCD2 history: half-open intervals chain per key; current slice == LWW head") {
    import graft.state.Scd2
    val versions = Seq(
      (1L, 10L, 100L, "a"), (1L, 20L, 101L, "b"), (1L, 30L, 102L, "c"),
      (2L, 15L, 200L, "x"),
      // same ms, tie on version id: 301 is the later version
      (3L, 40L, 300L, "p"), (3L, 40L, 301L, "q")
    ).toDF("key", "ms", "vid", "payload")
    val h = Scd2.history(versions, "key", col("ms"), col("vid"), Seq("payload"))
      .select("key", "__tie", "valid_from_ms", "valid_to_ms", "is_current", "payload")
      .as[(Long, Long, Long, Option[Long], Boolean, String)].collect()
      .sortBy(r => (r._1, r._3, r._2))
    // intervals chain: each non-head valid_to equals the next valid_from
    h.groupBy(_._1).foreach { case (_, rows) =>
      rows.sliding(2).foreach {
        case Array(prev, next) => assert(prev._4.contains(next._3), s"chain broken: $prev -> $next")
        case _ =>
      }
      assert(rows.count(_._5) == 1, "exactly one current version per key")
      assert(rows.last._5, "the last version is the current one")
    }
    // tie at equal ms: higher vid is the survivor
    val k3 = h.filter(_._1 == 3L)
    assert(k3.find(_._2 == 300L).get._4.contains(40L) && k3.find(_._2 == 301L).get._5)
    // the current slice IS the LWW head
    val current = h.filter(_._5).map(r => (r._1, r._2)).toSet
    assert(current == Set((1L, 102L), (2L, 200L), (3L, 301L)))
  }

  test("K4 time travel: as-of cutoff returns the version valid AT that moment") {
    import graft.state.Scd2
    val versions = Seq(
      (1L, 10L, 100L, "a"), (1L, 20L, 101L, "b"), (1L, 30L, 102L, "c"),
      (2L, 25L, 200L, "x") // born after the cutoff: absent as of 20
    ).toDF("key", "ms", "vid", "payload")
    val asOf20 = Scd2.asOf(versions, "key", col("ms"), col("vid"),
        col("ms") <= 20L, Seq("payload"))
      .select("key", "__tie", "payload").as[(Long, Long, String)].collect().toSet
    assert(asOf20 == Set((1L, 101L, "b")), "key 1 at version b; key 2 not yet born")
  }
}
