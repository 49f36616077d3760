package graft

import graft.hadoop.ShellFreeRawLocalFileSystem
import graft.model.EntityType
import graft.ops.{DataSkipping, SketchCatalog}
import graft.pipeline.EntityEtlJob
import graft.sink.HttpBatchSink
import graft.source.EntityApiSource
import graft.state.EntityStateStore
import java.io.{IOException, OutputStream}
import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `faulty:///` — the local file system, except that the process "dies" at
  * the k-th mutating call: that create, mkdirs, rename or delete and every
  * later one throws, so nothing after the fault reaches disk, as with a
  * killed process. Reads keep working. Only calls from outside the file
  * system count: whether `mkdirs` recurses into a parent depends on racing
  * tasks.
  */
class FaultyFileSystem extends ShellFreeRawLocalFileSystem {
  import FaultyFileSystem.mutating
  override def getUri: URI = FaultyFileSystem.Uri
  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
      permission: FsPermission): OutputStream = mutating(super.createOutputStreamWithMode(f, append, permission))
  override def mkdirs(f: Path): Boolean = mutating(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean = mutating(super.mkdirs(f, permission))
  override def rename(src: Path, dst: Path): Boolean = mutating {
    val done = super.rename(src, dst)
    if (done) FaultyFileSystem.renamed.add(dst.getName)
    done
  }
  override def delete(f: Path, recursive: Boolean): Boolean = mutating(super.delete(f, recursive))
}

object FaultyFileSystem {
  val Uri: URI = URI.create("faulty:///")
  private val calls = new AtomicInteger()
  @volatile private var dieAt = Int.MaxValue
  private val depth = ThreadLocal.withInitial[Integer](() => 0)

  /** Count mutating calls from zero; die at call `k` (never by default). */
  /** Target names of the renames done since the last [[arm]]. */
  val renamed = new ConcurrentLinkedQueue[String]()

  def arm(k: Int = Int.MaxValue): Unit = { calls.set(0); dieAt = k; renamed.clear() }
  def mutatingCalls: Int = calls.get()

  private def mutating[A](call: => A): A = {
    if (depth.get == 0 && calls.incrementAndGet() >= dieAt) throw new IOException("injected crash")
    depth.set(depth.get + 1)
    try call finally depth.set(depth.get - 1)
  }
}

object CommitFaultSpec {
  // static collector: executors share the JVM in local mode
  val sent = new ConcurrentLinkedQueue[String]()
  def recordingSender: HttpBatchSink.Sender = body => sent.add(body)
}

/** Every crash point of the two on-disk commits ends in a replay, never in
  * lost state or a store that cannot be read: the per-page entity commit
  * (state + checkpoint, as a delta and as a compaction) and the sketch
  * catalog's compaction.
  */
class CommitFaultSpec extends SparkSpec {
  import CommitFaultSpec._
  import FaultyFileSystem.{arm, mutatingCalls, renamed}

  spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultyFileSystem].getName)

  private val entityType = EntityType("t", "id")
  private def entity(id: Int, x: String, ts: Long): String =
    s"""{"id": "$id", "x": "$x", "updatedOnMs": $ts}"""
  // 200 rows from page 1, so page 2 (3 rows) fits under the compaction
  // share (5 rows) and commits as a delta; page 3 would take the deltas to
  // 6 rows and commits as a compaction that drops the delta
  private val pages = Map(
    1L -> EntityApiSource.Page(Seq(entity(1, "a", 10), entity(2, "b", 20), entity(3, "c", 20)) ++
      (100 until 297).map(entity(_, "z", 15)), partialResults = true),
    20L -> EntityApiSource.Page(Seq(entity(3, "c", 20), entity(2, "b2", 30), entity(4, "d", 30)), partialResults = true),
    30L -> EntityApiSource.Page(Seq(entity(5, "e", 40), entity(6, "f", 40), entity(4, "d", 30)), partialResults = false))

  /** Run the 3-page job over `root`, adding the checkpoint of every fetch
    * to `fetchedFrom` (a fetch from checkpoint c follows the commit of c).
    */
  private def runJob(root: String, fetchedFrom: mutable.Buffer[Long]): Unit = {
    val fetch: EntityApiSource.Fetcher = url => {
      val ckpt = url.split("updatedFromMs=")(1).toLong
      fetchedFrom += ckpt
      val page = pages.getOrElse(ckpt, EntityApiSource.Page(Nil, partialResults = false))
      s"""{"items": ${page.items.mkString("[", ",", "]")}, "partialResults": ${page.partialResults}}"""
    }
    new EntityEtlJob(spark, new EntityStateStore(spark, root), fetch,
      entitiesUrlTemplate = "stub://e?type={{type}}&updatedFromMs={{updatedFromMs}}",
      sender = recordingSender,
      templates = Map("t" -> """{"id": "{{entity.id}}", "x": "{{entity.x}}"}"""),
      maxBatchSize = 10, ttlMs = 1000000, now = () => 5000).runType(entityType)
  }

  private def sentDocs(): Set[String] =
    sent.asScala.flatMap("""\{"id": "\d+", "x": "\w+"\}""".r.findAllIn(_)).toSet

  private def finalState(root: String): (Seq[(String, String, String)], Long) = {
    val (df, ckpt) = new EntityStateStore(spark, root).load(entityType.name)
    (df.select("id", "entityJson", "entityHash").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq.sorted, ckpt)
  }

  /** Spark logs every injected crash's stack traces at ERROR: keep them out
    * of the suite's output.
    */
  private def quietly[A](f: => A): A = {
    spark.sparkContext.setLogLevel("OFF")
    try f finally spark.sparkContext.setLogLevel("WARN")
  }

  private def swapSiblings(dir: JPath, name: String): Seq[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith(s".$name.tmp-") || n.startsWith(s".$name.old-")).toSeq

  /** Tmps of swaps beside `current` and of deltas appended inside it. */
  private def leftovers(typeDir: JPath): Seq[String] =
    swapSiblings(typeDir, "current") ++ (if (!Files.exists(typeDir.resolve("current"))) Nil
      else Files.list(typeDir.resolve("current")).iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("._delta-") && n.contains(".tmp-")).toSeq)

  test("entity commit: a crash at any mutating call is replayed; no state lost, no checkpoint moved back") {
    val cleanRoot = Files.createTempDirectory("fault-clean").toString
    sent.clear(); arm()
    runJob(s"faulty://$cleanRoot", mutable.Buffer.empty)
    val n = mutatingCalls
    // page 1 and page 3 swap in a base, page 2 appends a delta in between
    assert(renamed.asScala.toSeq.filter(n => n == "current" || n.startsWith("_delta-")) == Seq("current", "_delta-1", "current"))
    val expectedDocs = sentDocs()
    val expected = finalState(cleanRoot)
    assert(expected._2 == 40 && expected._1.map(_._1) == (Seq(1, 2, 3, 4, 5, 6) ++ (100 until 297)).map(_.toString).sorted)

    for (k <- 1 to n) {
      val root = Files.createTempDirectory(s"fault-$k").toString
      val beforeCrash, rerun = mutable.Buffer.empty[Long]
      sent.clear(); arm(k)
      try withClue(s"k=$k of $n: ")(intercept[Exception](quietly(runJob(s"faulty://$root", beforeCrash)))) finally arm()
      val recovered = new EntityStateStore(spark, root).load(entityType.name)._2
      runJob(root, rerun)
      val (state, ckpt) = finalState(root)
      val checkpoints = (beforeCrash :+ recovered) ++ rerun :+ ckpt
      assert(checkpoints == checkpoints.sorted, s"k=$k: the checkpoint moved backwards: $checkpoints")
      assert(expectedDocs.subsetOf(sentDocs()), s"k=$k: never sent: ${expectedDocs -- sentDocs()}")
      assert((state, ckpt) == expected, s"k=$k")
      assert(leftovers(Paths.get(root, entityType.name)).isEmpty, s"k=$k")
    }
  }

  test("catalog compaction: after a crash at any mutating call, compact + activate match the no-crash catalog") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fault-catalog")
    (0L until 40L).map(k => (k, s"seg${k % 4}")).toDF("d_key", "d_seg")
      .repartition(2).write.parquet(s"$dir/dim.parquet")
    (0L until 4000L).map(i => (i % 40L, i)).toDF("f_key", "f_id")
      .repartition(4).write.parquet(s"$dir/fact.parquet")
    // SketchJoinPlanningSpec's delta store: two disjoint fact slices + the dim
    val files = DataSkipping.listDataFiles(spark, s"$dir/fact.parquet")
    val (a, b) = files.splitAt(files.size / 2)
    val deltas = dir.resolve("deltas")
    SketchCatalog.save(SketchCatalog.harvestFiles(spark, s"$dir/fact.parquet", a, Seq("f_key"))
      .unionByName(SketchCatalog.harvest(spark, s"$dir/dim.parquet", Seq("d_key"))), deltas.toString)
    SketchCatalog.save(SketchCatalog.harvestFiles(spark, s"$dir/fact.parquet", b, Seq("f_key")),
      deltas.toString, append = true)
    def deltaStore(name: String): String = {
      val store = dir.resolve(name)
      Files.walk(deltas).iterator().asScala.foreach(f => Files.copy(f, store.resolve(deltas.relativize(f))))
      store.toString
    }
    def compacted(store: String) = try {
      SketchCatalog.compact(spark, store)
      SketchCatalog.activate(spark, store).entries
        .map(e => (e.table, e.key, e.nRows, e.nBytes, e.distinctEst, e.cms.toSeq, e.heavy))
        .sortBy(e => (e._1, e._2))
    } finally SketchCatalog.deactivate(spark)

    val clean = deltaStore("clean")
    arm()
    SketchCatalog.compact(spark, s"faulty://$clean")
    val n = mutatingCalls
    val expected = compacted(clean)
    assert(expected.map(_._2) == Seq("d_key", "f_key") && expected.map(_._3) == Seq(40L, 4000L))

    for (k <- 1 to n) {
      val store = deltaStore(s"store-$k")
      arm(k)
      try withClue(s"k=$k of $n: ")(intercept[Exception](quietly(SketchCatalog.compact(spark, s"faulty://$store")))) finally arm()
      assert(compacted(store) == expected, s"k=$k")
      assert(swapSiblings(dir, s"store-$k").isEmpty, s"k=$k")
    }
  }
}
