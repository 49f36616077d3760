package graft.state

import graft.model.Model
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets.UTF_8

/** Persisted per-entity-type state: the Spark replacement for the reference's
  * per-type JSON cache file (reference cache.js:20-48 — SURVEY.md §2 rows
  * S4/K2/F4/A1/W5).
  *
  * Layout: a type's state is a chain of generations under
  * `<root>/<type>/current/`.
  *  - Generation 0, the base, is the parquet table directly in `current/`
  *    (Model.stateSchema).
  *  - Generation n >= 1, a delta, is `current/_delta-<n>/`: the deduplicated
  *    rows of one page. Spark's reader skips `_`-prefixed names, so reading
  *    `current` reads the base alone.
  *  - Each generation holds a `_checkpoint` file: the epoch-millis
  *    watermark, the generation's row count and its commit time. A
  *    `_checkpoint` with the watermark alone (the layout before deltas) is
  *    a base of unknown size, which the next commit compacts.
  *
  * [[load]] keeps each id's row from the newest generation holding it (the
  * generation is read from the file's directory) and drops the rows whose
  * ttl passed at the newest generation's commit time, which is the state a
  * full rewrite at every commit leaves while the clock does not step back
  * (a backward step can keep a row such a rewrite dropped, until the next
  * compaction). The checkpoint is the newest generation's, so state and
  * checkpoint become visible in the same rename and a torn checkpoint is
  * never committed. This keeps the reference's page-granular commit
  * (reference app.js:57-58 commits after *each* page).
  *
  * Compaction rule: a page commits as a compaction — the merged state plus
  * the page, evicted, written as a new base and swapped in by
  * [[AtomicSwap.replace]], which drops every delta with the old base —
  * when the rows of the deltas on disk plus the page's rows would exceed
  * [[EntityStateStore.CompactionShare]] of the base's rows (each counting
  * at least one row). Otherwise the page is appended as the next delta by
  * [[AtomicSwap.append]]. A page into a state of less than 40 times its
  * size therefore always compacts, and a small page into a large state
  * writes only its own rows.
  *
  * Clock values reach the plans as [[EntityStateStore.clock]] columns, not
  * literals, so a page's generated code is the same at every commit.
  */
final class EntityStateStore(spark: SparkSession, root: String) {
  import EntityStateStore._

  // one per store: sessions here disable the FileSystem cache for file://
  private val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  private def currentDir(t: String): Path = new Path(new Path(root, t), "current")

  /** Load state; missing path -> empty DF with schema + default checkpoint
    * (reference cache.js:20-35: empty-on-missing bootstrap). A state with
    * no `_checkpoint` also starts from the default: a replay against the
    * kept state.
    *
    * With `ids`, only the rows of those ids are read past the scan: a
    * broadcast left-semi join below the generation merge, so what the
    * merge and any join downstream shuffle is the page, not the state.
    */
  def load(entityType: String, ids: Option[DataFrame] = None): (DataFrame, Long) = {
    val gens = generations(entityType)
    (view(gens, ids), gens.lastOption.fold(Model.DefaultCheckpoint)(_.checkpoint))
  }

  /** Commit one page (reference updateCache cache.js:44-58 + saveCache
    * cache.js:37-42, called per page app.js:57-58):
    *
    *  1. upsert every *fetched* entity (changed or not) with a fresh TTL —
    *     the TTL-refresh-on-read side effect (cache.js:56,79) means all ids
    *     seen in the batch get `now + ttl`, and the cached copy/hash of
    *     changed rows is replaced;
    *  2. evict entries whose ttl passed (cache.js:60-67, F4);
    *  3. advance the checkpoint.
    *
    * A delta commit writes the page's rows with the checkpoint; eviction
    * then happens at read. A compaction writes the whole evicted state (see
    * the class doc for which one a page gets). `pageRows` bounds the
    * batch's distinct ids from above (the caller's observed count); it
    * only chooses between the two.
    *
    * `batch` columns: id, entityJson, entityHash (updatedOnMs already
    * stripped from json/hash by the caller — cache.js:53, see
    * [[graft.cdc.ChangeFilter.withContentColumns]]; pass it as an extra
    * `updatedOnMs` column so intra-page dedup keeps the NEWEST version,
    * matching the reference's last-item-in-page-order overwrite). Other
    * columns are ignored; an already deduplicated batch passes unchanged.
    * A batch that is already deduplicated and hash-partitioned on `id`,
    * such as a cached [[StateStores.dedupNewestPerId]] result, commits
    * without a shuffle of the page: the dedup here and a compaction's
    * anti-join reuse its partitioning.
    */
  def commit(
      entityType: String,
      batch: DataFrame,
      nowMs: Long,
      ttlMs: Long,
      newCheckpoint: Long,
      pageRows: Long): Unit = {
    val fresh = StateStores.dedupNewestPerId(batch)
      .select(col("id"), clock(nowMs + ttlMs).as("ttl"), col("entityJson"), col("entityHash"))
    val gens = generations(entityType)
    val deltaRows = gens.drop(1).map(g => math.max(1L, g.rows)).sum
    if (gens.isEmpty || deltaRows + math.max(1L, pageRows) > CompactionShare * gens.head.rows) {
      // last-write-wins upsert: survivors of old state (not in batch) + batch.
      val survivors = view(gens, None)
        .where(col("ttl") >= clock(nowMs)) // F4 eviction
        .join(fresh.select(col("id").as("__bid")), col("id") === col("__bid"), "left_anti")
      compact(entityType, survivors.unionByName(fresh), newCheckpoint, nowMs)
    } else
      AtomicSwap.append(fs, new Path(currentDir(entityType), s"_delta-${gens.last.n + 1}")) { tmp =>
        writeGeneration(fresh, tmp, newCheckpoint, nowMs)
      }
  }

  /** The committed generations of a type, base first; empty when the type
    * has no state. Recovers an interrupted commit first.
    */
  private def generations(entityType: String): Seq[Generation] = {
    val dir = currentDir(entityType)
    AtomicSwap.recover(fs, dir)
    if (!fs.exists(dir)) Nil
    else {
      val deltas = fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
        .flatMap(p => DeltaDir.unapplySeq(p.getName).map(n => n.head.toInt -> p)).sortBy(_._1)
      ((0 -> dir) +: deltas.toSeq).map { case (n, d) =>
        val f = new Path(d, "_checkpoint")
        if (!fs.exists(f)) Generation(n, Model.DefaultCheckpoint, 0L, 0L, d)
        else {
          val in = fs.open(f)
          val fields = try new String(in.readAllBytes(), UTF_8).trim.split(' ') finally in.close()
          def field(i: Int) = fields.lift(i).fold(0L)(_.toLong)
          Generation(n, fields(0).toLong, field(1), field(2), d)
        }
      }
    }
  }

  /** The state `gens` hold (see the class doc), restricted to `ids`. */
  private def view(gens: Seq[Generation], ids: Option[DataFrame]): DataFrame = {
    def only(df: DataFrame) = ids.fold(df)(i => df.join(broadcast(i.select("id")), Seq("id"), "left_semi"))
    def all = spark.read.schema(Model.stateSchema).parquet(gens.map(_.dir.toString): _*)
    gens match {
      case Seq() => spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Model.stateSchema)
      case Seq(_) => only(all)
      case _ =>
        val gen = regexp_extract(col("_metadata.file_path"), "/_delta-([0-9]+)/[^/]*$", 1)
        only(all.withColumn("__gen", when(gen === "", lit(0)).otherwise(gen.cast("int"))))
          .withColumn("__rn", row_number().over(Window.partitionBy("id").orderBy(col("__gen").desc)))
          .where(col("__rn") === 1 && col("ttl") >= clock(gens.last.committedMs))
          .select(Model.stateSchema.fieldNames.map(col): _*)
    }
  }

  /** Replace the base with `next`, dropping every delta. */
  private def compact(entityType: String, next: DataFrame, newCheckpoint: Long, nowMs: Long): Unit =
    AtomicSwap.replace(fs, currentDir(entityType)) { tmp =>
      writeGeneration(next.select(Model.stateSchema.fieldNames.map(col): _*), tmp, newCheckpoint, nowMs)
    }

  /** Write `rows` and their `_checkpoint` into `dir`; the row count is
    * observed on the write itself.
    */
  private def writeGeneration(rows: DataFrame, dir: Path, newCheckpoint: Long, nowMs: Long): Unit = {
    val written = new Observation("graft-state-rows")
    rows.observe(written, count(lit(1)).as("rows")).write.mode(SaveMode.Overwrite).parquet(dir.toString)
    val out = fs.create(new Path(dir, "_checkpoint"), false)
    try out.write(s"$newCheckpoint ${written.get("rows")} $nowMs".getBytes(UTF_8)) finally out.close()
  }
}

object EntityStateStore {

  /** Deltas may hold up to this share of the base's rows; see the class
    * doc. At 2.5% a 100k-row state takes five 500-row deltas between
    * compactions, and the deltas on disk stay under 3% of the state's
    * bytes.
    */
  val CompactionShare = 0.025

  /** One committed generation (see the class doc); `n` 0 is the base. */
  private final case class Generation(n: Int, checkpoint: Long, rows: Long, committedMs: Long, dir: Path)

  private val DeltaDir = """_delta-(\d+)""".r

  /** `ms` as a column that generated code reads through an object
    * reference: a literal is compiled into the generated source, so a value
    * that changes every page compiles new classes every page.
    */
  private def clock(ms: Long): Column = udf(() => ms).apply()

  /** Next checkpoint from a fetched page's `max(updatedOnMs)`, replicating
    * reference semantics (cache.js:100-117 — SURVEY.md §2 row A1, §2.10 W4):
    *  - the max is over ALL fetched items (not just new/updated), so the
    *    caller observes it ahead of the missing-id filter;
    *  - no valid max -> keep the previous checkpoint (frozen; the caller
    *    logs the reference's warning);
    *  - stall-breaker: partialResults and checkpoint did not advance ->
    *    bump by 1 ms so the pagination loop terminates.
    */
  def nextCheckpoint(observedMax: Option[Long], prev: Long, partialResults: Boolean): Long = {
    val next = observedMax.fold(prev)(math.max(prev, _))
    if (partialResults && next == prev) prev + 1L else next
  }
}
