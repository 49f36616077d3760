package graft.state

import graft.model.Model
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets.UTF_8

/** Persisted per-entity-type state: the Spark replacement for the reference's
  * per-type JSON cache file (reference cache.js:20-48 — SURVEY.md §2 rows
  * S4/K2/F4/A1/W5).
  *
  * Layout: `<root>/<type>/current/` holds a parquet state table with
  * Model.stateSchema and, as `current/_checkpoint`, the epoch-millis
  * watermark (Spark's reader skips `_`-prefixed files). Each commit writes
  * both into a fresh directory and swaps it in with [[AtomicSwap]], so
  * state and checkpoint become visible in one rename and a torn checkpoint
  * is never committed. This keeps the reference's page-granular commit
  * (reference app.js:57-58 commits after *each* page).
  */
final class EntityStateStore(spark: SparkSession, root: String) {

  // one per store: sessions here disable the FileSystem cache for file://
  private val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  private def currentDir(t: String): Path = new Path(new Path(root, t), "current")

  /** Load state; missing path -> empty DF with schema + default checkpoint
    * (reference cache.js:20-35: empty-on-missing bootstrap). A state with
    * no `_checkpoint` also starts from the default: a replay against the
    * kept state.
    */
  def load(entityType: String): (DataFrame, Long) = {
    val dir = currentDir(entityType)
    AtomicSwap.recover(fs, dir)
    val ckptFile = new Path(dir, "_checkpoint")
    val ckpt =
      if (!fs.exists(ckptFile)) Model.DefaultCheckpoint
      else { val in = fs.open(ckptFile); try new String(in.readAllBytes(), UTF_8).trim.toLong finally in.close() }
    val df =
      if (fs.exists(dir)) spark.read.schema(Model.stateSchema).parquet(dir.toString)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Model.stateSchema)
    (df, ckpt)
  }

  /** Commit one page (reference updateCache cache.js:44-58 + saveCache
    * cache.js:37-42, called per page app.js:57-58):
    *
    *  1. upsert every *fetched* entity (changed or not) with a fresh TTL —
    *     the TTL-refresh-on-read side effect (cache.js:56,79) means all ids
    *     seen in the batch get `now + ttl`, and the cached copy/hash of
    *     changed rows is replaced;
    *  2. evict entries whose ttl passed (cache.js:60-67, F4);
    *  3. advance the checkpoint;
    *  4. swap in the parquet dir with its `_checkpoint`.
    *
    * `state` is this type's loaded state ([[load]]); the page loop passes
    * the frame its CDC join read, so a page scans state once. The write
    * materializes into a tmp dir before the swap, so reading the live dir
    * it came from is safe.
    *
    * `batch` columns: id, entityJson, entityHash (updatedOnMs already
    * stripped from json/hash by the caller — cache.js:53, see
    * [[graft.cdc.ChangeFilter.withContentColumns]]; pass it as an extra
    * `updatedOnMs` column so intra-page dedup keeps the NEWEST version,
    * matching the reference's last-item-in-page-order overwrite). Other
    * columns are ignored; an already deduplicated batch passes unchanged.
    */
  def commit(
      entityType: String,
      batch: DataFrame,
      nowMs: Long,
      ttlMs: Long,
      newCheckpoint: Long,
      state: DataFrame): Unit = {
    val fresh = StateStores.dedupNewestPerId(batch)
      .select(col("id"), lit(nowMs + ttlMs).as("ttl"), col("entityJson"), col("entityHash"))

    // last-write-wins upsert: survivors of old state (not in batch) + batch.
    val survivors = state
      .where(col("ttl") >= lit(nowMs)) // F4 eviction
      .join(fresh.select(col("id").as("__bid")), col("id") === col("__bid"), "left_anti")
    val next = survivors.unionByName(fresh).select(Model.stateSchema.fieldNames.map(col): _*)

    replaceState(entityType, next, newCheckpoint)
  }

  /** K5: MERGE-style multi-action commit ([[Merge.merge]]) — one commit
    * applying upserts AND tombstone deletes in a single plan. `batch`
    * carries the K2 columns plus `op`: "delete" rows REMOVE their id from
    * state (physical delete — the swap makes it durable), anything else
    * upserts with a fresh TTL exactly like [[commit]]. Page-internal
    * ordering is the same LWW dedup: the newest ACTION per id wins,
    * whether version or tombstone (a delete followed by a newer upsert in
    * one page upserts; the reverse deletes). TTL eviction and checkpoint
    * semantics are unchanged.
    */
  def commitMerge(
      entityType: String,
      batch: DataFrame,
      nowMs: Long,
      ttlMs: Long,
      newCheckpoint: Long): Unit = {
    val actions = StateStores.dedupNewestPerId(batch)
      .select(col("id"), lit(nowMs + ttlMs).as("ttl"), col("entityJson"),
        col("entityHash"), col("op"))
    val live = load(entityType)._1.where(col("ttl") >= lit(nowMs)) // F4 eviction
    val next = Merge.merge(live, actions, "id", "op",
        Seq("ttl", "entityJson", "entityHash"))
      .select(Model.stateSchema.fieldNames.map(col): _*)
    replaceState(entityType, next, newCheckpoint)
  }

  private def replaceState(entityType: String, next: DataFrame, newCheckpoint: Long): Unit =
    AtomicSwap.replace(fs, currentDir(entityType)) { tmp =>
      next.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      val out = fs.create(new Path(tmp, "_checkpoint"), false)
      try out.write(newCheckpoint.toString.getBytes(UTF_8)) finally out.close()
    }
}

object EntityStateStore {

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
