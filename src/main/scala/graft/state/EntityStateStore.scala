package graft.state

import graft.model.Model
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

/** Persisted per-entity-type state: the Spark replacement for the reference's
  * per-type JSON cache file (reference cache.js:20-48 — SURVEY.md §2 rows
  * S4/K2/F4/A1/W5).
  *
  * Layout: `<root>/<type>/current/` holds a parquet state table with
  * Model.stateSchema; `<root>/<type>/checkpoint` holds the epoch-millis
  * watermark. Commits write to a temp dir then swap via atomic-ish rename
  * (no transactional table format in the offline env — SURVEY.md §7.5
  * risk 4), preserving the reference's page-granular commit ordering
  * (reference app.js:57-58 commits after *each* page).
  */
final class EntityStateStore(spark: SparkSession, root: String) {

  private def typeDir(t: String): Path = Paths.get(root, t)
  private def currentDir(t: String): Path = typeDir(t).resolve("current")
  private def ckptFile(t: String): Path = typeDir(t).resolve("checkpoint")

  /** Load state; missing path -> empty DF with schema + default checkpoint
    * (reference cache.js:20-35: empty-on-missing bootstrap).
    */
  def load(entityType: String): (DataFrame, Long) = {
    val dir = currentDir(entityType)
    val df =
      if (Files.exists(dir)) spark.read.schema(Model.stateSchema).parquet(dir.toString)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Model.stateSchema)
    val ckpt =
      if (Files.exists(ckptFile(entityType))) Files.readString(ckptFile(entityType)).trim.toLong
      else Model.DefaultCheckpoint
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
    *  4. swap the parquet dir + checkpoint file.
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
      // the page loop already loaded state for the CDC join; passing it in
      // halves the per-page scans of the dominant dataset (the write below
      // materializes into a tmp dir BEFORE the swap, so reading the live
      // dir it came from is safe)
      preloadedState: Option[DataFrame] = None): Unit = {
    val state = preloadedState.getOrElse(load(entityType)._1)
    val fresh = StateStores.dedupNewestPerId(batch)
      .select(col("id"), lit(nowMs + ttlMs).as("ttl"), col("entityJson"), col("entityHash"))

    // last-write-wins upsert: survivors of old state (not in batch) + batch.
    val survivors = state
      .where(col("ttl") >= lit(nowMs)) // F4 eviction
      .join(fresh.select(col("id").as("__bid")), col("id") === col("__bid"), "left_anti")
    val next = survivors.unionByName(fresh).select(Model.stateSchema.fieldNames.map(col): _*)

    swapIn(entityType, next, nowMs, newCheckpoint)
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
      newCheckpoint: Long,
      preloadedState: Option[DataFrame] = None): Unit = {
    val state = preloadedState.getOrElse(load(entityType)._1)
    val actions = StateStores.dedupNewestPerId(batch)
      .select(col("id"), lit(nowMs + ttlMs).as("ttl"), col("entityJson"),
        col("entityHash"), col("op"))
    val live = state.where(col("ttl") >= lit(nowMs)) // F4 eviction
    val next = Merge.merge(live, actions, "id", "op",
        Seq("ttl", "entityJson", "entityHash"))
      .select(Model.stateSchema.fieldNames.map(col): _*)
    swapIn(entityType, next, nowMs, newCheckpoint)
  }

  private def swapIn(entityType: String, next: DataFrame, nowMs: Long,
                     newCheckpoint: Long): Unit = {
    val tmp = typeDir(entityType).resolve(s"tmp-$nowMs-${System.nanoTime()}")
    Files.createDirectories(typeDir(entityType))
    next.write.mode(SaveMode.Overwrite).parquet(tmp.toString)

    val cur = currentDir(entityType)
    val old = typeDir(entityType).resolve(s"old-${System.nanoTime()}")
    if (Files.exists(cur)) Files.move(cur, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(tmp, cur, StandardCopyOption.ATOMIC_MOVE)
    if (Files.exists(old)) deleteRecursively(old)
    Files.writeString(ckptFile(entityType), newCheckpoint.toString)
  }

  private def deleteRecursively(p: Path): Unit =
    Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
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
