package graft.pipeline

import graft.cdc.ChangeFilter
import graft.model.{EntityType, Model}
import graft.sink.HttpBatchSink
import graft.source.EntityApiSource
import graft.source.EntityApiSource.{Fetcher, Page}
import graft.state.{EntityStateStore, StateStores}
import graft.template.TemplateCompiler
import org.apache.spark.sql.{Column, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end incremental ETL orchestration — the Spark equivalent of the
  * reference's `main`/`handleEntityType` loop (reference app.js:13-60,
  * SURVEY.md §3.1).
  *
  * Per entity type, per page:
  *   source page -> drop-missing-id (F3) -> CDC filter vs state (F2) ->
  *   template projection (F5/T1) -> batched HTTP send (K1) ->
  *   state commit: upsert + TTL evict + checkpoint advance (K2/F4/A1) ->
  *   loop while partialResults (S3/W4).
  *
  * Send happens before commit — at-least-once, same as the reference
  * (app.js:55-58; SURVEY.md §2.10 W2).
  */
final class EntityEtlJob(
    spark: SparkSession,
    store: EntityStateStore,
    fetch: Fetcher,
    entitiesUrlTemplate: String,
    sender: HttpBatchSink.Sender,
    templates: Map[String, String],
    maxBatchSize: Int = 10000,
    ttlMs: Long = 8L * 3600 * 1000,
    now: () => Long = () => System.currentTimeMillis(),
    // {{env.X}} in ENTITY templates resolves against this map at template
    // compile time (E9; reference templates resolve against process env) —
    // driver-side, so the default sys.env is the env that actually set up
    // the run
    env: Map[String, String] = sys.env) {

  /** A2 counts for one page (SURVEY.md §2 row A2): `fetched` rows carry an
    * id, `dropped` rows do not (F3), `emitted` rows were new or changed and
    * went out in `batches` requests; `checkpoint` is the watermark committed
    * with the page.
    */
  final case class PageStats(fetched: Long, dropped: Long, emitted: Long, batches: Long, checkpoint: Long)

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The batch-wrapper template rides the same templates map as the entity
    * templates, keyed "targetBody" like the reference's TARGET_BODY_TEMPLATE
    * (templates.js:14, app.js:106) — a user who edits targetBody.hbs changes
    * the wire format here too. Absent -> the shipped `[doc,...]` shape.
    */
  private val targetBody: Option[String] = templates.get("targetBody")

  /** Run all requested types (empty = all discovered) serially, like the
    * reference (app.js:13-21); types with no template are skipped
    * (app.js:22-25).
    */
  def run(types: Seq[EntityType], requested: Seq[String] = Nil): Map[String, Seq[PageStats]] =
    EntityApiSource.selectTypes(types, requested)
      .filter(t => templates.contains(t.name))
      .map(t => t.name -> runType(t)).toMap

  /** The pagination loop for one type: [[EntityApiSource.walk]] stepped by [[processPage]]. */
  def runType(entityType: EntityType): Seq[PageStats] = {
    val stats = Seq.newBuilder[PageStats]
    EntityApiSource.walk(fetch, entitiesUrlTemplate, entityType, store.load(entityType.name)._2) {
      (page, checkpoint) =>
        val st = processPage(entityType, page, checkpoint)
        stats += st
        st.checkpoint
    }
    stats.result()
  }

  /** One page end-to-end: filter, transform, send, commit.
    *
    * Every per-page fact is computed once. The parsed page gets its
    * canonical content columns (`entityJson`, `entityHash`), loses its
    * id-less rows (F3) and keeps one version per id through one
    * last-write-wins pass ([[StateStores.dedupNewestPerId]]). That frame is
    * what the page caches: the state load's id broadcast, the CDC send and
    * the commit all read it, so the page is shuffled once and the version
    * posted for an id is the version committed for it. The cache keeps the
    * window's hash partitioning and ordering on `id`, so the commit's own
    * dedup and a compaction's anti-join add no exchange. Cache after that
    * shuffle, not before it: a cache ahead of the window makes every reader
    * shuffle the page again.
    *
    * The A2 counts and the checkpoint max are observed metrics
    * (df.observe) inside the cached plan, ahead of the missing-id filter,
    * because the checkpoint is a max over ALL fetched items (reference
    * cache.js:100); the job that fills the cache reports them. The CDC join
    * reads state through the page's ids ([[EntityStateStore.load]]), so it
    * never shuffles the whole state.
    */
  def processPage(entityType: EntityType, page: Page, prevCheckpoint: Long): PageStats = {
    val pageObs = new Observation(s"graft-page-${System.nanoTime()}")
    val observed = ChangeFilter.withContentColumns(EntityApiSource.pageToDf(spark, page, entityType))
      .observe(pageObs, count(lit(1)).as("rows"), count(col("id")).as("fetched"),
        max(col(Model.UpdatedOnMs)).as("maxUpdatedOnMs"))
    val newest = StateStores.dedupNewestPerId(ChangeFilter.dropMissingId(observed, "id")).cache()
    try {
      val (state, _) = store.load(entityType.name, Some(newest.select(col("id"))))

      // T1: compile this type's template once into a single Column
      val doc: Column = TemplateCompiler.compileTemplate(
        templates(entityType.name), TemplateCompiler.mapResolver(col("attrs"), env))
      val sendObs = new Observation(s"graft-send-${System.nanoTime()}")
      val batches = HttpBatchSink.send(
        ChangeFilter.newOrUpdated(newest, state)
          .observe(sendObs, count(lit(1)).as("emitted")).select(doc.as("doc")),
        maxBatchSize, sender, targetBody)
      val emitted = sendObs.get("emitted").asInstanceOf[Long]
      val counts = pageObs.get
      val rows = counts("rows").asInstanceOf[Long]
      val fetched = counts("fetched").asInstanceOf[Long]
      val dropped = rows - fetched
      val maxUpdated = Option(counts("maxUpdatedOnMs")).map(_.asInstanceOf[Long])
      // the reference's frozen-checkpoint warning (cache.js:109-112)
      if (rows > 0 && maxUpdated.isEmpty)
        log.warn(s"${entityType.name}: none of $rows fetched items has a valid " +
          s"${Model.UpdatedOnMs}; the checkpoint cannot advance from $prevCheckpoint")
      val nextCkpt = EntityStateStore.nextCheckpoint(maxUpdated, prevCheckpoint, page.partialResults)

      // commit AFTER send (W2). All fetched ids get a TTL refresh
      // (cache.js:79 runs before the change test), cached copy minus
      // updatedOnMs (cache.js:53).
      store.commit(entityType.name, newest, now(), ttlMs, nextCkpt, pageRows = fetched)

      log.info(s"${entityType.name}: fetched=$fetched dropped=$dropped " +
        s"emitted=$emitted batches=$batches checkpoint $prevCheckpoint -> $nextCkpt")
      PageStats(fetched, dropped, emitted, batches, nextCkpt)
    } finally newest.unpersist()
  }
}
