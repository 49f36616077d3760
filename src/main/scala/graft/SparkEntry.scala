package graft

import graft.model.EntityType
import graft.pipeline.EntityEtlJob
import graft.source.EntityApiSource
import graft.state.EntityStateStore
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship: the full incremental ETL pipeline (SURVEY.md §3.1) run
    * end-to-end on sf0.001 `events` posing as an API page — source parse ->
    * missing-id drop (F3) -> CDC filter (F2) -> template projection (T1) ->
    * batched sink (K1) -> state commit with TTL + checkpoint (K2/F4/A1).
    * Returns the committed state table; driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    // the driver may pass a session it built itself: keep nanos-encoded
    // fixtures readable (inert for micros encodings) and pin the session
    // zone so epoch-ms extraction is host-independent
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val sfDir = "/root/testdata/sf0.001"
    val events = spark.read.parquet(s"$sfDir/events.parquet")

    // pose the events table as one API page: flat JSON entities with an
    // epoch-millis updatedOnMs (the reference envelope, README.md:206-254)
    import org.apache.spark.sql.functions._
    val items = events
      .select(to_json(struct(
        col("event_id").cast("string").as("event_id"),
        col("event_type"), col("value").cast("string").as("value"), col("props"),
        graft.functions.EventTime.bind(events).ms.as("updatedOnMs"))).as("j"))
      .limit(500).collect().map(_.getString(0)).toSeq
    val page = EntityApiSource.Page(items, partialResults = false)

    val stateRoot = java.nio.file.Files.createTempDirectory("graft-entry-state").toString
    val store = new EntityStateStore(spark, stateRoot)
    val job = new EntityEtlJob(
      spark, store,
      fetch = _ => throw new UnsupportedOperationException("entry() feeds pages directly"),
      entitiesUrlTemplate = "stub://{{type}}?updatedFromMs={{updatedFromMs}}",
      sender = _ => (), // sink stub: accept every batch
      templates = Map("events" ->
        """{"id": "{{entity.event_id}}", "type": "{{#with entity.event_type}}{{.}}{{else}}unknown{{/with}}", "value": "{{entity.value}}"}"""),
      maxBatchSize = 100)
    job.processPage(EntityType("events", "event_id"), page, prevCheckpoint = 1L)
    store.load("events")._1
  }

  /** One entry per implemented operator from SURVEY.md §2 (+ §2.12). Each
    * entry first installs any graft function the session lacks: the driver
    * may pass a session it built itself, without `GraftExtensions`.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Queries.all.map { case (name, query) =>
      name -> { (spark: SparkSession, dir: String) =>
        graft.functions.GraftFunctions.register(spark)
        query(spark, dir)
      }
    }

  /** DuckDB oracle twins; queries absent here get the driver's rows-only
    * check (Spark-hash-dependent or approximate operators).
    */
  def oracleSql: Map[String, String] = graft.queries.Oracles.all
}
