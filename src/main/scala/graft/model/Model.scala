package graft.model

import org.apache.spark.sql.types._

/** Core data model of the engine (SURVEY.md §1).
  *
  * An *entity* is a flat, schemaless JSON object (string keys -> scalar
  * values) with a per-type unique-id field and an epoch-millis versioning
  * column `updatedOnMs` (reference: README.md:206-256, cache.js:16).
  * We model an entity batch as a DataFrame with fixed system columns plus a
  * `map<string,string>` payload — schema-on-read fits the dynamic key set
  * (aws_tag_* style keys, reference README.md:246-249).
  */
final case class EntityType(name: String, uniqueIdField: String)

object Model {

  /** Name of the event-time / versioning column (reference cache.js:16). */
  val UpdatedOnMs = "updatedOnMs"

  /** Properties excluded from change comparison and from the cached copy
    * (reference cache.js:17 IGNORED_PROPS, applied at cache.js:53,84).
    */
  val IgnoredProps: Seq[String] = Seq(UpdatedOnMs)

  /** Canonical batch schema: system columns + dynamic payload. */
  val entityBatchSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = true),
    StructField(UpdatedOnMs, LongType, nullable = true),
    StructField("attrs", MapType(StringType, StringType), nullable = true)
  ))

  /** Persisted state-table schema (SURVEY.md §1.4): replaces the reference's
    * per-type JSON cache file (reference cache.js:37-42). `entityHash` is the
    * canonical content digest standing in for lodash isEqual
    * (reference cache.js:84); `entityJson` keeps the full cached copy with
    * `updatedOnMs` stripped (reference cache.js:53).
    */
  val stateSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("ttl", LongType, nullable = false),
    StructField("entityJson", StringType, nullable = true),
    StructField("entityHash", StringType, nullable = true)
  ))

  /** First-run checkpoint: epoch 1 ms => full-history fetch
    * (reference cache.js:18, app.js:77).
    */
  val DefaultCheckpoint: Long = 1L
}
