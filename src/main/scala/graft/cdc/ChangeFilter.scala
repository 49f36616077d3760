package graft.cdc

import graft.functions.Canonical
import graft.model.Model
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Change-data-capture filter: keep an entity iff its id is absent from the
  * state table OR its content (minus `updatedOnMs`) differs from the cached
  * copy (reference app.js:50, cache.js:69-85 — SURVEY.md §2 rows F2/F3,
  * §2.5 J1/J2).
  *
  * Spark-first formulation: the reference's hash-map probe becomes a keyed
  * left join against the state DataFrame with a null-or-hash-differs
  * predicate. The join key is the entity id, so at scale this is a standard
  * shuffle join on a high-cardinality key.
  */
object ChangeFilter {

  /** Normalize a raw batch: drop rows with a missing id (reference
    * cache.js:71-74, F3) — log-and-exclude becomes a null filter.
    */
  def dropMissingId(batch: DataFrame, idCol: String): DataFrame =
    batch.where(col(idCol).isNotNull)

  /** The canonical batch (id, updatedOnMs, attrs) plus its content columns,
    * computed once per row: `entityJson` is the cached copy without
    * `updatedOnMs` (reference cache.js:53) and `entityHash` its digest, the
    * change test's key (cache.js:84). Both are stored as-is by the state
    * commit.
    */
  def withContentColumns(batch: DataFrame): DataFrame =
    batch
      .withColumn("entityJson", Canonical.canonicalJsonExcept(col("attrs"), Model.IgnoredProps))
      .withColumn("entityHash", sha2(col("entityJson"), 256))

  /** New-or-updated rows of `batch` w.r.t. `state`.
    *
    * @param batch  columns: id, entityHash ([[withContentColumns]]), payload
    * @param state  Model.stateSchema (id, ttl, entityJson, entityHash)
    */
  def newOrUpdated(batch: DataFrame, state: DataFrame): DataFrame = {
    val st = state.select(col("id").as("__sid"), col("entityHash").as("__shash"))
    dropMissingId(batch, "id")
      .join(st, col("id") === col("__sid"), "left")
      // new (no cached row, cache.js:75-77) or changed (digest differs,
      // cache.js:83-85). Null-safe: a null cached hash never suppresses.
      .where(col("__sid").isNull || !(col("__shash") <=> col("entityHash")))
      .drop("__sid", "__shash")
  }
}
