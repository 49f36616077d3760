package graft.state

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MERGE-style multi-action state commit — the Delta `MERGE INTO` posture
  * generalizing K2's LWW upsert ([[EntityStateStore.commit]]): one plan
  * applies UPDATE + INSERT + DELETE in a single pass,
  *
  * {{{
  * MERGE INTO state USING batch ON state.key = batch.key
  * WHEN MATCHED AND batch.op = 'delete' THEN DELETE
  * WHEN MATCHED              THEN UPDATE SET *
  * WHEN NOT MATCHED AND batch.op <> 'delete' THEN INSERT *
  * }}}
  *
  * Spark-first shape: ONE full-outer equi-join on the key plus one
  * case-action projection — no per-action sub-plans, no second scan of
  * state (the reference's cache Map mutates in place, cache.js:44-67;
  * at 100 TB the state table is immutable parquet and the merge is the
  * one key-hash exchange the rewrite pays). Tombstones are BATCH ROWS
  * (`op = "delete"`), so a CDC feed carrying deletes applies in the same
  * commit as its upserts — ordering inside the page resolved upstream by
  * [[StateStores.dedupNewestPerId]] (the newest ACTION per key wins,
  * whether it is a version or a tombstone).
  *
  * Delete semantics are physical: a tombstoned key simply leaves the
  * result (the caller writes it as the new state).
  * An unmatched delete is a no-op, matching MERGE. Any `op` other than
  * "delete" upserts — the two-verb contract keeps the case-action
  * projection total.
  */
object Merge {

  /** `state` and `batch` must both carry `key` and `valueCols`; `batch`
    * additionally carries `opCol` with at most one row per key. Output:
    * the merged state, schema (key, valueCols*).
    */
  def merge(state: DataFrame, batch: DataFrame, key: String, opCol: String,
            valueCols: Seq[String]): DataFrame = {
    val s = state.select((key +: valueCols).map(c => col(c).as(s"__s_$c")): _*)
    val b = batch.select(((key +: valueCols).map(c => col(c).as(s"__b_$c"))) :+
      col(opCol).as("__b_op"): _*)
    s.join(b, col(s"__s_$key") === col(s"__b_$key"), "full_outer")
      // state-only rows (__b_op null) survive; delete tombstones drop
      // their match (and no-op when unmatched)
      .where(col("__b_op").isNull || col("__b_op") =!= "delete")
      .select(
        coalesce(col(s"__b_$key"), col(s"__s_$key")).as(key) +:
        valueCols.map { c =>
          when(col(s"__b_$key").isNotNull, col(s"__b_$c"))
            .otherwise(col(s"__s_$c")).as(c)
        }: _*)
  }
}
