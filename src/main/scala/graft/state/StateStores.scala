package graft.state

import graft.model.Model
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shared state-store helpers. */
private[graft] object StateStores {

  /** A page can repeat an id (overlapping fetches); keep one row per id —
    * the NEWEST version wins (last-write-wins), matching the reference's
    * page-order Map overwrite (reference cache.js:56: a later item for the
    * same id replaces the earlier one). Ordering: `updatedOnMs` descending
    * when the batch carries it, with `entityHash` as a deterministic final
    * tiebreak; batches without a version column fall back to the hash order.
    */
  def dedupNewestPerId(batch: DataFrame): DataFrame = {
    val order =
      if (batch.columns.contains(Model.UpdatedOnMs))
        Seq(col(Model.UpdatedOnMs).desc_nulls_last, col("entityHash"))
      else Seq(col("entityHash"))
    batch
      .withColumn("__rn", row_number().over(Window.partitionBy("id").orderBy(order: _*)))
      .where(col("__rn") === 1).drop("__rn")
  }
}
