package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming per-group leaderboard — the capability that motivates the
  * native bounded top-k aggregate ([[graft.functions.TopKAgg]]): window
  * functions (the batch `row_number()` idiom) are UNSUPPORTED in
  * streaming queries, but a TypedImperativeAggregate rides Spark's
  * streaming aggregation like any other agg — state is the k-capped
  * heap per group FOREVER (the sketch-store bounded-state class), and
  * heap-insert is order/batching-insensitive for the SURVIVOR SET, so
  * the maintained leaderboard after any stream prefix equals the batch
  * top-k over the same rows (StreamingTopKSpec gates exactly that,
  * wave by wave).
  */
object StreamingTopK {

  /** (group, top) with `top` = array of (score, id) structs, score
    * desc / id asc — the batch [[graft.functions.TopKAgg]] plan on a
    * streaming source.
    */
  def leaderboard(stream: DataFrame, groupCol: Column, scoreCol: Column,
                  idCol: Column, k: Int): DataFrame = {
    stream.groupBy(groupCol.as("group"))
      .agg(call_function("graft_topk",
        struct(scoreCol.cast("double"), idCol.cast("long")), lit(k)).as("top"))
  }
}
