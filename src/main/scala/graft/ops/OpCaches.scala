package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import java.util.concurrent.ConcurrentLinkedQueue

/** Registry for intermediate tables persisted *inside* operators (minhash /
  * simhash signature tables, shingle-hash sets). The operators return lazy
  * DataFrames, so they cannot unpersist the helper themselves — the blocks
  * must outlive the operator call until the caller's consuming action runs.
  * Without a release hook, repeated operator invocations in a long-lived
  * session accumulate block-manager entries until eviction pressure hits
  * unrelated cached state (round-3 ADVICE).
  *
  * Contract: after the action that consumes an operator's result, call
  * [[OpCaches.release]] to drop every helper persisted since the last
  * release. Bench and Verify do this after every query; a long-lived
  * pipeline should do it per processed batch.
  */
object OpCaches {

  private val live = new ConcurrentLinkedQueue[() => Unit]()

  /** Persist `df` (memory-and-disk) and register it for the next
    * [[release]]. Returns the persisted frame.
    */
  private[graft] def pin(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    live.add(() => p.unpersist(blocking = false))
    p
  }

  /** Register `df`, a frame over eager `localCheckpoint`s, for [[release]]. */
  private[graft] def pinCheckpoint(df: DataFrame): DataFrame = { live.add(() => dropCheckpoint(df)); df }

  /** Drop the blocks of the `localCheckpoint`s `dfs` read: the only copy of
    * their rows, so `dfs` cannot be read again.
    */
  private[graft] def dropCheckpoint(dfs: DataFrame*): Unit =
    dfs.foreach(_.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    })

  /** Unpersist every operator-internal table pinned since the last release.
    * Non-blocking: the block drop happens asynchronously.
    */
  def release(): Unit = {
    var drop = live.poll()
    while (drop != null) { drop(); drop = live.poll() }
  }

  /** Number of currently pinned helper tables (test observability). */
  def pinnedCount: Int = live.size()
}
