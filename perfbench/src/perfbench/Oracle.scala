package perfbench

import scala.collection.mutable

/** Reference semantics of the incremental loop, replayed in memory over the
  * pages the API actually served (reference cache.js:69-85 for the change
  * test, cache.js:100-117 for the checkpoint rule A1):
  *
  *  - items without an id are dropped, but still count for the checkpoint;
  *  - within a page the newest version of an id wins;
  *  - a version is emitted iff its id is not in state or its content (all
  *    attributes but `updatedOnMs`) differs from the cached copy;
  *  - every fetched id's cached copy becomes its newest version;
  *  - the next checkpoint is the max `updatedOnMs` over all fetched items
  *    (the previous one when the page is empty or carries none), bumped by
  *    1 ms when the page is partial and the checkpoint did not advance.
  *
  * TTL eviction is left out: passes last seconds, the TTL is hours.
  */
final class Oracle[A](id: A => String, ts: A => Long, content: A => String,
                      initialCheckpoint: Long = 1L) {

  val state: mutable.HashMap[String, A] = mutable.HashMap.empty
  private var ckpt = initialCheckpoint

  def checkpoint: Long = ckpt

  /** Apply one served page and return the versions it must emit, by id.
    * Fails when the page was requested from another checkpoint than the
    * one the previous page left.
    */
  def page(fromMs: Long, items: Seq[A], partial: Boolean): Map[String, A] = {
    require(fromMs == ckpt, s"page requested from updatedFromMs=$fromMs, expected $ckpt")
    val newest = mutable.LinkedHashMap.empty[String, A]
    items.foreach { a =>
      val k = id(a)
      if (k != null && newest.get(k).forall(b => ts(a) > ts(b))) newest(k) = a
    }
    val emitted = newest.filter { case (k, a) => state.get(k).forall(s => content(s) != content(a)) }.toMap
    state ++= newest
    val next = if (items.isEmpty) ckpt else math.max(ckpt, items.map(ts).max)
    ckpt = if (partial && next == ckpt) ckpt + 1 else next
    emitted
  }
}
