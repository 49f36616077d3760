package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming exact dedup — X1 (`ops/Dedup.exact`) over an unbounded
  * document stream: a document is emitted iff its canonical content hash
  * has never been seen; duplicates arriving in any later micro-batch are
  * suppressed by keyed state.
  *
  * Scale shape: the group key IS the content hash, so state shards across
  * executors like any keyed aggregation and holds exactly one small entry
  * (keeper id) per distinct content — at 100 TB of corpus that is bounded
  * by distinct-content cardinality, not row count, and an optional TTL
  * bounds it further for rolling-window dedup (same TTL machinery as the
  * entity cache, [[StreamingCdc.MergeProcessor]]).
  *
  * Within one micro-batch the smallest docId wins (matches X1's keep-min
  * semantics); across batches the first arrival wins — the streaming
  * analog of the reference's first-write-wins cache admission
  * (cache.js:69-85), where re-fetches of known content are dropped.
  */
object StreamingDedup {

  /** One incoming document. `text` is hashed after the same normalization
    * as the batch dedup family (trim, lower, whitespace collapse).
    */
  final case class Doc(docId: Long, text: String)

  /** An admitted (first-seen) document: the keeper id and its content key. */
  final case class Kept(docId: Long, keyMd5: String)

  /** JVM-side twin of `Dedup.normalizeText` (Column form) — keep in sync.
    * Mirrors `regexp_replace(btrim(lower(c)), "\s+", " ")` operation for
    * operation: `btrim` strips SPACES only (not all whitespace — Java's
    * `String.trim` strips every char <= U+0020 and would produce a
    * different key for "foo\n" than the batch operator does), then the
    * whitespace collapse runs on the space-trimmed string.
    */
  private[graft] def normalize(text: String): String = {
    if (text == null) return "" // null-safe: the batch Column path keys null
                                // text without killing the query
    // Locale.ROOT: Spark's lower() is locale-independent (ASCII fast path
    // in UTF8String); a Turkish-locale JVM default would map 'I' to
    // dotless U+0131 and fork the key
    val lowered = text.toLowerCase(java.util.Locale.ROOT)
    var from = 0
    var to = lowered.length
    while (from < to && lowered.charAt(from) == ' ') from += 1
    while (to > from && lowered.charAt(to - 1) == ' ') to -= 1
    lowered.substring(from, to).replaceAll("\\s+", " ")
  }

  final class FirstSeenProcessor(ttlMs: Long) extends StatefulProcessor[String, Doc, Kept] {
    @transient private var keeper: ValueState[String] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val ttl = if (ttlMs > 0) new TTLConfig(java.time.Duration.ofMillis(ttlMs)) else TTLConfig.NONE
      keeper = getHandle.getValueState[String]("keeper", Encoders.STRING, ttl)
    }

    override def handleInputRows(key: String, rows: Iterator[Doc],
        timerValues: TimerValues): Iterator[Kept] = {
      if (keeper.get() != null) {
        // duplicate content -> suppressed. The state rewrite exists ONLY to
        // refresh the TTL clock; with TTL off it would be a pure RocksDB
        // write per duplicate — the hottest path of a dedup stream
        if (ttlMs > 0) keeper.update(keeper.get())
        Iterator.empty
      } else {
        var minId = Long.MaxValue
        rows.foreach(d => if (d.docId < minId) minId = d.docId)
        keeper.update(minId.toString)
        Iterator.single(Kept(minId, key))
      }
    }
  }

  /** First-seen-by-content filter over a document stream. `ttlMs > 0`
    * bounds state to a rolling window (processing-time clock, refreshed on
    * every duplicate touch); `ttlMs = 0` dedups over the full stream
    * history.
    */
  def firstSeenStream(docs: Dataset[Doc], ttlMs: Long = 0): Dataset[Kept] = {
    import docs.sparkSession.implicits._
    val timeMode = if (ttlMs > 0) TimeMode.ProcessingTime() else TimeMode.None()
    docs.groupByKey(d => StreamingCdc.md5Hex(normalize(d.text)))
      .transformWithState(new FirstSeenProcessor(ttlMs), timeMode, OutputMode.Append())
  }
}
