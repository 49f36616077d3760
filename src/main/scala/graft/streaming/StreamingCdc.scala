package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types.{MapType, StringType}

/** Structured Streaming formulation of the incremental CDC pipeline
  * (SURVEY.md §1.4, §2.10): the reference's cron'd batch loop maps onto a
  * micro-batch stream where
  *   - the per-type checkpoint (W1) becomes the source offset tracked by
  *     Spark's streaming checkpoint;
  *   - the TTL'd entity cache (W5) becomes keyed state with a native
  *     per-value TTL (reference cache.js:60-67,95-97), refreshed on every
  *     touch like the reference's refresh-on-read (cache.js:79);
  *   - the CDC filter (F2) becomes a [[StatefulProcessor]] comparing the
  *     canonical content hash against state (reference cache.js:69-85);
  *   - at-least-once delivery (W2) falls out of foreachBatch: the sink runs
  *     inside the micro-batch before the offset commit (app.js:55-58);
  *   - the 15-min cron (W6) is `Trigger.AvailableNow()` per scheduled run
  *     against a persistent checkpoint dir.
  *
  * Implementation note: this uses `transformWithState` (Spark 4's stateful
  * API, requires the RocksDB state store provider) rather than
  * `flatMapGroupsWithState` — the TWS runtime owns TTL natively, and the
  * legacy exec node cannot be constructed on the 4.1.x planner thread.
  * State is one digest per live entity id, sharded across executors by the
  * group key — 100 TB of throughput shards into ordinary keyed state.
  */
object StreamingCdc {

  /** One incoming entity version on the stream. `payload` must be the
    * canonical (key-sorted, updatedOnMs-stripped) JSON so equal content
    * implies equal strings (SURVEY.md §7.5 risk 1).
    */
  final case class EntityEvent(id: String, updatedOnMs: Long, payload: String)

  /** An emitted change. changeType: "new" | "updated". */
  final case class Change(id: String, updatedOnMs: Long, payload: String, changeType: String)

  /** Session configuration required by the stateful operators here:
    * RocksDB state store (multiple column families for transformWithState).
    * `shellFreeLocalFs` additionally avoids Hadoop's chmod/readlink
    * subprocesses on local filesystems — required in sandboxed/container
    * environments where forking from the executor JVM stalls; harmless
    * elsewhere (see graft.hadoop.ShellFreeLocalFileSystem).
    */
  val requiredConfs: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  val shellFreeLocalFs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> "graft.hadoop.ShellFreeLocalFileSystem",
    "spark.hadoop.fs.file.impl.disable.cache" -> "true",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")

  private[streaming] def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Streaming new-or-updated filter keyed by entity id (F2/F4/W5): each
    * event is an upsert through [[mergeStream]], emitted iff new or changed.
    * Every touch refreshes the TTL (reference cache.js:56,79); expired state
    * reads as absent, so a re-appearing entity is "new" again.
    */
  def newOrUpdatedStream(events: Dataset[EntityEvent], ttlMs: Long): Dataset[Change] =
    mergeStream(events.map(e => Action(e.id, e.updatedOnMs, "upsert", e.payload))(Encoders.product[Action]), ttlMs)

  /** One incoming MERGE action on the stream: `op = "delete"` is a
    * tombstone, anything else upserts (the [[graft.state.Merge]]
    * two-verb contract carried onto the stream).
    */
  final case class Action(id: String, updatedOnMs: Long, op: String, payload: String)

  /** K5 streaming — MERGE with tombstones through the CDC state (the
    * stream form of [[graft.state.Merge.merge]]): an upsert is "new" or
    * "updated" iff its content hash differs from state. State carries
    * (updatedOnMs, hash): a late version OLDER than the applied one is
    * suppressed, not written over the target. A suppressed row rewrites
    * state only for a TTL refresh (else it is pure RocksDB churn on the
    * hottest path). A `delete` action CLEARS the key's state
    * and suppresses any content emission — downstream sees one tombstone
    * Change (`changeType = "deleted"`, empty payload: targets need the
    * marker to propagate the delete) and nothing else, a re-appearing id
    * is emitted as "new" again (state truly cleared, not blanked), an
    * unmatched delete is a silent no-op (the MERGE contract), and a
    * tombstone not STRICTLY newer than the applied version is suppressed
    * like any stale late arrival. Ties are upsert-wins EVERYWHERE:
    * intra-batch actions fold in (ms, delete-first, payload) order — the
    * delete sorts BEFORE an equal-timestamp upsert so the upsert
    * supersedes its tombstone — and a cross-batch equal-timestamp
    * tombstone is suppressed by the strict comparison, so the same
    * (upsert, delete) tie folds to the same final state however an
    * at-least-once replay re-pages the feed (micro-batch boundaries are
    * not semantics). Feeds carrying true same-ms conflicts should still
    * disambiguate upstream.
    */
  final class MergeProcessor(ttlMs: Long) extends StatefulProcessor[String, Action, Change] {
    @transient private var verState: ValueState[(Long, String)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val ttl = if (ttlMs > 0) new TTLConfig(java.time.Duration.ofMillis(ttlMs)) else TTLConfig.NONE
      verState = getHandle.getValueState[(Long, String)]("entityVerHash",
        Encoders.tuple(Encoders.scalaLong, Encoders.STRING), ttl)
    }

    override def handleInputRows(id: String, rows: Iterator[Action],
        timerValues: TimerValues): Iterator[Change] = {
      val out = Seq.newBuilder[Change]
      rows.toSeq.sortBy(a =>
          (a.updatedOnMs, a.op != "delete", Option(a.payload).getOrElse("")))
        .foreach { a =>
          val isDelete = a.op == "delete"
          val prev = Option(verState.get())
          (prev, isDelete) match {
            case (None, true) => // unmatched delete: MERGE no-op, no emission
            case (Some((prevMs, _)), true) =>
              // STRICTLY newer only: an equal-timestamp tombstone loses to
              // the applied version (upsert-wins ties), matching the
              // intra-batch fold where the delete sorts first and the
              // same-ms upsert supersedes it — so a (upsert, delete) tie
              // folds to the same final state however the feed is paged
              // (at-least-once replays re-page; the tie rule must not
              // depend on micro-batch boundaries)
              if (a.updatedOnMs > prevMs) {
                verState.clear()
                out += Change(id, a.updatedOnMs, "", "deleted")
              } else if (ttlMs > 0) verState.update(verState.get()) // stale tombstone: suppress
            case (p, false) =>
              val h = md5Hex(Option(a.payload).getOrElse(""))
              p match {
                case None =>
                  out += Change(id, a.updatedOnMs, a.payload, "new")
                  verState.update((a.updatedOnMs, h))
                case Some((prevMs, _)) if a.updatedOnMs < prevMs =>
                  if (ttlMs > 0) verState.update(verState.get())
                case Some((_, prevHash)) if prevHash != h =>
                  out += Change(id, a.updatedOnMs, a.payload, "updated")
                  verState.update((a.updatedOnMs, h))
                case Some((prevMs, prevHash)) =>
                  if (ttlMs > 0 || a.updatedOnMs > prevMs)
                    verState.update((math.max(prevMs, a.updatedOnMs), prevHash))
              }
          }
        }
      out.result().iterator
    }
  }

  /** Streaming MERGE keyed by entity id: upsert/tombstone change log out,
    * one live version per key in state.
    */
  def mergeStream(actions: Dataset[Action], ttlMs: Long): Dataset[Change] = {
    import actions.sparkSession.implicits._
    val timeMode = if (ttlMs > 0) TimeMode.ProcessingTime() else TimeMode.None()
    actions.groupByKey(_.id)
      .transformWithState(new MergeProcessor(ttlMs), timeMode, OutputMode.Append())
  }

  /** Watermarked tumbling-window aggregation over the event stream — the
    * streaming analog of the hourly rollup (late rows older than the
    * watermark are dropped, mirroring W3's checkpoint-boundary semantics).
    */
  def tumblingCounts(events: DataFrame, tsCol: String, window: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** Watermarked SLIDING (hopping) window aggregation — the streaming
    * analog of the batch `w_sliding_hourly` query: Spark's
    * `window(len, slide)` generator fans each event into its len/slide
    * covering windows (state = one row per open (window, type), closed by
    * the watermark), epoch-aligned exactly like the batch form.
    */
  def slidingCounts(events: DataFrame, tsCol: String, window: String, slide: String,
                    watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window, slide),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** Watermarked SESSION-window aggregation — the streaming analog of the
    * batch sessionization query (`w_sessionize`): per user, events closer
    * than `gap` merge into one session; a session closes when the
    * watermark passes its end + gap. Uses Spark's native
    * `session_window` (state merges windows as events arrive), so this is
    * a built-in stateful aggregation, not custom state.
    */
  def sessionCounts(events: DataFrame, tsCol: String, userCol: String,
                    gap: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(userCol))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col(userCol), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"), col("sum_value"))

  /** Exactly-once-ish dedup inside the watermark horizon — the streaming
    * form of the inclusive-checkpoint overlap suppression (W3).
    */
  def dedupWithinWatermark(events: DataFrame, idCols: Seq[String], tsCol: String, watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(idCols)

  /** Streaming load path (W2): each micro-batch of changes renders through
    * the per-type template and loads via the batched HTTP sink INSIDE
    * foreachBatch — the send completes before Spark commits the batch's
    * offset, so a crash between send and commit replays the batch
    * (at-least-once, same ordering as the reference app.js:55-58).
    *
    * The template sees the change's `entity.id`, `entity.updatedOnMs`,
    * `entity.changeType` and `entity.payload`; any other path resolves like
    * the batch loop's ([[graft.template.TemplateCompiler.mapResolver]]),
    * against the payload's top-level keys, so a shipped template's
    * `{{entity.aws_instance_id}}` renders the entity's value.
    *
    * Returns a started query; caller owns the lifecycle.
    */
  def loadStream(
      changes: Dataset[Change],
      templateText: String,
      sender: graft.sink.HttpBatchSink.Sender,
      maxBatchSize: Int,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val attrs = graft.template.TemplateCompiler.mapResolver(
      from_json(col("payload"), MapType(StringType, StringType)))
    val docCol = graft.template.TemplateCompiler.compileTemplate(
      templateText,
      {
        case "entity.id" => col("id").cast("string")
        case "entity.updatedOnMs" => col("updatedOnMs").cast("string")
        case "entity.changeType" => col("changeType")
        case "entity.payload" => col("payload")
        case p => attrs(p)
      })
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Change], _: Long) =>
        graft.sink.HttpBatchSink.send(
          batch.toDF().select(docCol.as("doc")), maxBatchSize, sender)
        () // commit happens after this returns (send-before-commit, W2)
      }
      .start()
  }
}
