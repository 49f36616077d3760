package graft.streaming

import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming incremental near-dup ADMISSION — the ingest-fleet form of
  * `ops/Dedup.incrementalNearDupAdmit` (X2i): incoming documents arrive as
  * a stream and are screened against a FROZEN existing corpus through a
  * stream-static equi-join on the MinHash band key, each doc receiving a
  * per-arrival `corpus_dup` verdict. This is the `StreamingAnnServe` shape
  * applied to the daily-shard dedup workflow: the corpus-side signature
  * table is a STATIC distributed DataFrame (nothing corpus-sized is
  * collected, broadcast, or held in streaming state — persist/write it
  * once, stream forever), and a new document touches exactly `bands`
  * buckets regardless of corpus size.
  *
  * Scale shape: probe fan-out is `bands` rows/doc of ~8·numPerm bytes
  * (signatures, never text); the join key is the band-slice bucket, so
  * per-bucket candidate work is bucket occupancy, exactly like the batch
  * bipartite join. The only streaming STATE is one boolean per in-flight
  * doc id (exactly-once verdict emission, TTL-bounded) — the corpus
  * contributes none.
  *
  * Within-stream (batch_dup) screening is deliberately NOT repeated here:
  * chain [[StreamingNearDup]] (candidate pairs) or [[StreamingDedup]] /
  * [[StreamingBloomDedup]] (exact) upstream for that half — this operator
  * is the corpus-screening half that had no streaming twin.
  *
  * Signature math is the JVM twin shared with [[StreamingNearDup]]
  * ([[StreamingNearDup.signature]]), and the corpus side is built by the
  * BATCH signature pipeline — the spec asserts a doc's verdict is
  * identical to `incrementalNearDupAdmit`'s `corpus_dup` column.
  */
object StreamingNearDupAdmit {

  /** An incoming document. */
  final case class Doc(docId: Long, text: String)

  /** One probe row: a doc's membership claim in one band bucket. */
  final case class Probe(bucket: String, docId: Long, sig: Array[Long])

  /** The per-doc verdict: admitted = !corpusDup. */
  final case class Verdict(docId: Long, corpusDup: Boolean, admitted: Boolean)

  /** The frozen corpus side: (bucket, corpus_id, __sc) — one row per
    * (corpus doc, band), built by the BATCH signature pipeline so a doc's
    * signature is identical whichever side it sits on (the
    * [[graft.ops.Dedup.incrementalNearDupAdmit]] invariant). The bucket
    * key is the band index + the literal band slice (portable — no
    * engine-internal hash), shared with [[probeBucket]]. Persist or write
    * this once; it is ~bands·8·numPerm bytes per corpus doc.
    */
  def frozenCorpusBands(corpus: DataFrame, idCol: String,
                        text: org.apache.spark.sql.Column,
                        shingleLen: Int = 3, numPerm: Int = 64,
                        bands: Int = 16): DataFrame = {
    require(bands > 0 && numPerm % bands == 0,
      s"numPerm ($numPerm) must divide into bands ($bands)")
    val rpb = numPerm / bands
    val sigs = Dedup.minhashSignaturesExploded(
      Dedup.explodedShingles(corpus, idCol, text, shingleLen), idCol, numPerm)
    sigs.select(col(idCol).as("corpus_id"), col("sig").as("__sc"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => concat_ws(":", b.cast("string"),
            concat_ws(",", transform(slice(col("sig"), b * lit(rpb) + 1, lit(rpb)),
              x => x.cast("string")))))).as("bucket"))
      .select("bucket", "corpus_id", "__sc")
  }

  /** JVM twin of the bucket key in [[frozenCorpusBands]]. */
  private[graft] def probeBucket(sig: Array[Long], band: Int, rpb: Int): String =
    band.toString + ":" + sig.slice(band * rpb, band * rpb + rpb).mkString(",")

  /** Exactly-once verdict per doc id: all of a doc's candidate rows land in
    * one micro-batch (the stream-static join is per-batch), so the keyed
    * processor folds them to one boolean; state remembers emitted ids so a
    * re-sent doc does not re-emit (TTL bounds it for long-running feeds).
    */
  final class VerdictProcessor(ttlMs: Long)
      extends StatefulProcessor[Long, (Long, Boolean), Verdict] {
    @transient private var emitted: ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val ttl = if (ttlMs > 0) new TTLConfig(java.time.Duration.ofMillis(ttlMs)) else TTLConfig.NONE
      emitted = getHandle.getValueState[Boolean]("emitted", Encoders.scalaBoolean, ttl)
    }

    override def handleInputRows(docId: Long, rows: Iterator[(Long, Boolean)],
        timerValues: TimerValues): Iterator[Verdict] = {
      val dup = rows.exists(_._2)
      if (emitted.get()) Iterator.empty
      else {
        emitted.update(true)
        Iterator.single(Verdict(docId, dup, !dup))
      }
    }
  }

  /** The admission stream: per arriving doc, one (docId, corpus_dup,
    * admitted) row. `corpusBanded` is [[frozenCorpusBands]] output (or a
    * re-read of its persisted form).
    */
  def admissionStream(docs: Dataset[Doc], corpusBanded: DataFrame,
                      shingleLen: Int = 3, numPerm: Int = 64, bands: Int = 16,
                      threshold: Double = 0.5, stateTtlMs: Long = 0L): DataFrame = {
    require(bands > 0 && numPerm % bands == 0,
      s"numPerm ($numPerm) must divide into bands ($bands)")
    val spark = docs.sparkSession
    import spark.implicits._
    val rpb = numPerm / bands
    val probes = docs.flatMap { d =>
      val sig = StreamingNearDup.signature(d.text, numPerm, shingleLen)
      (0 until bands).map(b => Probe(probeBucket(sig, b, rpb), d.docId, sig))
    }
    // stream-static LEFT join: docs with no band collision anywhere still
    // need a verdict row (admitted); est = agree/numPerm is exact in double
    // (numPerm a power of two), the same compare as the batch verdict
    val hits = probes.join(corpusBanded, Seq("bucket"), "left_outer")
      .select(col("docId"),
        (col("__sc").isNotNull &&
          call_function("graft_sig_agree", col("sig"), col("__sc"))
            .cast("double") / numPerm >= threshold).as("hit"))
    hits.as[(Long, Boolean)]
      .groupByKey(_._1)
      .transformWithState(new VerdictProcessor(stateTtlMs), TimeMode.None(), OutputMode.Append())
      .toDF("docId", "corpus_dup", "admitted")
  }
}
