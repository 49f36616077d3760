package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Rank-based streaming admission — dynamic thresholding against a
  * FROZEN historical distribution: "keep arrivals in the top (1−q) of
  * quality scores as historically distributed", with the threshold
  * carried by a stored GK artifact ([[graft.ops.Sketches]] quantile
  * leg) instead of a hand-tuned constant that rots as the corpus
  * drifts. The admission is a STATELESS projection — the KB-sized
  * sketch embeds as a plan literal (`graft_qsketch_rank` probes it
  * inside whole-stage codegen), so there is no state store, no
  * watermark, and re-planning per micro-batch stays cheap (the
  * Contamination.MaxStreamingGrams concern does not arise: GK
  * summaries are O(1/ε) entries, kilobytes at ε 1e-3).
  *
  * Verdict parity: admission(v) ⇔ rank(v) ≥ q under the SAME sketch a
  * batch filter would probe, so stream ≡ batch row-for-row across any
  * arrival batching (StreamingRankAdmitSpec) — the X2fs/X4is admission
  * family's contract, here with zero per-group state at all.
  */
object StreamingRankAdmit {

  /** Rows whose score's estimated rank within the frozen distribution
    * is at least `q` (0 ≤ q < 1). `sketch` = a serialized GK summary
    * from the store ([[graft.ops.Sketches.qsGroupSketches]] /
    * `qsUnionSketch`).
    */
  def admitAbove(stream: DataFrame, scoreCol: Column, sketch: Array[Byte],
                 q: Double): DataFrame = {
    require(q >= 0 && q < 1, s"admitAbove expects q in [0, 1), got $q")
    require(sketch != null && sketch.nonEmpty, "admitAbove: empty sketch artifact")
    stream.where(call_function("graft_qsketch_rank",
      lit(sketch), scoreCol.cast("double")) >= lit(q))
  }
}
