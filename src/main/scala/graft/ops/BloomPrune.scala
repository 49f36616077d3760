package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Explicit Bloom-filter semi-join pruning — the shuffle-volume lever for
  * the canonical 100 TB join shape: a huge fact side joined to a SELECTIVE
  * dimension subset. A plain equi-join shuffles every fact row; pruning
  * first builds a Bloom filter over the dimension keys (one distributed
  * aggregate, [[graft.functions.BloomBuildAgg]] — KB-to-MB bit array,
  * bitwise-OR merge), broadcasts the single-row artifact, and drops
  * non-candidate fact rows BEFORE the exchange, so the shuffle carries
  * `matches + fpp x non-matches` rows instead of everything.
  *
  * Spark's own runtime row-level filtering (`spark.sql.optimizer.runtime.
  * bloomFilter.enabled`) injects the same trick only when AQE's
  * size/selectivity heuristics fire; this operator makes it explicit and
  * composable — and the filter a PERSISTABLE artifact like every sketch
  * in [[Sketches]] (build once, prune many downstream jobs).
  *
  * Correctness is UNCONDITIONAL, which is what the oracle gate leans on:
  * a Bloom filter has false positives only, and every candidate passes
  * through the real equi-join afterwards — so the pruned plan is
  * result-identical to the plain join (the [[Skew.saltedJoin]] contract
  * style: the twin is the plain SQL join, and any pruning defect breaks
  * the hash match). Capacity overflow degrades fpp, never results.
  * Supported join types: inner / left_semi (types where dropping
  * non-matching probe rows early is semantics-preserving).
  */
object BloomPrune {

  /** Hash class a key type lands in ([[graft.functions.BloomHashClass]],
    * the canonical mapping mirroring [[graft.functions.BloomBuildAgg]]):
    * a long build key probed by a string key (legal to Spark, which
    * equi-joins across types via implicit casts) would hash in different
    * classes and produce false NEGATIVES — matching fact rows dropped
    * before the join, silently. The pruning contract (false positives
    * only, result ≡ plain join) therefore requires both keys in ONE
    * class, checked here at plan-build time.
    */
  private def hashClass(dt: org.apache.spark.sql.types.DataType): String =
    graft.functions.BloomHashClass.of(dt)

  /** `probe JOIN build ON probeKey = buildKey`, with the probe side
    * Bloom-pruned before the shuffle. `expectedItems` sizes the filter
    * for the BUILD side's distinct key count. Both keys must hash in the
    * same class (both integral, or both string-ish) — a cross-class pair
    * is rejected at build time rather than risking unsound pruning; cast
    * one side explicitly to choose the canonical type.
    */
  def prunedEquiJoin(probe: DataFrame, build: DataFrame,
                     probeKey: Column, buildKey: Column,
                     expectedItems: Long, fpp: Double = 0.01,
                     joinType: String = "inner"): DataFrame = {
    require(Set("inner", "left_semi", "leftsemi")(joinType.toLowerCase),
      s"bloom pruning is semantics-preserving for inner/left_semi only: $joinType")
    val buildDt = build.select(buildKey.as("__k")).schema.head.dataType
    val probeDt = probe.select(probeKey.as("__k")).schema.head.dataType
    require(hashClass(buildDt) == hashClass(probeDt),
      s"prunedEquiJoin: buildKey ($buildDt) and probeKey ($probeDt) hash in " +
        "different Bloom classes — a cross-class probe yields false negatives " +
        "(dropped matches); cast both keys to one canonical type first")
    // the filter is a BOUNDED artifact (optimalNumOfBits(expectedItems,
    // fpp) — KBs-to-MBs by construction), collected like the PQ codebooks
    // and embedded as a LITERAL: the probe expression decodes it ONCE per
    // instance instead of validating a broadcast column per row (measured
    // 138× wall on the 60M-row ×100 probe, SCALING r10)
    val bytes = build
      .agg(call_function("graft_bloom_agg", buildKey, lit(expectedItems),
        lit(fpp)).as("__bf"))
      .head().getAs[Array[Byte]](0)
    val pruned =
      if (bytes == null) probe.where(lit(false)) // empty build side
      else probe.where(call_function("graft_bloom_contains", lit(bytes), probeKey))
    pruned.join(build, probeKey === buildKey, joinType)
  }
}
