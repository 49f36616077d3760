package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable distinct-count sketches — the INCREMENTAL complement to
  * [[DataQuality.profileApprox]]'s one-shot HLL estimate: per-partition
  * (per-day, per-source) sketches are tiny PERSISTED artifacts
  * (2^lgK registers each, KBs), and tomorrow's corpus-wide distinct count
  * is a union over stored sketches plus ONE new partition's scan — the
  * only way a 100 TB table answers "distinct users to date" daily without
  * rescanning history (the same incremental discipline as
  * `a2_incremental_rollup`, one level up the aggregation lattice: counts
  * and sums re-aggregate with +, distincts need a mergeable sketch).
  *
  * Built on Spark's DataSketches HLL functions (`hll_sketch_agg` /
  * `hll_union_agg` / `hll_sketch_estimate`), so the sketch column is a
  * standard binary parquet column any Spark reader can union. Register
  * merge is a per-register max — ORDER-INSENSITIVE, so estimates are
  * deterministic per dataset whatever the merge tree looks like (the same
  * property the profileApprox gate stands on), and unioning per-group
  * sketches of a partition of the data gives REGISTER-IDENTICAL state to
  * one sketch over the whole (asserted by SketchesSpec and the registered
  * gate's consistency boolean).
  */
object Sketches {

  /** Per-group HLL sketches: (group, sketch, n_rows) — the artifact a
    * daily job appends to the sketch store. lgK 12 = 4 KiB registers,
    * ~1.6% relative standard error.
    */
  def hllGroupSketches(df: DataFrame, groupCol: Column, keyCol: Column,
                       lgK: Int = 12): DataFrame =
    df.groupBy(groupCol.as("group"))
      .agg(hll_sketch_agg(keyCol, lit(lgK)).as("sketch"),
        count(lit(1)).as("n_rows"))

  /** Distinct estimate from STORED sketches — the incremental read path:
    * one row (n_groups, n_rows, distinct_approx), no touch of the
    * original data.
    */
  def hllUnionEstimate(sketches: DataFrame): DataFrame =
    sketches.agg(count(lit(1)).as("n_groups"),
      sum(col("n_rows")).as("n_rows"),
      hll_sketch_estimate(hll_union_agg(col("sketch"))).as("distinct_approx"))

  /** Pairwise distinct-overlap estimates from STORED sketches — the
    * cohort-analysis read path (audience overlap, cross-source user
    * overlap, contamination triage): for every unordered group pair,
    * |A∩B| by inclusion–exclusion over the HLL estimates (est(A) +
    * est(B) − est(A∪B), the pair union via the SCALAR `hll_union` so no
    * re-scan of any data), with the error contract inherited from the
    * union's: the IE error is bounded relative to |A∪B|, NOT |A∩B| — a
    * tiny intersection of two huge sets is not resolvable from HLL
    * registers, which is why callers gate on a union-relative tolerance.
    * Output: (group_a, group_b, est_a, est_b, est_union, est_intersect).
    * The group count is assumed store-sized (pairs are O(G²) — G is
    * sources/days/cohorts, not rows).
    */
  def hllPairOverlaps(sketches: DataFrame): DataFrame = {
    val a = sketches.select(col("group").as("group_a"),
      col("sketch").as("__sa"))
    val b = sketches.select(col("group").as("group_b"),
      col("sketch").as("__sb"))
    a.join(b, col("group_a") < col("group_b"))
      .select(col("group_a"), col("group_b"),
        hll_sketch_estimate(col("__sa")).as("est_a"),
        hll_sketch_estimate(col("__sb")).as("est_b"),
        hll_sketch_estimate(hll_union(col("__sa"), col("__sb"))).as("est_union"))
      .withColumn("est_intersect",
        col("est_a") + col("est_b") - col("est_union"))
  }

  /** Per-group Count-Min sketches: (group, sketch, n_rows) — the
    * FREQUENCY complement of [[hllGroupSketches]] (HLL answers "how many
    * distinct", CMS answers "how often is THIS key"): the daily artifact a
    * heavy-hitter store appends. NULL keys are excluded (the SQL producer
    * skips them; [[Frequent.heavyHitters]]'s convention). All sketches of
    * a store must share (eps, confidence, seed) to merge.
    *
    * Default geometry: eps 1e-4 → width 20000 columns, confidence 0.999 →
    * depth 10 rows; 1.6 MB per sketch CONSTANT in input volume — the
    * whole point vs a per-key count table whose size is the key space.
    */
  def cmsGroupSketches(df: DataFrame, groupCol: Column, keyCol: Column,
                       eps: Double = 1e-4, confidence: Double = 0.999,
                       seed: Int = 42): DataFrame =
    df.groupBy(groupCol.as("group"))
      .agg(count_min_sketch(keyCol.cast("string"), lit(eps), lit(confidence),
        lit(seed)).as("sketch"),
        count(keyCol).as("n_rows"))

  /** Per-group Count-Min sketches from an EXACT COUNT TABLE
    * `(group, __k string, __n long)` — the BATCH fast path to the same
    * artifacts as [[cmsGroupSketches]] (byte-identical: weighted adds hit
    * the same cells as per-occurrence adds, and cell-wise addition is
    * grouping-insensitive — [[graft.functions.CmsBuildAgg]]). Building
    * straight from occurrence rows makes every partial-aggregation buffer
    * a 1.6 MB sketch table, so a P-partition scan allocates, serializes
    * and merges P×groups sketches; counting first is a cheap
    * map-side-combined long aggregate, and the sketch build then runs over
    * the count table, whose partition count AQE sizes to VOCABULARY bytes,
    * not corpus task count (guide §2.3). Callers that already maintain the
    * count table (heavy-hitter reports) pass it directly; null keys carry
    * `__n` 0 so all-null groups still yield the empty sketch the raw form
    * yields. NOT for streams — [[cmsGroupSketches]]'s single-aggregation
    * shape is what bounds streaming state to one sketch per group.
    */
  def cmsGroupSketchesFromCounts(counts: DataFrame,
                                 eps: Double = 1e-4, confidence: Double = 0.999,
                                 seed: Int = 42): DataFrame = {
    // repartition by group FIRST: the groupBy's required distribution is
    // then already satisfied, so the aggregate plans one partial per
    // group — #groups sketch buffers total, however many partitions the
    // count table arrives in (a cached count table keeps its full shuffle
    // partitioning: canChangeCachedPlanOutputPartitioning is off, so
    // without this every partition × group pair would still buffer a
    // sketch). One build task per group is the deliberate scale contract:
    // O(group vocabulary) weighted adds in one task, in exchange for
    // never allocating/merging per-partition sketch tables.
    counts.repartition(col("group"))
      .groupBy(col("group"))
      .agg(call_function("graft_cms_build", col("__k"), col("__n"),
        lit(eps), lit(confidence), lit(seed)).as("sketch"),
        sum(col("__n")).as("n_rows"))
  }

  /** One merged sketch from STORED sketches ([[graft.functions.CmsMergeAgg]])
    * — cell-wise addition, so the union is table-identical to one sketch
    * over the whole feed: (n_groups, n_rows, sketch).
    */
  def cmsUnionSketch(sketches: DataFrame): DataFrame = {
    sketches.agg(count(lit(1)).as("n_groups"),
      sum(col("n_rows")).as("n_rows"),
      call_function("graft_cms_merge", col("sketch")).as("sketch"))
  }

  /** Count upper-bound column for `keyCol` read from `sketchCol`
    * ([[graft.functions.CmsEstimate]]): always >= the true count, over by
    * more than eps*N with probability < 1−confidence.
    */
  def cmsEstimate(sketchCol: Column, keyCol: Column): Column =
    call_function("graft_cms_estimate", sketchCol, keyCol.cast("string"))

  /** Per-group quantile sketches: (group, sketch, n_rows) — the QUANTILE
    * leg of the store trio ([[graft.functions.QuantileSketchAgg]], a
    * persisted Greenwald–Khanna summary; state ≤ O(1/relativeError)
    * samples per group). Unlike HLL/CMS the merge is not
    * grouping-invariant — the union honors the RANK bound (at the summed
    * error), not bit-equality with a one-shot sketch; gate accordingly.
    */
  def qsGroupSketches(df: DataFrame, groupCol: Column, valueCol: Column,
                      relativeError: Double = 1e-4): DataFrame = {
    df.groupBy(groupCol.as("group"))
      .agg(call_function("graft_qsketch_agg", valueCol.cast("double"),
        lit(relativeError)).as("sketch"),
        count(valueCol).as("n_rows"))
  }

  /** One merged quantile sketch from STORED sketches
    * ([[graft.functions.QuantileMergeAgg]]): (n_groups, n_rows, sketch).
    */
  def qsUnionSketch(sketches: DataFrame): DataFrame = {
    sketches.agg(count(lit(1)).as("n_groups"),
      sum(col("n_rows")).as("n_rows"),
      call_function("graft_qsketch_merge", col("sketch")).as("sketch"))
  }

  /** Rank-p estimate read from `sketchCol`
    * ([[graft.functions.QuantileSketchQuery]]).
    */
  def qsQuantile(sketchCol: Column, p: Double): Column =
    call_function("graft_qsketch_query", sketchCol, lit(p))

  /** Percentile-rank feature ([[graft.functions.QuantileSketchRank]]):
    * `valueCol`'s estimated rank fraction within the distribution the
    * sketch summarizes — "where does this row sit in its group?" as a
    * PROJECTION against broadcast artifacts (the deployed path: G
    * sketches broadcast, one codegen'd probe per row — no per-group
    * sort, no window, no second shuffle). Within ε of the true rank
    * per the GK bound; 2ε after a store union.
    */
  def qsRank(sketchCol: Column, valueCol: Column): Column =
    call_function("graft_qsketch_rank", sketchCol, valueCol.cast("double"))

  /** Join-cardinality estimate `Σ_k f_A(k)·f_B(k) = |A ⋈ B|` from two
    * per-table CMS sketches alone ([[graft.functions.CmsInnerProduct]])
    * — the planner-side read path: decide join strategy/order from
    * stored artifacts without touching either table. One row:
    * (n_a, n_b, join_card_est). Estimate never undercounts; overshoots
    * by more than eps·n_a·n_b with probability < 1−confidence. Both
    * sketches must share (eps, confidence, seed).
    */
  def cmsJoinCardinality(a: DataFrame, keyA: Column, b: DataFrame, keyB: Column,
                         eps: Double = 1e-4, confidence: Double = 0.999,
                         seed: Int = 42): DataFrame = {
    // NOT count-first (the [[cmsGroupSketchesFromCounts]] form): join keys
    // are near-unique per row (orderkeys, user ids), so a count table
    // barely compresses and the extra key shuffle costs more than the
    // per-partition sketch partials it would save — measured ×100: 10.4 s
    // direct vs 17.8 s counted. Pre-aggregation pays only when keys
    // repeat (the heavy-hitter word regime), which is why the two CMS
    // producers deliberately differ.
    val sa = a.agg(count_min_sketch(keyA.cast("string"), lit(eps),
        lit(confidence), lit(seed)).as("__ska"),
      count(keyA).as("n_a"))
    val sb = b.agg(count_min_sketch(keyB.cast("string"), lit(eps),
        lit(confidence), lit(seed)).as("__skb"),
      count(keyB).as("n_b"))
    sa.crossJoin(sb)
      .select(col("n_a"), col("n_b"),
        call_function("graft_cms_inner", col("__ska"), col("__skb"))
          .as("join_card_est"))
  }
}
