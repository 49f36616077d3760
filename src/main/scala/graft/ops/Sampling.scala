package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}

/** Dataset-curation sampling operators for training-data pipelines
  * (SURVEY.md §2.12 extension surface): deterministic train/val/test
  * splits, per-stratum sampling, and token-budget quotas. The reference
  * pipeline selects *which entities* flow downstream (type selection,
  * `/root/reference/app.js:20-27`); at corpus scale the analogous decision
  * is *which documents* enter a training mix, and it must be reproducible
  * run-over-run — so every operator here derives its randomness from
  * md5(id), never from an RNG: re-running on the same corpus yields the
  * same split/sample/quota, and any md5-capable engine can replay the
  * selection (the DuckDB oracle twins do, bit-for-bit).
  *
  * Scale posture: [[assignSplit]] and [[sampleByHash]] are pure
  * projections/filters — zero shuffles at any scale. [[stratifiedSample]]
  * and [[tokenQuota]] use one window over the stratum/group key; strata
  * cardinality is what bounds the sort (languages, sources — thousands,
  * not billions), and rows within a stratum spread across partitions by
  * the window shuffle.
  */
object Sampling {

  /** Deterministic uniform in [0, 1): the first 8 hex chars of
    * md5(id-as-string) over 2^32. Exact integer-to-double division —
    * identical IEEE value in any engine (DuckDB twin:
    * `('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0`).
    */
  def hashUnit(id: Column): Column =
    Dedup.md5Hash32(id.cast("string"), 1) / lit(4294967296.0)

  /** The canonical 90/5/5 split spec. */
  val DefaultSplits: Seq[(String, Double)] =
    Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)

  /** Cumulative upper cut of each split interval, in the exact doubles the
    * comparison uses — exposed so oracle twins interpolate THESE values
    * (0.9 + 0.05 is 0.9500000000000001 in IEEE; a hand-written 0.95
    * literal would disagree on boundary hashes).
    */
  def cumulativeCuts(splits: Seq[(String, Double)]): Seq[Double] =
    splits.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail

  /** Split assignment: each row lands in the named split whose cumulative
    * fraction interval contains hashUnit(id). Fractions must sum to 1.
    * Pure projection — no shuffle, no state; a row's split is a function
    * of its id alone, so splits are stable under corpus growth (new docs
    * never move old docs across splits — the property that keeps eval
    * sets uncontaminated across dataset versions).
    */
  def assignSplit(df: DataFrame, idCol: String,
                  splits: Seq[(String, Double)] = DefaultSplits): DataFrame = {
    require(splits.nonEmpty && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1: $splits")
    val u = hashUnit(col(idCol))
    val cuts = cumulativeCuts(splits)
    // fold from the last split backward: first interval containing u wins
    val assigned = splits.init.zip(cuts.init).foldRight(lit(splits.last._1)) {
      case (((name, _), hi), acc) => when(u < hi, lit(name)).otherwise(acc)
    }
    df.withColumn("split", assigned)
  }

  /** Bernoulli-by-hash sample: keep rows with hashUnit(id) < fraction.
    * Map-only (the filter pushes into the scan's data filters); proportions
    * are exact in expectation only — the zero-shuffle path for "give me
    * ~1% of 100 TB".
    */
  def sampleByHash(df: DataFrame, idCol: String, fraction: Double): DataFrame =
    df.where(hashUnit(col(idCol)) < fraction)

  /** Exact stratified sample: within each stratum, rank rows by
    * (hashUnit(id), id) and keep the first ceil(fraction * stratum_size)
    * (ceil of the IEEE double product — fractions whose product lands just
    * above an integer, e.g. 0.07 * 100 = 7.000000000000001, round up to
    * the next row; the oracle computes the identical double, so parity
    * holds) — per-stratum proportions are exact, selection is deterministic, and
    * the per-stratum ordering means a larger fraction's sample is a
    * superset of a smaller one's (nested samples, the property curation
    * sweeps rely on). One window shuffle on the stratum key.
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCols: Seq[String],
                       fraction: Double): DataFrame = {
    require(fraction > 0 && fraction <= 1, s"fraction in (0,1]: $fraction")
    val w = Window.partitionBy(strataCols.map(col): _*)
    val ordered = w.orderBy(hashUnit(col(idCol)), col(idCol))
    df.withColumn("__rk", row_number().over(ordered))
      .withColumn("__n", count(lit(1)).over(w))
      .where(col("__rk") <= ceil(col("__n") * fraction))
      .drop("__rk", "__n")
  }

  /** Training-mix reweighting: deterministically sample each group
    * (source, language, domain …) toward a TARGET mixture — the "80% web /
    * 15% code / 5% books" step of training-mix construction (the static
    * form of DoReMi-style domain weighting). The target corpus size is
    * `targetFraction` of the input; group g's quota is `weights(g)` of
    * that, so its per-row acceptance fraction is
    * `min(1, weights(g) * floor(targetFraction * N) / n_g)` — groups over
    * their quota are thinned by md5 selection, groups at or under it pass
    * whole (a hash sample cannot invent rows; reaching an exact mixture
    * against a short group means thinning the OTHERS, i.e. a smaller
    * targetFraction). Groups absent from `weights` get weight 0 and are
    * dropped.
    *
    * Selection is [[hashUnit]]-deterministic per id: re-runs reproduce the
    * mix, and corpus growth re-derives fractions but never flips a kept row
    * within an unchanged group. Cost: one tiny group-count aggregate
    * broadcast back over the corpus — the corpus itself is filtered in a
    * single map-only pass (zero corpus-scale shuffles).
    *
    * Output: kept rows as (groupCol, idCol, accept_frac rounded 9 dp).
    */
  def mixtureSample(df: DataFrame, idCol: String, groupCol: String,
                    weights: Map[String, Double], targetFraction: Double): DataFrame = {
    require(targetFraction > 0 && targetFraction <= 1,
      s"targetFraction in (0,1]: $targetFraction")
    require(weights.nonEmpty && math.abs(weights.values.sum - 1.0) < 1e-9,
      s"mixture weights must sum to 1: $weights")
    // the quota table derives from `df` itself: the group key is renamed so
    // the corpus-side join resolves unambiguously against the self-lineage
    val counts = df.groupBy(col(groupCol).as("__g")).agg(count(lit(1)).as("__n"))
    // weight lookup as a literal CASE chain (sorted for plan determinism);
    // the oracle twin writes the identical CASE
    val wexpr = weights.toSeq.sortBy(_._1).foldRight(lit(0.0): Column) {
      case ((g, w), acc) => when(col("__g") === g, lit(w)).otherwise(acc)
    }
    // f computed in the exact literal shape the DuckDB twin uses:
    // least(1.0, (w * floor(tf * N)) / n) — every step IEEE-identical.
    // N comes from an unpartitioned window over the COUNTS table — its
    // cardinality is the number of groups (languages/sources), so the
    // single-partition window is bytes, never corpus-scale. (Named __tot,
    // not __N: analysis is case-insensitive, so __N would collide with __n.)
    val quoted = counts
      .withColumn("__tot", sum(col("__n")).over(Window.partitionBy()))
      .withColumn("__f",
        least(lit(1.0), wexpr * floor(lit(targetFraction) * col("__tot")) / col("__n")))
      .select(col("__g"), col("__f"))
    df.join(broadcast(quoted), col(groupCol) === col("__g"))
      .where(hashUnit(col(idCol)) < col("__f"))
      .select(col(groupCol), col(idCol), round(col("__f"), 9).as("accept_frac"))
  }

  /** Temperature-scaled mixture sampling — multilingual rebalancing where
    * the mixture weights come from the corpus itself instead of a
    * user-supplied map (XLM-R, Conneau et al. arXiv:1911.02116 §3.1;
    * UniMax, Chung et al. arXiv:2304.09151, motivates capping): group g's
    * share is q_g = n_g^(1/T) / Σ_m n_m^(1/T). T=1 reproduces the corpus
    * distribution, T→∞ the uniform mix; the registered T=2 regime is the
    * common sqrt flattening. Admission then follows [[mixtureSample]]:
    * f_g = min(1, q_g · floor(targetFraction·N) / n_g), md5-deterministic
    * per id — over-quota groups are hash-thinned, short groups pass whole.
    *
    * Portability: the only transcendental is the power itself, computed as
    * IEEE `sqrt` when 1/T is exactly 0.5 (correctly rounded BY SPEC in
    * both engines, hence bit-identical — `pow` carries no such guarantee,
    * which is why only integer-root temperatures are registered) and
    * rounded to 6 dp at the model boundary; the share denominator is an
    * exact DECIMAL(38,6) sum of those rounded values, and every later step
    * (double division, multiply, floor, compare) is IEEE-exact, so the
    * DuckDB twin replays the draw bit-for-bit.
    *
    * Cost: identical to [[mixtureSample]] — one tiny group-count
    * aggregate, single-partition window over the GROUP table (languages —
    * bytes, never corpus-scale), quota table broadcast back, map-only
    * corpus pass with zero corpus-scale shuffles.
    *
    * Output: kept rows as (groupCol, idCol, sample_prob = q_g rounded 6,
    * accept_frac rounded 9).
    */
  def temperatureMixtureSample(df: DataFrame, idCol: String, groupCol: String,
                               temperature: Double, targetFraction: Double): DataFrame = {
    require(temperature >= 1.0, s"temperature >= 1: $temperature")
    require(targetFraction > 0 && targetFraction <= 1,
      s"targetFraction in (0,1]: $targetFraction")
    val alpha = 1.0 / temperature
    val counts = df.groupBy(col(groupCol).as("__g")).agg(count(lit(1)).as("__n"))
    val powed: Column =
      if (alpha == 0.5) sqrt(col("__n").cast("double"))
      else pow(col("__n").cast("double"), lit(alpha))
    val w = Window.partitionBy()
    val quoted = counts
      .withColumn("__s", round(powed, 6))
      .withColumn("__den", sum(col("__s").cast(DecimalType(38, 6))).over(w).cast("double"))
      .withColumn("__tot", sum(col("__n")).over(w))
      .withColumn("__q", round(col("__s") / col("__den"), 6))
      .withColumn("__f",
        least(lit(1.0), col("__q") * floor(lit(targetFraction) * col("__tot")) / col("__n")))
      .select(col("__g"), col("__q"), col("__f"))
    df.join(broadcast(quoted), col(groupCol) === col("__g"))
      .where(hashUnit(col(idCol)) < col("__f"))
      .select(col(groupCol), col(idCol), col("__q").as("sample_prob"),
        round(col("__f"), 9).as("accept_frac"))
  }

  /** Token-budget quota: per group (source, language, domain …), admit
    * documents in deterministic md5 priority order while the group's
    * cumulative token count stays within `budget` — the "cap each source
    * at N tokens" step of training-mix construction. The token count is
    * staged in its own projection (lambda-staging rule, see
    * [[TextAnalysis]]), then one running-sum window per group.
    *
    * A document that would cross the budget is dropped, but scanning
    * continues — later (shorter) documents may still fit; `strict = true`
    * instead stops at the first overflow (prefix semantics, the
    * reproducible-mix variant where admitting a doc can never be undone
    * by a later corpus edit upstream of it).
    *
    * Output: group cols + (idCol, n_tokens, cum_tokens) of admitted docs.
    */
  def tokenQuota(df: DataFrame, idCol: String, text: Column, groupCols: Seq[String],
                 budget: Long, strict: Boolean = false): DataFrame = {
    val staged = df.select(groupCols.map(col) :+ col(idCol) :+
      TextAnalysis.tokenCount(text).cast("long").as("n_tokens"): _*)
    if (strict) {
      // prefix form: admit while EVERY doc so far fits — i.e. the running
      // max of cum_tokens (== cum_tokens itself, it's monotone) <= budget
      val w = Window.partitionBy(groupCols.map(col): _*)
        .orderBy(hashUnit(col(idCol)), col(idCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      staged.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .where(col("cum_tokens") <= budget)
    } else {
      // skip-and-continue: a doc is admitted iff the cumulative total of
      // admitted docs before it plus itself fits. Equivalent to the
      // greedy scan; the greedy admitted-set is NOT a window expression
      // (depends on prior admissions), so it is computed per-group with a
      // bounded aggregation straight off `staged` — the strict path's
      // running-sum window would be pure discarded work here (the fold
      // re-derives order and totals itself).
      greedyAdmit(staged, idCol, groupCols, budget)
    }
  }

  /** Greedy budget admission over pre-sorted per-group rows: fold the
    * group's (priority-ordered) docs, admitting each iff the admitted
    * total stays <= budget. Uses collect_list + a higher-order fold per
    * group — the per-group row count is bounded above by what a budget can
    * admit plus skipped docs; for corpus-scale groups prefer
    * `strict = true` (pure window, no per-group array).
    */
  private def greedyAdmit(staged: DataFrame, idCol: String, groupCols: Seq[String],
                          budget: Long): DataFrame = {
    // id type flows from the INPUT: a hardcoded long would throw
    // DATATYPE_MISMATCH at plan time for string/UUID ids (hashUnit already
    // supports any id that casts to string)
    val idSql = staged.schema(idCol).dataType.sql
    val rowStruct = struct(Sampling.hashUnit(col(idCol)).as("__u"), col(idCol).as("__id"),
      col("n_tokens").as("__nt"))
    val grouped = staged.groupBy(groupCols.map(col): _*)
      .agg(array_sort(collect_list(rowStruct)).as("__docs"))
    // fold: acc = array of admitted (id, nt, cum) structs + running total
    val admitted = aggregate(
      col("__docs"),
      struct(lit(0L).as("__tot"),
        array().cast(s"array<struct<__id:$idSql,__nt:bigint,__cum:bigint>>").as("__keep")),
      (acc, d) => {
        val nt = d.getField("__nt")
        val fits = acc.getField("__tot") + nt <= budget
        struct(
          when(fits, acc.getField("__tot") + nt).otherwise(acc.getField("__tot")).as("__tot"),
          when(fits, array_append(acc.getField("__keep"),
              struct(d.getField("__id").as("__id"), nt.as("__nt"),
                (acc.getField("__tot") + nt).as("__cum"))))
            .otherwise(acc.getField("__keep")).as("__keep"))
      },
      acc => acc.getField("__keep"))
    grouped.select(groupCols.map(col) :+ explode(admitted).as("__d"): _*)
      .select(groupCols.map(col) :+ col("__d.__id").as(idCol) :+
        col("__d.__nt").as("n_tokens") :+ col("__d.__cum").as("cum_tokens"): _*)
  }

  /** Curriculum ordering: assign each document a difficulty bucket by score
    * quantile and a global training-order key that interleaves the buckets
    * round-robin — rank r of every bucket is consumed before rank r+1 of
    * any bucket, so a training run sweeps easy-to-hard strata evenly
    * instead of front-loading one difficulty (curriculum-learning data
    * ordering, Bengio et al. ICML'09, as a deterministic sort key).
    *
    * Quantile bucketing WITHOUT a corpus-scale sort: scores arrive
    * 6dp-rounded (they are — every score emitted by [[TextAnalysis]] is),
    * so the distinct-value spine is bounded (≤ 10^6+1 values for a [0,1]
    * score) regardless of corpus size. One count aggregate builds the
    * spine; cumulative windows run over the SPINE (bounded), never the
    * corpus; the spine broadcasts back — the same dense-spine discipline as
    * [[graft.ops.Dsir]]'s bucket table. `ntile` over the raw corpus would
    * be an unpartitioned corpus-wide window (single task at 100 TB); this
    * is the scale-safe equivalent, with value-ties kept in one bucket
    * (deterministic, engine-portable — ntile's tie-splitting depends on
    * physical row order).
    *
    * Within-bucket ranks complete the key: rank = docs-in-bucket with a
    * strictly lower score (from the spine) + row_number among same-score
    * docs by id — the only corpus-side window partitions by SCORE VALUE
    * (fine-grained; skew is bounded by the biggest single-score tie class,
    * not bucket size). `curriculum_key = (rank-1)·B + bucket` is then a
    * pure projection: unique, dense per bucket, and round-robin by
    * construction — no global row-numbering pass.
    *
    * Output: (idCol, score, bucket, within_rank, curriculum_key), ordered
    * by curriculum_key (ties impossible: rank is unique within bucket).
    */
  def curriculumOrder(df: DataFrame, idCol: String, score: Column,
                      buckets: Int = 6): DataFrame = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    val staged = df.select(col(idCol), round(score, 6).as("score"))
    val spine = staged.groupBy(col("score")).agg(count(lit(1)).as("__cnt"))
    val wLt = Window.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketed = spine
      .withColumn("__cumlt", coalesce(sum(col("__cnt")).over(wLt), lit(0L)))
      .withColumn("__tot", sum(col("__cnt")).over(Window.partitionBy()))
      // exact integer floor-division: (cumlt*B) div tot never touches doubles
      .withColumn("bucket",
        least(expr(s"(__cumlt * $buckets) div __tot"), lit(buckets - 1L)))
    val wInBucket = Window.partitionBy(col("bucket")).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val spineRanked = bucketed
      .withColumn("__cumltb", coalesce(sum(col("__cnt")).over(wInBucket), lit(0L)))
      .select(col("score"), col("bucket"), col("__cumltb"))
    val wTie = Window.partitionBy(col("score")).orderBy(col(idCol))
    staged.join(broadcast(spineRanked), "score")
      .withColumn("within_rank", col("__cumltb") + row_number().over(wTie))
      .select(col(idCol), col("score"), col("bucket"),
        col("within_rank"),
        ((col("within_rank") - 1) * buckets + col("bucket")).as("curriculum_key"))
      .orderBy("curriculum_key")
  }

  /** X7cs: cluster-balanced diversity sampling — cap every embedding-space
    * cluster at `quota` members, so the sample covers the corpus's MODES
    * instead of its mass (a uniform sample of a web corpus is mostly its
    * head clusters; per-cluster caps are how public curation pipelines
    * keep the tail represented — the selection-side complement of
    * SemDeDup's per-cluster dedup).
    *
    * Clusters are [[Similarity.lshCells]]' closed-form sign-LSH cells
    * (2^bitsPerCell of them) — no fitted state, so the whole selection is
    * hash-checkable; at corpus scale raise `bitsPerCell` exactly like the
    * RHP banding knobs (cell count should track the cluster structure, not
    * the corpus size). Within a cell, members are admitted in md5-priority
    * order (deterministic pseudo-random, the [[sampleByHash]] unit), id
    * tiebreak.
    *
    * Shape: cell assignment is a pure map-side projection; the only
    * shuffle is ONE hash exchange on the cell key for the per-cell rank
    * window; output is at most 2^bitsPerCell × quota rows.
    */
  def clusterBalancedSample(corpus: DataFrame, dim: Int, bitsPerCell: Int,
                            quota: Int, idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val cells = Similarity.lshCells(corpus, dim, bitsPerCell, idCol, vecCol)
    val w = Window.partitionBy(col("cell")).orderBy(hashUnit(col(idCol)), col(idCol))
    cells.withColumn("cell_rank", row_number().over(w).cast("long"))
      .where(col("cell_rank") <= quota)
      .select(col(idCol), col("cell"), col("cell_rank"))
  }

  /** X7sh: deterministic global shuffle + fixed-count shard export — the
    * last step of every training-data pipeline: the curated corpus must
    * reach the trainer in a reproducible pseudo-random order, cut into a
    * fixed number of size-balanced shard files. Randomness is
    * seed-keyed md5 (`md5(seed:id)`), never an RNG, so the permutation is
    * a pure function of (seed, corpus): re-runs ship byte-identical
    * shards, a changed seed reshuffles everything, and any md5-capable
    * engine can replay the assignment (the DuckDB twin does,
    * position-for-position).
    *
    * Assignment: shard = first 32 hash bits mod `nShards` (map-only — at
    * 100 TB the shard column costs nothing); pos = 1-based rank of the
    * full hash (id tiebreak) WITHIN the shard. Shape: the only shuffle is
    * ONE hash exchange on the shard key for the rank window — there is
    * deliberately no global sort: a total order across shards is never
    * needed by a trainer that reads shards independently, and a
    * range-partitioned global sort would pay sampling + skewed ranges for
    * nothing. Within-shard rank parallelism equals `nShards`, so pick
    * nShards ≈ the cluster's write parallelism (hundreds to thousands at
    * 100 TB — also what keeps each shard file HDFS-block-sized). The
    * physical write is `.repartition(nShards, $"shard")
    * .sortWithinPartitions($"shard", $"pos")` + partitioned parquet —
    * the same single exchange, sorted on the way out.
    */
  def shuffleShards(df: DataFrame, idCol: String, nShards: Int,
                    seed: String = "shuffle"): DataFrame = {
    require(nShards > 0, s"nShards must be positive: $nShards")
    val h = md5(concat_ws(":", lit(seed), col(idCol).cast("string")))
    df.withColumn("__gh", h)
      .withColumn("shard",
        (Dedup.md5Hash32(concat_ws(":", lit(seed), col(idCol).cast("string")), 1)
          % nShards.toLong).cast("int"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("__gh"), col(idCol))).cast("long"))
      .drop("__gh")
  }

  /** X7pp: probability-proportional-to-size (PPS) Poisson sampling — the
    * weighted per-DOC draw of survey sampling and importance-weighted
    * corpus selection: admit doc i independently with probability
    * p_i = min(1, n·w_i / W) where w_i is the doc's weight (token count),
    * W the corpus total and n the EXPECTED SAMPLE SIZE (Σp_i = n exactly
    * while no weight saturates) — long documents are proportionally
    * likelier to be drawn, so the admitted set concentrates token mass in
    * ~n docs, one map-only corpus pass.
    *
    * The inclusion test is EXACT INTEGER arithmetic end-to-end:
    * u < n·w/W ⇔ hash32·W < w·n·2^32 with u = hash32/2^32 the md5 unit —
    * both sides computed in DECIMAL(38,0) (the operands bound the products
    * far below 10^38), so there is no floating-point division anywhere,
    * the replay is bit-exact in any engine with 128-bit integers, and the
    * min(1,·) is free (w·n·2^32 ≥ W·2^32 > hash32·W whenever the rate
    * saturates). W comes from one tiny sum aggregation (a scalar, the
    * model-fit collect pattern); the corpus pass is a pure filter.
    */
  /** Exact fixed-k per-group uniform sample WITHOUT replacement — the
    * eval-set carve ([[stratifiedSample]] draws a hash-FRACTION, whose
    * per-stratum count is binomial; benchmark construction wants exactly
    * k): every group yields exactly min(k, |group|) rows, the k whose
    * seeded id hash ranks highest — uniform over the group (the hash is
    * a random permutation of ids) and deterministic from (corpus, seed),
    * so the draw replays bit-exact in any engine with md5 (the x7_split
    * portability discipline). One pass, one exchange carrying ≤ k heap
    * entries per (partition, group) ([[graft.functions.TopKAgg]] — never
    * the group's rows), so a 100 TB corpus ships k·G tuples, not data.
    * Output: group columns + (rank, id), rank 1..k by hash desc / id asc.
    */
  def fixedKSample(df: DataFrame, idCol: String, groupCols: Seq[String],
                   k: Int, seed: String = "fixedk"): DataFrame = {
    require(k > 0, s"fixedKSample: k must be positive, got $k")
    // the TopKAgg heap carries (score, id BIGINT); a non-integral id would
    // cast to null and be silently SKIPPED — empty samples with no error
    df.schema(idCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType => ()
      case t => throw new IllegalArgumentException(
        s"fixedKSample: $idCol must be an integral id column (got $t) — " +
          "the heap carries ids as BIGINT; map string ids to a surrogate first")
    }
    val score = Dedup.md5Hash32(
      concat_ws("|", lit(seed), col(idCol).cast("string")), 1).cast("double")
    df.groupBy(groupCols.map(col): _*)
      .agg(call_function("graft_topk",
        struct(score, col(idCol).cast("long")), lit(k)).as("__top"))
      .select(groupCols.map(col) :+ posexplode(col("__top")): _*)
      .select(groupCols.map(col) :+
        (col("pos") + 1).cast("long").as("rank") :+
        col("col.id").as(idCol): _*)
  }

  def ppsSample(df: DataFrame, idCol: String, weight: Column,
                expectedDocs: Long): DataFrame = {
    require(expectedDocs >= 0, s"expectedDocs must be >= 0: $expectedDocs")
    val dec = DecimalType(38, 0)
    val weighted = df.withColumn("__w", weight.cast("long"))
    val total = weighted.agg(sum(col("__w"))).collect()(0)
    val w0 = if (total.isNullAt(0)) 0L else total.getLong(0)
    weighted
      .where(Dedup.md5Hash32(col(idCol).cast("string"), 1).cast(dec) * lit(w0).cast(dec) <
        col("__w").cast(dec) * lit(expectedDocs).cast(dec) * lit(4294967296L).cast(dec))
      .drop("__w")
  }

  /** The physical export for [[shuffleShards]]: one parquet directory per
    * shard (`shard=K/`), rows stored in their permutation order, ONE file
    * per shard. The plan is exactly the scaladoc recipe — one hash
    * exchange on the shard key (`repartition(nShards, shard)` co-locates
    * each shard on one reducer), rows sorted on the way out
    * (`sortWithinPartitions` rides the shuffle's sort buffer — no second
    * exchange), partitioned write. A trainer reads `shard=K` sequentially
    * and sees the reproducible order; re-running the export on the same
    * (corpus, seed, nShards) produces byte-identical shard contents.
    */
  def writeShards(df: DataFrame, idCol: String, path: String, nShards: Int,
                  seed: String = "shuffle"): Unit =
    shuffleShards(df, idCol, nShards, seed)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.partitionBy("shard").mode("overwrite").parquet(path)
}
