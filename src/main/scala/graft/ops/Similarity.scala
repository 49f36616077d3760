package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Similarity search over an embedding column (SURVEY.md §2.12 X3).
  *
  * Baseline: brute-force cosine top-k — broadcast the query set
  * against the corpus, score with higher-order functions (`zip_with` +
  * `aggregate`, codegen'd, no UDF), rank with a window per query. At scale
  * the corpus side stays partitioned and never shuffles for scoring; the
  * only shuffle is the per-query top-k (tiny after per-partition pruning).
  * "Small query set" is a CONTRACT, not a hope: callers bound the query
  * side to a fixed COUNT ([[md5Anchors]] — K fixed, never a fraction of
  * the corpus), because a query set that grows with n turns the
  * broadcast scan O(n²/const) — the registered gates all derive their
  * probe sets this way since r15.
  *
  * Scale path: IVF — partition the corpus by a coarse quantizer
  * ([[kmeansCells]], or any pre-existing cell column), search only the
  * probe cells nearest the query centroid. Turns a full scan into a
  * `#probes/#cells` fraction of the data. Both quantizer regimes are
  * corpus-derived ([[ivfCellsFor]] for k-means nlist, [[ivfBitsFor]]
  * for sign-LSH cell bits): occupancy held constant, never a fixed cell
  * count that a growing corpus can outrun.
  */
object Similarity {

  /** Deterministic dot product of two float-array columns: products are
    * exact in double (24-bit mantissas), summed in index order. Uses the
    * codegen'd native expression when the session has graft functions
    * registered (all pipeline entry points register them); the HOF fallback
    * has identical semantics but interpreted per-element evaluation.
    */
  def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  /** Interpreted fallback with the same semantics (for sessions where
    * registration is undesirable).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, e) => acc + e)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k: for each row of `queries`, the `k` nearest
    * corpus rows (excluding self-matches by id).
    *
    * Output: (query_id, neighbor_id, rank, cosine rounded to 6dp).
    */
  def cosineTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // norms are materialized per ROW (once for the 1 query side, once for
    // the corpus side) so the pair loop computes a single dot product —
    // not three — and the expensive fold never re-evaluates per pair side
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"))
    // rank on the ROUNDED score: ranking must not depend on sub-6dp noise
    // (keeps top-k stable across engines and summation orders)
    val scored = c.crossJoin(q)
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("__cos", round(dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")), 6))
    // native bounded top-k instead of the window (see rankTopK)
    rankTopK(scored, k, "cosine")
  }

  /** IVF-style approximate top-k: corpus rows are grouped into cells
    * (`cellCol` — a pre-clustered label or quantizer output); per-cell
    * centroids are the mean embedding; each query searches only its
    * `nProbe` nearest cells. Approximate (recall < 1) by design — the scale
    * path for 100 TB corpora.
    */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, k: Int, nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cellCol: String = "label"): DataFrame = {
    // per-cell centroid: element-wise mean via posexplode + pivot-free agg.
    // The mean goes through an EXACT decimal sum (order-free, like every
    // measure aggregate here) so centroid doubles are bit-identical across
    // engines and partitionings — which makes IVF over a closed-form cell
    // mapping (lshCells) hash-checkable, and k-means IVF reproducible
    // across shuffle layouts.
    val cent = corpus
      .select(col(cellCol).as("__cell"), posexplode(col(vecCol)).as(Seq("__i", "__x")))
      .groupBy("__cell", "__i")
      .agg((sum(col("__x").cast(DecimalType(27, 10))).cast("double") / count(lit(1))).as("__m"))
      .groupBy("__cell").agg(array_sort(collect_list(struct(col("__i"), col("__m")))).as("__ims"))
      .select(col("__cell"), transform(col("__ims"), s => s.getField("__m")).as("__centroid"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    // nProbe nearest cells per query (centroid table is tiny: broadcast);
    // probe distance rounded to 6 dp before ranking, like every ranked
    // cosine, so probe selection cannot depend on sub-6dp noise
    val probes = q.crossJoin(broadcast(cent))
      .withColumn("__d", round(cosine(col("__qv"), col("__centroid")), 6))
      .withColumn("__pr", row_number().over(Window.partitionBy("query_id").orderBy(col("__d").desc, col("__cell"))))
      .where(col("__pr") <= nProbe)
      .select(col("query_id"), col("__qv"), col("__cell"))
    // search only probed cells: join keyed on cell, not a cross join
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      col(cellCol).as("__cell"), norm(col(vecCol)).as("__cn"))
    val scored = broadcast(probes.withColumn("__qn", norm(col("__qv")))).join(c, "__cell")
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("__cos", round(dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")), 6))
    // native bounded top-k instead of the window (see rankTopK)
    rankTopK(scored, k, "cosine")
  }

  /** Deterministic pseudo-random hyperplane component in [-1, 1): dyadic
    * rational derived from md5("hp_<k>_<i>") — the first 8 hex chars as an
    * integer, divided by 2^31, shifted to be zero-centered. Portable to any
    * engine with md5 (the DuckDB oracle twin computes the identical value),
    * so RHP-LSH bucket keys are engine-independent, exactly like the md5
    * base hash of the minhash family.
    */
  private[graft] def planeComponent(k: Int, i: Int): Double =
    graft.functions.Hyperplanes.component(k, i)

  /** X2 at scale: embedding near-duplicate pairs via random-hyperplane LSH
    * (sign-random-projection) — the sub-quadratic path that replaces the
    * within-block all-pairs join. Per vector, `bands * bitsPerBand` sign
    * bits of md5-seeded hyperplane projections; vectors meet ONLY when they
    * agree on every bit of some band, then candidates are verified with the
    * exact cosine. Join keys are (band, bucket) — fan-out depends on bucket
    * occupancy, never on a cross join — and the candidate set shrinks
    * geometrically in bitsPerBand, so at 100 TB the knobs trade recall for
    * candidate volume explicitly.
    *
    * Recall for a pair at angle θ: per-bit collision p = 1 - θ/π, recall =
    * 1-(1-p^bits)^bands. Defaults (16 bands x 4 bits) target moderate
    * thresholds (~0.94 recall at cosine 0.4); production near-dup sweeps at
    * cosine >= 0.8 should raise bitsPerBand to 8-16, which collapses the
    * background candidate rate to ~L/2^bits.
    *
    * SIZING RULE (measured, SCALING.md r13): the background candidate set
    * is ~bands·n²/2^bits — sub-quadratic behavior holds only while bucket
    * occupancy n/2^bits stays small. Any FIXED bits re-enters the
    * quadratic regime once n outgrows ~occupancy·2^bits: 8-bit bands that
    * were linear at 20k vectors (78 per bucket... fine) turned measurably
    * quadratic at 200k (780 per bucket → ~620M candidate pairs; the
    * Hamming-1 multiprobe ×9 on top exhausted executor memory). Size bits
    * from the corpus with [[rhpBitsFor]] (bits ≈ log2(n/occupancy)) and
    * re-derive per growth decade, exactly like IVF's nlist.
    *
    * Projections are rounded to 6 dp before the sign test so bucket bits are
    * reproducible across engines regardless of last-ulp summation noise.
    *
    * Two physical routes, identical results:
    *
    *  - `carryVectors = true` (default): vectors and norms RIDE the banded
    *    rows into the bucket self-join, the exact cosine is computed inside
    *    the join stage, and pairs are deduplicated only AFTER the threshold
    *    filter — on the tiny surviving set, not the candidate flood. One
    *    bucket-keyed shuffle end to end (the shape of Spark MLlib's own
    *    `approxSimilarityJoin`). Shuffle volume is `bands ×` the vector
    *    table, the right trade up to moderate dims (an explicit knob, not a
    *    silent choice, because at dim ≫ 10³ the amplification flips the
    *    balance).
    *  - `carryVectors = false`: banded rows carry only (id, band, bucket);
    *    candidates are distinct'd and verified by joining the (pinned)
    *    vector table back twice. Vector bytes shuffle once, but the
    *    pre-verify distinct materializes the full candidate pair set —
    *    preferable only for very wide vectors, where `bands ×`
    *    amplification outweighs the extra candidate-keyed joins. Callers
    *    release the pinned table via OpCaches after the action.
    */
  /** Per-band sign-LSH bucket array for `v`: bit j of band b is the
    * 6-dp-rounded sign of the projection onto md5-seeded hyperplane
    * b·bitsPerBand+j. Shared by the banded pair miners and the multi-probe
    * variant so the bucket math cannot drift between them.
    */
  private[graft] def signBucketArray(v: Column, planes: Array[Array[Double]],
                              bands: Int, bitsPerBand: Int): Column =
    // native one-pass kernel (r14): bit-identical to the Column-composed
    // `when(round(dot(v, plane), 6) >= 0, 1L << j)` fold it replaced, but
    // the plane matrix stays a primitive double[][] instead of bands×bits
    // boxed array literals — the composed form's boxed element reads were
    // 87 s of a 123 s ×100 near-dup run (SCALING.md "Round-14: sign-LSH
    // family re-armed scale-safe", Finding 1)
    org.apache.spark.sql.graftbridge.column(
      graft.functions.SignBandBuckets(
        org.apache.spark.sql.graftbridge.expression(v),
        planes, bands, bitsPerBand))

  /** Corpus-sized sign bits per band: smallest `bits` keeping expected
    * bucket occupancy `n / 2^bits` at or under `targetOccupancy`, clamped
    * to [4, 24]. The background candidate volume is
    * ~bands·n·occupancy/2, so holding occupancy constant holds the
    * candidate set LINEAR in n — the knob that keeps sign-LSH out of the
    * quadratic regime at any corpus size (measured wall at fixed bits:
    * SCALING.md r13). Recall at a given threshold then depends on bits,
    * so growers compensate with more bands (recall = 1-(1-p^bits)^bands)
    * or Hamming-1 probing — candidate cost scales LINEARLY in both,
    * versus quadratically in occupancy.
    *
    * INTEGER-EXACT on purpose: bits = bitLength(ceil(n/occupancy) - 1)
    * (the smallest b with occupancy·2^b ≥ n), never a float log — the
    * registered `x2_rhp_*` gates derive bits from the corpus count on
    * BOTH engines (the DuckDB twin replays the same derivation in SQL),
    * and a float log2 at a power-of-two boundary could disagree across
    * engines by 1 ulp and flip every bucket key.
    */
  def rhpBitsFor(n: Long, targetOccupancy: Int = 16): Int = {
    require(n >= 0 && targetOccupancy >= 1,
      s"rhpBitsFor: n >= 0 and occupancy >= 1 required, got ($n, $targetOccupancy)")
    // ceil(n/occ) without the (n + occ - 1) overflow at n near Long.Max
    val m = n / targetOccupancy + (if (n % targetOccupancy > 0) 1L else 0L)
    val needed = if (m <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    math.min(24, math.max(4, needed))
  }

  /** Corpus-sized k-means cell count for [[ivfTopKKmeans]] — the
    * [[rhpBitsFor]] discipline applied to IVF's nlist: cells =
    * ceil(n / targetCellSize) clamped to [2, maxCells], so expected
    * per-cell occupancy stays ≈ `targetCellSize` and the per-query
    * scanned-candidate count (`nProbe × occupancy`) stays CONSTANT as
    * the corpus grows. Any FIXED cell count re-enters the linear-scan
    * regime once n outgrows cells × occupancy: the r14-registered
    * kCells = 10 made every probe scan ~30% of the corpus at ANY scale
    * (nProbe 3 of 10 cells) — 1,738 s of the r14 ×100 registry run.
    *
    * INTEGER-EXACT on purpose, like [[rhpBitsFor]]: the registered
    * gates derive cells from `count()` on BOTH engines (the DuckDB twin
    * replays `(n + target − 1) // target` in SQL), so no float division
    * can disagree across engines and flip the quantizer.
    *
    * `maxCells` defaults to 512 because the driver-local fit runs over a
    * bounded 4096-row sample ([[kmeansCells]]): past ~sample/8 cells the
    * fit has under 8 points per centroid and degrades. Past the clamp,
    * occupancy grows linearly again — growers raise `fitSampleSize` and
    * `maxCells` together, one decade at a time, exactly like IVF's
    * nlist ≈ n/occupancy rule in production ANN systems.
    */
  def ivfCellsFor(n: Long, targetCellSize: Int = 50, maxCells: Int = 512): Int = {
    require(n >= 0 && targetCellSize >= 1 && maxCells >= 2,
      s"ivfCellsFor: n >= 0, targetCellSize >= 1, maxCells >= 2 required, " +
        s"got ($n, $targetCellSize, $maxCells)")
    // ceil without the (n + target - 1) overflow at n near Long.Max
    val cells = n / targetCellSize + (if (n % targetCellSize > 0) 1L else 0L)
    math.max(2L, math.min(maxCells.toLong, cells)).toInt
  }

  /** Corpus-sized coarse-quantizer sign bits for [[lshCells]] /
    * [[ivfPqTopK]]: [[rhpBitsFor]] at occupancy target 32, so cell
    * count 2^bits grows with the corpus and the per-probe candidate
    * volume (`nProbe × n / 2^bits` ≈ nProbe × 32) stays constant.
    * Yields the historical bitsPerCell = 4 (16 cells) at the 500-vector
    * oracle fixtures, 13 bits (8192 cells) at the 200k-vector ×100
    * fixture. Twin-replayable: the same integer derivation the
    * `x2_rhp_*` twins run in SQL, at occ = 32.
    */
  def ivfBitsFor(n: Long): Int = rhpBitsFor(n, targetOccupancy = 32)

  /** Fixed-count deterministic anchor/probe sample: the `k` rows ranking
    * first by (md5(id as string), id) — the x7_split md5-rank discipline
    * applied to ANN probe sets. COUNT-bounded on purpose: a fractional
    * predicate (`id % 100 = 0`) grows the probe set with the corpus, so
    * every brute-force truth or flat-scan leg it feeds is O(n²/100) —
    * quadratic in disguise; a fixed K keeps those legs O(K·n), linear at
    * any scale. Engine-portable: md5 of the decimal id string ranks
    * identically in any engine (lowercase hex is ASCII-ordered), the
    * DuckDB twins replay `ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT K`
    * verbatim, and Spark plans the orderBy+limit as a single
    * TakeOrdered job — never a global sort.
    */
  def md5Anchors(df: DataFrame, k: Int, idCol: String = "vec_id"): DataFrame =
    df.orderBy(md5(col(idCol).cast("string")), col(idCol)).limit(k)

  def randomHyperplaneNearDupPairs(
      df: DataFrame, threshold: Double, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bands: Int = 16, bitsPerBand: Int = 4,
      carryVectors: Boolean = true): DataFrame = {
    val planes = Array.tabulate(bands * bitsPerBand, dim)(planeComponent)
    def bandBuckets(v: Column) = signBucketArray(v, planes, bands, bitsPerBand)
    def verify(paired: DataFrame): DataFrame = paired
      .withColumn("cosine", round(dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")), 6))
      .where(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
    if (carryVectors) {
      val banded = df.select(col(idCol), col(vecCol).as("__v"), norm(col(vecCol)).as("__n"))
        .select(col(idCol), col("__v"), col("__n"),
          posexplode(bandBuckets(col("__v"))).as(Seq("__band", "__bkt")))
      def side(s: String) = banded.select(col(idCol).as(s"id_$s"), col("__v").as(s"__v$s"),
        col("__n").as(s"__n$s"), col("__band"), col("__bkt"))
      // dedup AFTER the cosine filter: scores are deterministic per pair
      // (6-dp round), so distinct collapses multi-band hits exactly.
      // Hash join, not sort-merge: the banded rows carry the vectors, and
      // sorting KB-wide rows costs more than hashing the bucket keys.
      verify(side("a").hint("shuffle_hash").join(side("b"), Seq("__band", "__bkt"))
        .where(col("id_a") < col("id_b")))
        .distinct()
    } else {
      val base = OpCaches.pin(df.select(col(idCol), col(vecCol).as("__v"),
        norm(col(vecCol)).as("__n")))
      val banded = base.select(col(idCol), posexplode(bandBuckets(col("__v"))).as(Seq("__band", "__bkt")))
      val cand = banded.alias("a").join(banded.alias("b"), Seq("__band", "__bkt"))
        .where(col(s"a.$idCol") < col(s"b.$idCol"))
        .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b")).distinct()
      verify(cand
        .join(base.select(col(idCol).as("id_a"), col("__v").as("__va"), col("__n").as("__na")), "id_a")
        .join(base.select(col(idCol).as("id_b"), col("__v").as("__vb"), col("__n").as("__nb")), "id_b"))
    }
  }

  /** Multi-probe variant of [[randomHyperplaneNearDupPairs]] (Lv et al.,
    * VLDB'07, applied to sign-LSH): one side of the band self-join also
    * probes every bucket at Hamming distance 1 — so a pair whose band
    * buckets differ in at most one sign bit still becomes a candidate.
    * The trade: the recall of a wider table (≈ bands × (1+bits) probe
    * keys) from fewer physical bands. This implementation uses the
    * carry-vectors route on BOTH sides (like the default
    * [[randomHyperplaneNearDupPairs]]), so the probe side shuffles
    * ~bands × (1+bits) copies of each vector — for very wide vectors,
    * prefer the candidates-then-rejoin shape (`carryVectors = false`
    * analog) where probe rows carry only (id, band, key). Candidates are
    * still verified with the exact cosine, so precision is unaffected.
    *
    * Regime caveat (measured, SCALING.md): multi-probe belongs with
    * HIGH-bit bands, where exact collisions are rare and Hamming-1 probing
    * buys recall back cheaply. With coarse 4-bit bands it multiplies an
    * already-quadratic background candidate rate (16 buckets/band) —
    * the worst-scaling RHP variant in the sf1 rehearsal. At corpus scale
    * pair it with bitsPerBand ≥ 8.
    *
    * Probing is ASYMMETRIC (left side expands, right side stays exact):
    * for an unordered pair at Hamming distance ≤1 the left expansion
    * always covers the right key, and symmetric expansion would only
    * duplicate candidates.
    *
    * Shape (r14): candidates-then-rejoin — the probe expansion carries
    * ONLY (id, band, key), never the vectors. The pre-r14 form carried
    * vectors on both sides and built the shuffle-hash map from the
    * EXPANDED side: n × bands × (bits+1) vector-wide rows, which at
    * 200k × 8 × 15 was a multi-GB per-partition hash build — the ×100
    * executor OOM of SCALING.md r13/r14. Now the hash map is built from
    * the UNEXPANDED banded side (n × bands skinny rows), candidates
    * dedup BEFORE vectors are fetched, and the exact-cosine verify joins
    * the pinned (id, vector, norm) projection twice — each candidate
    * pays the vector bytes exactly once.
    */
  def rhpMultiProbePairs(
      df: DataFrame, threshold: Double, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bands: Int = 8, bitsPerBand: Int = 4): DataFrame = {
    val planes = Array.tabulate(bands * bitsPerBand, dim)(planeComponent)
    val base = OpCaches.pin(df.select(col(idCol), col(vecCol).as("__v"),
      norm(col(vecCol)).as("__n")))
    val banded = base.select(col(idCol),
      posexplode(signBucketArray(col("__v"), planes, bands, bitsPerBand))
        .as(Seq("__band", "__bkt")))
    val probeKeys = array(col("__bkt") +:
      (0 until bitsPerBand).map(j => col("__bkt").bitwiseXOR(lit(1L << j))): _*)
    val probes = banded.select(col(idCol).as("id_a"), col("__band"),
      explode(probeKeys).as("__key"))
    val right = banded.select(col(idCol).as("id_b"), col("__band"),
      col("__bkt").as("__key"))
    val cand = probes.join(right.hint("shuffle_hash"), Seq("__band", "__key"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(base.select(col(idCol).as("id_a"), col("__v").as("__va"), col("__n").as("__na")), "id_a")
      .join(base.select(col(idCol).as("id_b"), col("__v").as("__vb"), col("__n").as("__nb")), "id_b")
      .withColumn("cosine", round(dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")), 6))
      .where(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Deterministic spherical k-means (Lloyd) over the embedding column —
    * the data-driven coarse quantizer for [[ivfTopKKmeans]] when no
    * pre-clustered cell column exists (real corpora have no `label`).
    *
    * Fit-on-sample, assign-distributed — the only shape that survives
    * 100 TB: ONE TakeOrdered job draws a bounded deterministic sample (the
    * `fitSampleSize` rows with smallest md5(id) — no RNG, reproducible),
    * seeding + Lloyd run on the driver over that constant-size sample
    * (O(sample * k * dim) flops), and the full corpus pays exactly one
    * distributed assignment pass: `max_by(cell, cosine)` against the
    * broadcast centroid table. The previous formulation's distributed
    * maxmin seeding cost k full scans of the corpus — k-means++-style
    * local init on a sample is the standard fix.
    *
    * Seeding is farthest-point (maxmin) traversal: start from the sample
    * row with the smallest md5(id), repeatedly add the row most dissimilar
    * to every chosen seed. Uniform-hash seeding was measured at 0.55 IVF
    * recall on the planted-cluster fixture (duplicate seeds collapse
    * cells); maxmin separates them.
    *
    * Returns (id, cell) assignments.
    */
  def kmeansCells(
      corpus: DataFrame, k: Int, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding",
      fitSampleSize: Int = 4096): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = corpus.select(col(idCol).as("__kid"), col(vecCol).as("__kv"))
    // bounded deterministic fit sample: one TakeOrdered job, never a scan
    // per seed
    val sample: Array[Array[Double]] = base
      .orderBy(md5(col("__kid").cast("string")), col("__kid"))
      .limit(fitSampleSize)
      .select(col("__kv"))
      .collect()
      .map(_.getSeq[Any](0).map {
        case f: Float => f.toDouble // exact widening, like graft_dot
        case d: Double => d
        case x => x.toString.toDouble
      }.toArray)
    require(sample.nonEmpty, "kmeansCells: empty corpus")
    val centroids = KmeansLocal.fit(sample, math.min(k, sample.length), iters)
    val centDf = broadcast(
      centroids.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toDF("__cell", "__centroid"))
    base.crossJoin(centDf)
      // round-before-compare, like every ranked cosine: assignment must not
      // depend on sub-6dp noise (and the DuckDB twin rounds identically)
      .withColumn("__cos", round(dot(col("__kv"), col("__centroid")) /
        (norm(col("__kv")) * norm(col("__centroid"))), 6))
      .groupBy(col("__kid"))
      // ties broken toward the larger cell id via lexicographic struct max
      .agg(max_by(col("__cell"), struct(col("__cos"), col("__cell"))).as("cell"))
      .select(col("__kid").as(idCol), col("cell"))
  }

  /** Engine-portable coarse quantizer: cell = `bitsPerCell` md5-hyperplane
    * sign bits (band 0 of the RHP plane family, same 6-dp-rounded
    * projections). Unlike [[kmeansCells]] the mapping is closed-form — no
    * fitted state — so [[ivfTopK]] over these cells is hash-checkable END
    * TO END (quantize → centroid → probe → cell-restricted top-k), which
    * puts the whole IVF mechanism under the driver's bit-exact gate; the
    * k-means quantizer remains the data-driven alternative (rows-only).
    * 2^bitsPerCell cells; at corpus scale raise bitsPerCell exactly like
    * the RHP banding knobs.
    */
  def lshCells(corpus: DataFrame, dim: Int, bitsPerCell: Int = 4,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val planes = Array.tabulate(bitsPerCell, dim)(planeComponent)
    corpus.select(col(idCol),
      element_at(signBucketArray(col(vecCol), planes, 1, bitsPerCell), 1)
        .cast("int").as("cell"))
  }

  /** IVF top-k with data-driven cells: k-means the corpus (no `label`
    * column required), then probe as in [[ivfTopK]]. Approximate by design
    * — recall depends on nProbe/kCells; OpsSpec asserts recall against the
    * brute-force result on the sf0.001 fixture.
    */
  def ivfTopKKmeans(
      queries: DataFrame, corpus: DataFrame, k: Int, nProbe: Int,
      kCells: Int = 10, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cells = kmeansCells(corpus, kCells, iters, idCol, vecCol)
    ivfTopK(queries, corpus.join(cells, idCol), k, nProbe, idCol, vecCol, "cell")
  }

  /** Driver-local spherical k-means over the bounded fit sample (see
    * [[Similarity.kmeansCells]]): maxmin seeding + Lloyd iterations with
    * cosine assignment. Plain arrays — the sample is constant-size by
    * construction, so this is quantizer training, not a data-plane loop.
    *
    * ENGINE-PORTABLE since r6: every cosine is rounded to 6 dp before any
    * comparison (dot products are bit-identical across engines — the JVM
    * loop, `graft_dot` and DuckDB's `list_sum` all sum in index order —
    * so rounding only guards the comparisons), and Lloyd means go through
    * the exact DECIMAL(·,10) addend discipline the distributed centroid
    * aggregates use. The DuckDB twin (`Oracles.kmeansCellChain`) unrolls
    * seeding + Lloyd into CTE stages and reproduces the centroids
    * bit-for-bit, which upgrades the k-means IVF queries from rows-only to
    * hash-checked.
    */
  private[graft] object KmeansLocal {

    private def dotL(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i) * b(i); i += 1 }
      s
    }
    /** 6-dp HALF_UP round through the shortest decimal repr — the same
      * value Spark's `round(col, 6)` and DuckDB's `round(x, 6)` produce on
      * an identical double (the house round used at every ranked-cosine
      * boundary).
      */
    private def round6(d: Double): Double =
      java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    private def cosL(a: Array[Double], b: Array[Double]): Double = {
      val d = math.sqrt(dotL(a, a)) * math.sqrt(dotL(b, b))
      if (d == 0) 0.0 else round6(dotL(a, b) / d)
    }

    def fit(sample: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
      val n = sample.length
      // point norms cached once: cosL recomputed sqrt(dot(a,a)) per call —
      // identical values, so every rounded cosine below is bit-unchanged
      val norms = sample.map(v => math.sqrt(dotL(v, v)))
      def cosAt(i: Int, c: Array[Double], cNorm: Double): Double = {
        val d = norms(i) * cNorm
        if (d == 0) 0.0 else round6(dotL(sample(i), c) / d)
      }
      // maxmin seeding, INCREMENTAL: near(i) = max rounded cosine to any
      // chosen seed, updated in O(n) per new seed instead of recomputed
      // against every seed per candidate — the naive loop was O(k²·n·d)
      // with a BigDecimal round per cosine, ~150 s at the corpus-derived
      // k = 400–512 (r15 ×10 bench). Max over seeds is associative and
      // the strictly-less argmin keeps the FIRST (md5-order) row on ties,
      // so selection order and every centroid are bit-identical to the
      // naive form (the seeding-unroll DuckDB twin stays green).
      val seeds = scala.collection.mutable.ArrayBuffer(sample(0))
      val near = Array.tabulate(n)(i => cosAt(i, sample(0), norms(0)))
      while (seeds.size < k) {
        var bestIdx = -1; var bestNear = Double.MaxValue
        var i = 0
        while (i < n) {
          if (near(i) < bestNear) { bestNear = near(i); bestIdx = i }
          i += 1
        }
        val s = sample(bestIdx); val sn = norms(bestIdx)
        seeds += s
        var j = 0
        while (j < n) {
          val c = cosAt(j, s, sn)
          if (c > near(j)) near(j) = c
          j += 1
        }
      }
      var centroids = seeds.toArray
      // exact 10-dp decimal addends precomputed once (the sample never
      // changes across Lloyd iterations)
      val sampleDec = sample.map(_.map(x =>
        new java.math.BigDecimal(x).setScale(10, java.math.RoundingMode.HALF_UP)))
      (1 to iters).foreach { _ =>
        val dim = centroids(0).length
        val cNorms = centroids.map(c => math.sqrt(dotL(c, c)))
        // exact DECIMAL(·,10) addends, like the distributed centroid
        // aggregates (`sum(x.cast(DecimalType(27,10)))`): each value is the
        // EXACT binary double rounded to 10 dp, summed exactly — order-free,
        // so the SQL twin's aggregate reproduces the mean bit-for-bit
        val sums = Array.fill(centroids.length)(
          Array.fill(dim)(java.math.BigDecimal.ZERO))
        val counts = new Array[Long](centroids.length)
        var vi = 0
        while (vi < n) {
          var best = 0; var bestCos = Double.MinValue
          var c = 0
          while (c < centroids.length) {
            val cs = cosAt(vi, centroids(c), cNorms(c))
            if (cs >= bestCos) { bestCos = cs; best = c } // ties -> larger cell, like max_by
            c += 1
          }
          var i = 0
          while (i < dim) {
            sums(best)(i) = sums(best)(i).add(sampleDec(vi)(i))
            i += 1
          }
          counts(best) += 1
          vi += 1
        }
        centroids = centroids.indices.map { c =>
          if (counts(c) == 0) centroids(c) // empty cell keeps its centroid
          else sums(c).map(_.doubleValue() / counts(c))
        }.toArray
      }
      centroids
    }
  }

  /** Recall audit for approximate top-k: per query, the fraction of the
    * exact top-k neighbor set recovered by the approximate result. Both
    * inputs use the (query_id, neighbor_id) contract of [[cosineTopK]] /
    * [[ivfTopK]]. This is the quality gate that keeps a quantizer or probe
    * regression from hiding behind a rows-only check: recall is a number
    * the driver artifact records every round.
    */
  def topKRecall(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val hits = exact.select("query_id", "neighbor_id")
      .join(approx.select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"), "left_semi")
    // denominator = the query's ACTUAL exact-set size, not the constant k:
    // a corpus with fewer than k eligible neighbors must still read 1.0
    // when the approximate path reproduces the exact set perfectly
    exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .join(hits.groupBy("query_id").agg(count(lit(1)).as("n_hits")), Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)) / col("n_exact"), 6).as("recall"))
  }

  /** Recall audit for near-dup pair mining: of the ground-truth pairs in
    * `truth` (exact, quadratic — bounded-sample contract), the fraction
    * present in `found` (the LSH path). Single-row output
    * (threshold, n_true, n_captured, recall); both count aggregates are
    * 1-row so the final join is a broadcast, never a cartesian. An EMPTY
    * truth set (a small fixture whose anchor sample has no near-dups)
    * reports recall NULL, not a divide-by-zero — the DuckDB twin emits
    * the same NULL, so the degenerate row still hash-matches.
    */
  def pairRecall(truth: DataFrame, found: DataFrame, threshold: Double): DataFrame = {
    val captured = truth.join(found.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_semi")
    broadcast(truth.agg(count(lit(1)).as("n_true")))
      .crossJoin(captured.agg(count(lit(1)).as("n_captured")))
      .select(lit(threshold).as("threshold"), col("n_true"), col("n_captured"),
        when(col("n_true") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_captured") / col("n_true"), 6)).as("recall"))
  }

  /** Int8 scalar quantization of the embedding column — the standard 4×
    * memory cut for ANN corpora (and the input format of int8 SIMD
    * distance kernels). Per-vector symmetric scale = max|x|/127; q =
    * round(x/scale) lands in [-127, 127] by construction (no clamp
    * needed). Pure per-row projection — zero shuffles at any scale.
    * Outputs the scale (9 dp), the quantized vector, and the mean
    * absolute reconstruction error (6 dp) as the quality signal.
    *
    * Deterministic and engine-portable: max is order-free, float→double
    * widening is exact, and both Spark and DuckDB round halves away from
    * zero — so the DuckDB twin reproduces q bit-for-bit.
    */
  def quantizeInt8(df: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val staged = df.select(col(idCol), col(vecCol).as("__v"))
      .withColumn("__scale",
        greatest(aggregate(col("__v"), lit(0.0), (a, x) => greatest(a, abs(x.cast("double")))),
          lit(1e-30)) / 127.0)
    staged
      .withColumn("q", transform(col("__v"), x => round(x.cast("double") / col("__scale")).cast("int")))
      .withColumn("recon_mae",
        round(aggregate(zip_with(col("__v"), col("q"),
            (x, q) => abs(x.cast("double") - q.cast("double") * col("__scale"))),
          lit(0.0), _ + _) / size(col("__v")), 6))
      .select(col(idCol), round(col("__scale"), 9).as("scale"), col("q"), col("recon_mae"))
  }

  /** Embedding-cosine near-duplicate pairs (X2 flavor): all pairs above a
    * cosine threshold, blocked by a cell column to avoid the full cross
    * join (exact within blocks).
    *
    * `anchors` restricts the LEFT (id_a) side to a bounded sample (rows
    * of the same schema as `df`, e.g. [[md5Anchors]]) — the
    * bounded-sample discipline for the unblocked recall-audit form:
    * truth pairs are (sampled anchor, any corpus row) with id_a < id_b,
    * so the audit's left side is O(|anchors|) while the corpus side
    * still never shuffles. Prefer a COUNT-bounded anchor set over a
    * fractional predicate: K fixed keeps the audit linear in n.
    */
  def embeddingNearDupPairs(
      df: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      blockCol: Option[String] = None,
      anchors: Option[DataFrame] = None): DataFrame = {
    def project(src: DataFrame) = src.select(col(idCol) +: norm(col(vecCol)).as("__norm") +:
      col(vecCol) +: blockCol.map(col).toSeq: _*)
    val base = project(df)
    def side(suffix: String) = {
      val src = if (suffix == "a") anchors.map(project).getOrElse(base) else base
      val cols = Seq(col(idCol).as(s"id_$suffix"), col(vecCol).as(s"__v$suffix"),
        col("__norm").as(s"__n$suffix")) ++ blockCol.map(col)
      src.select(cols: _*)
    }
    // The unblocked form is quadratic BY CONTRACT — it is the ground-truth /
    // recall-audit path, meant for bounded samples (anchorPred), never the
    // 100 TB corpus.
    // Broadcasting the left side makes it a BroadcastNestedLoopJoin (the
    // corpus side never shuffles), keeping the registry's no-CartesianProduct
    // plan audit intact.
    val joined = blockCol match {
      case Some(b) => side("a").join(side("b"), Seq(b))
      case None    => broadcast(side("a")).crossJoin(side("b"))
    }
    joined.where(col("id_a") < col("id_b"))
      .withColumn("cosine", round(dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")), 6))
      .where(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al., arXiv:2303.09540):
    * cluster the corpus with a coarse quantizer, and within each cluster
    * drop every vector that has a ≥ `threshold` cosine neighbor of higher
    * keep-priority — where priority is ASCENDING similarity to the cluster
    * centroid (the paper's rule: among semantic duplicates, keep the
    * example LEAST typical of its cluster; ties broken by id). The standard
    * "prune redundant paraphrases from web-scale corpora" step that exact
    * and MinHash dedup cannot express.
    *
    * Quantizer = [[lshCells]] (closed-form md5 sign-LSH, no fitted state),
    * so the whole operator — cells, exact-decimal centroids, 6-dp-rounded
    * priorities, pair verification — is engine-portable and sits under the
    * driver's bit-exact oracle gate; swap in [[kmeansCells]] for the
    * data-driven quantizer when hash-portability is not required.
    *
    * Scale shape: one cell-keyed self-join (never a cross join) plus the
    * centroid aggregation; per-cell candidate volume is the knob —
    * `bitsPerCell` plays exactly the role of SemDeDup's cluster count k
    * (the paper uses k ≈ 11k for LAION; here 2^bitsPerCell), so at corpus
    * scale raise it until cells are join-sized. The drop rule compares
    * against EVERY higher-priority in-cell neighbor (not only kept ones) —
    * deterministic in one join pass, no iterative peeling.
    *
    * Output: every corpus row as (idCol, cell, centroid_cos, kept).
    */
  def semanticDedup(
      corpus: DataFrame, threshold: Double, dim: Int, bitsPerCell: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cells = lshCells(corpus, dim, bitsPerCell, idCol, vecCol)
    val base = corpus.select(col(idCol), col(vecCol).as("__v"), norm(col(vecCol)).as("__n"))
      .join(cells, idCol)
    // per-cell centroid through the exact DECIMAL sum (order-free), like
    // ivfTopK: centroid doubles are bit-identical across engines/layouts
    val cent = base
      .select(col("cell"), posexplode(col("__v")).as(Seq("__i", "__x")))
      .groupBy("cell", "__i")
      .agg((sum(col("__x").cast(DecimalType(27, 10))).cast("double") / count(lit(1))).as("__m"))
      .groupBy("cell").agg(array_sort(collect_list(struct(col("__i"), col("__m")))).as("__ims"))
      .select(col("cell"), transform(col("__ims"), s => s.getField("__m")).as("__c"))
    // keep-priority key: (6-dp-rounded centroid cosine ASC, id) — rounded
    // BEFORE comparison so priority order cannot depend on sub-6dp noise.
    // Pinned: keyed feeds both self-join sides AND the final kept-flag
    // join; unpinned, the corpus scan + cell projection + centroid cosine
    // would execute three times (caller releases via OpCaches, as with
    // every operator-internal persist)
    val keyed = OpCaches.pin(base.join(broadcast(cent), "cell")
      .withColumn("centroid_cos",
        round(dot(col("__v"), col("__c")) / (col("__n") * norm(col("__c"))), 6))
      .select(col("cell"), col(idCol), col("__v"), col("__n"), col("centroid_cos")))
    def side(s: String) = keyed.select(col("cell"), col(idCol).as(s"__id$s"),
      col("__v").as(s"__v$s"), col("__n").as(s"__n$s"), col("centroid_cos").as(s"__cc$s"))
    val dropped = side("a").join(side("b"), Seq("cell"))
      .where(struct(col("__cca"), col("__ida")) < struct(col("__ccb"), col("__idb")))
      .withColumn("__cos", round(dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")), 6))
      .where(col("__cos") >= threshold)
      .select(col("__idb").as(idCol)).distinct()
      .withColumn("__dropped", lit(true))
    keyed.join(dropped, Seq(idCol), "left")
      .select(col(idCol), col("cell"), col("centroid_cos"),
        col("__dropped").isNull.as("kept"))
  }

  /** X3p: first-principal-component projection via distributed power
    * iteration — the dimensionality-reduction / whitening primitive of
    * embedding pipelines (centroid-direction removal, ABTT-style
    * postprocessing, 1-D quantizer ordering). Classic streaming PCA: the
    * component vector lives on the driver (dim doubles — constant state,
    * like the bounded k-means fit), the DATA never leaves its partitions,
    * and each Lloyd-style refinement is ONE corpus pass:
    * v ← normalize(Σ_i (x_i − μ)·((x_i − μ)ᵀ v)), starting from e_1.
    *
    * ENGINE-PORTABLE by the round-6 k-means discipline: the mean and every
    * per-row coefficient s_i = round6((x_i − μ)ᵀ v) round at 6 dp, the
    * per-dimension accumulators sum round6(s_i·(x_ij − μ_j)) through exact
    * DECIMAL(18,6) (order-free), and the normalized component re-rounds at
    * 6 dp — so the DuckDB twin (iterations unrolled into CTE stages, dots
    * as index-order `list_sum` folds) reproduces component AND projections
    * bit-for-bit. Driver state is 2·dim doubles; every corpus pass is an
    * aggregate with map-side combine (zero shuffles of vector data).
    *
    * Returns (idCol, pc1 = round6 projection of the centered vector onto
    * the unit component). Deterministic: fixed start, fixed iteration
    * count — convergence is the iteration budget's job, exactly like the
    * bounded Lloyd fit ([[KmeansLocal]]).
    */
  def pcaProject(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                 iters: Int = 5): DataFrame = {
    require(dim > 0 && iters >= 1, s"need dim > 0 and iters >= 1: dim=$dim iters=$iters")
    def round6(d: Double): Double =
      java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val x = (0 until dim).map(j => element_at(col(vecCol), j + 1).cast("double"))
    // corpus mean, exact-decimal addends (the centroid discipline): one
    // bounded collect of dim doubles — constant driver state by contract
    val meanRow = df.select(
      (0 until dim).map(j => sum(x(j).cast(DecimalType(27, 10))).as(s"__s$j")) :+
        count(lit(1)).as("__n"): _*).head()
    val n = meanRow.getLong(dim)
    require(n > 0, "pcaProject needs a non-empty corpus")
    val mu = (0 until dim).map(j => meanRow.getDecimal(j).doubleValue() / n).toArray
    // index-order left fold == DuckDB's list_sum(list_transform(...)) fold
    def centeredDot(v: Array[Double]): Column =
      (0 until dim).map(j => (x(j) - lit(mu(j))) * lit(v(j))).reduceLeft(_ + _)
    // normalized all-ones start (not e_1: a basis start collapses whenever
    // that one axis carries zero variance; ones only collapses if the data
    // span is orthogonal to it), rounded by the 6-dp boundary discipline
    var v = Array.fill(dim)(round6(1.0 / math.sqrt(dim.toDouble)))
    (1 to iters).foreach { _ =>
      val staged = df.select((col(idCol) +: (0 until dim).map(j => x(j).as(s"__x$j"))) :+
        round(centeredDot(v), 6).as("__s"): _*)
      val acc = staged.select((0 until dim).map(j =>
        sum(round(col("__s") * (col(s"__x$j") - lit(mu(j))), 6).cast(DecimalType(18, 6)))
          .as(s"__w$j")): _*).head()
      val w = (0 until dim).map(j =>
        Option(acc.getDecimal(j)).map(_.doubleValue()).getOrElse(0.0)).toArray
      // index-order sequential adds, same fold shape as the twin's list_sum
      var ss = 0.0; var j = 0
      while (j < dim) { ss += w(j) * w(j); j += 1 }
      val nrm = math.sqrt(ss)
      require(nrm > 0, "power iteration collapsed to the zero vector (degenerate corpus)")
      v = w.map(wj => round6(wj / nrm))
    }
    df.select(col(idCol), round(centeredDot(v), 6).as("pc1"))
  }

  /** Product-quantization codes (Jégou et al., TPAMI'11): split each
    * vector into `m` contiguous subspaces and quantize every sub-vector
    * independently to `bitsPerCode` sign-LSH bits — the memory-compression
    * step of large-scale ANN (an m·bitsPerCode-bit code replaces a
    * dim·32-bit vector: 64 float dims → 4 bytes at 8×4, a 64× shrink).
    * The sub-quantizer is the closed-form md5-hyperplane family
    * ([[planeComponent]], plane k = s·bitsPerCode+j over sub-dimension
    * indices), so codes are engine-portable — no fitted state, exactly
    * like [[lshCells]] one level down the vector.
    *
    * Output: (idCol, codes array<int> of length m). Pure projection — no
    * shuffle at any scale.
    */
  /** The m-element code array expression over a vector column — shared by
    * [[pqCodes]], [[pqFitCodebooks]] and [[pqTopK]] so encoding cannot
    * drift between fit and search.
    */
  private[graft] def pqCodesExpr(vec: Column, dim: Int, m: Int, bitsPerCode: Int): Column = {
    require(dim % m == 0, s"dim $dim must split evenly into m=$m subspaces")
    // Native compiled form ([[graft.functions.PqSignPack]]): the Column
    // formulation inlined m*bitsPerCode literal-plane CASE chains, blowing
    // Janino's 64 KB method limit at the registered 32x4 regime and forcing
    // the whole fit stage to interpreted eval (VERDICT r9). Semantics are
    // bit-identical; callers all register graft functions first.
    call_function("graft_pq_codes", vec, lit(dim), lit(m), lit(bitsPerCode))
  }

  def pqCodes(corpus: DataFrame, dim: Int, m: Int = 8, bitsPerCode: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    corpus.select(col(idCol), pqCodesExpr(col(vecCol), dim, m, bitsPerCode).as("codes"))
  }

  /** Per-(subspace, code) centroids for [[pqCodes]]: the exact-DECIMAL
    * mean of every sub-vector carrying that code (the IVF centroid
    * discipline, so the codebook is bit-reproducible in any engine).
    * Distributed aggregation over (s, code, component) — m·2^bits·subDim
    * cells — then collected: the codebook is a bounded MODEL ARTIFACT
    * (m·2^bits·subDim doubles; 1024 at the defaults), the thing a PQ
    * deployment ships to its query fleet. Cells no corpus vector maps to
    * stay zero vectors — they can never be referenced (codes come FROM
    * the corpus).
    *
    * Returns codebooks(s)(code) = centroid array of length subDim.
    */
  def pqFitCodebooks(corpus: DataFrame, dim: Int, m: Int = 8, bitsPerCode: Int = 4,
                     idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    val subDim = dim / m
    val coded = corpus
      .select(col(vecCol).as("__v"), pqCodesExpr(col(vecCol), dim, m, bitsPerCode).as("__c"))
      .select(posexplode(col("__c")).as(Seq("__s", "__code")), col("__v"))
      .select(col("__s"), col("__code"),
        posexplode(slice(col("__v"), col("__s") * subDim + 1, lit(subDim))).as(Seq("__i", "__x")))
      .groupBy("__s", "__code", "__i")
      .agg((sum(col("__x").cast(DecimalType(27, 10))).cast("double") / count(lit(1))).as("__m"))
      .collect()
    val books = Array.fill(m, 1 << bitsPerCode)(new Array[Double](subDim))
    coded.foreach { r => books(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3) }
    books
  }

  private def round6L(d: Double): Double =
    java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** PQ top-k by asymmetric distance computation: corpus vectors are
    * represented ONLY by their m codes; each query scores a candidate as
    * the cosine between the raw query and the candidate's RECONSTRUCTION
    * (per-subspace codebook centroids). Per-subspace dot products and the
    * reconstruction's per-subspace squared norms go through the
    * round6→DECIMAL(18,6) exact-sum discipline before crossing subspaces
    * (cross-subspace addition must not depend on order — the same rule as
    * every portable mean here), so scores are bit-identical across
    * engines and the query is hash-checkable.
    *
    * Scale shape: the corpus pass is a pure projection (codes + literal
    * codebook lookups — the codebook rides the PLAN, there is no centroid
    * join); queries broadcast (probe sets are small by contract); ranking
    * is the per-query window all top-k variants share. Corpus vectors
    * never shuffle, and at serving time the scan could read codes alone —
    * dim/m·32/bits× less I/O than exact search.
    *
    * Output: (query_id, neighbor_id, rank, approx_cosine). Approximate by
    * design (quantization error), audited by the recall query against the
    * brute-force truth.
    */
  /** Literal per-subspace norm lookup tables for a fitted codebook:
    * code → round6 squared norm (norm2 summed index-order over the
    * centroid, like the twin's list_sum). Shared by [[pqTopK]],
    * [[ivfPqTopK]] and the streaming server so reconstruction norms cannot
    * drift between the flat and the cell-restricted search. (Centroid
    * lookups for the ADC numerator live in the native
    * [[graft.functions.PqAdc]] expression instead.)
    */
  private[graft] def pqNormMaps(books: Array[Array[Array[Double]]], m: Int): Seq[Column] =
    (0 until m).map { s =>
      typedlit(books(s).indices.map { c =>
        val v = books(s)(c)
        var ss = 0.0; var i = 0
        while (i < v.length) { ss += v(i) * v(i); i += 1 }
        c -> round6L(ss)
      }.toMap)
    }

  /** Reconstruction squared norm of a code array through the normMaps —
    * round6 per subspace, exact decimal sum across subspaces.
    *
    * Formulated as ONE `zip_with`+`aggregate` pass so `codes` is referenced
    * exactly once: the per-subspace `element_at(codes, s+1)` chain is
    * "extract-only" to CollapseProject, which inlines the producer into all
    * m references — free when codes was a `CreateArray` (each extract
    * simplifies to one element expression), but a full per-reference
    * re-evaluation of the native [[graft.functions.PqSignPack]] call (m×
    * the whole pack per row — the measured 3× pq_topk regression when the
    * native expression first landed). The decimal accumulator is exact
    * (values are 6-dp multiples, bounded by m·dim), so the sum is
    * bit-identical to the old per-column DECIMAL(18,6) reduce chain.
    */
  private[graft] def pqReconNorm2(codes: Column, normMaps: Seq[Column], m: Int): Column =
    aggregate(
      zip_with(codes, array(normMaps: _*), (c, mp) => element_at(mp, c)),
      lit(0).cast(DecimalType(38, 6)),
      (acc, x) => (acc + x.cast(DecimalType(18, 6))).cast(DecimalType(38, 6)))
      .cast("double")

  /** ADC numerator: query · reconstruction, round6 per subspace, exact
    * decimal sum across subspaces — the native
    * [[graft.functions.PqAdc]] expression (one JIT-able loop, codebook as
    * a plan literal). The Column formulation (m parallel map-lookup +
    * decimal chains) generated a method past HotSpot's 8 KB JIT ceiling at
    * m=32, leaving the hottest per-pair loop of the PQ family running in
    * the bytecode interpreter (~100 µs/pair measured); values are
    * bit-identical.
    */
  private[graft] def pqAdcNumerator(qv: Column, codes: Column,
                             books: Array[Array[Array[Double]]], subDim: Int): Column =
    call_function("graft_pq_adc", qv, codes,
      typedlit(books.map(_.map(_.toSeq).toSeq).toSeq), lit(subDim))

  /** Grouped top-k of (query_id, neighbor_id, __cos) scored rows — the
    * ranking tail of every ANN serving path. r16: the native bounded
    * aggregate ([[graft.functions.TopKAgg]], score desc / id asc — the
    * row_number() convention, survivor-set equality gated by
    * `x7_topk_agg`) replaces the window: partial heaps combine map-side
    * (at most k entries per group per partition cross the exchange) and
    * nothing per-group is ever fully sorted — the window form re-sorted
    * every scored candidate row per query (guide §2.3 "aggregate before
    * you shuffle"; measured 1.7× on the window-vs-agg probe, SCALING
    * r10). Long ids ride the heap directly; other id types keep the
    * window form (the aggregate's buffer is (double, long) by design).
    *
    * Contract (ADVICE r16): every registered caller scores with null-free
    * cosines over non-null ids, and k ≤ 65536 (TopKAgg's bound). Outside
    * that contract the branches differ — the aggregate skips null
    * score/id rows where the window would rank them NULLS LAST, and
    * k > 65536 is an analysis error on the long-id path only. Callers
    * introducing nullable scores must filter them before ranking.
    */
  private def rankTopK(scored: DataFrame, k: Int, scoreOut: String): DataFrame = {
    val idIsLong = scored.schema("neighbor_id").dataType ==
      org.apache.spark.sql.types.LongType
    if (idIsLong)
      scored.groupBy(col("query_id"))
        .agg(call_function("graft_topk",
          struct(col("__cos"), col("neighbor_id")), lit(k)).as("__top"))
        .select(col("query_id"), posexplode(col("__top")))
        .select(col("query_id"), col("col.id").as("neighbor_id"),
          (col("pos") + 1).cast("long").as("rank"), col("col.score").as(scoreOut))
    else
      scored.withColumn("rank", row_number().over(
          Window.partitionBy("query_id").orderBy(col("__cos").desc, col("neighbor_id"))))
        .where(col("rank") <= k)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
          col("__cos").as(scoreOut))
  }

  private def pqRank(scored: DataFrame, k: Int): DataFrame =
    rankTopK(scored, k, "approx_cosine")

  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
             m: Int = 8, bitsPerCode: Int = 4,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val subDim = dim / m
    val books = pqFitCodebooks(corpus, dim, m, bitsPerCode, idCol, vecCol)
    val normMaps = pqNormMaps(books, m)
    val coded = pqCodes(corpus, dim, m, bitsPerCode, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("codes"),
        pqReconNorm2(col("codes"), normMaps, m).as("__rn2"))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn")))
    val scored = coded.crossJoin(q)
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("__num", pqAdcNumerator(col("__qv"), col("codes"), books, subDim))
      .withColumn("__cos",
        round(col("__num") / (col("__qn") * sqrt(col("__rn2"))), 6))
    pqRank(scored, k)
  }

  /** IVF-PQ top-k — the composition that actually serves ANN at corpus
    * scale (the FAISS IVFPQ architecture, Jégou et al. TPAMI'11 §V): a
    * coarse quantizer ([[lshCells]], closed-form) cuts the candidate set
    * to the `nProbe` cells nearest each query, and within those cells
    * candidates are scored by ADC against their PQ codes — so the index
    * holds only (cell, codes) per vector (16 bytes + a cell int at the
    * registered 32×4), and a query touches nProbe/2^bitsPerCell of the
    * corpus instead of all of it.
    *
    * Where [[pqTopK]]'s candidate pairing is a broadcast cross join (every
    * query meets every code — right for small probe sets, wrong at corpus
    * scale), here the pairing is an EQUI-JOIN on the cell key: probes
    * (queries × nProbe rows, tiny) broadcast against the coded corpus, and
    * the corpus side never shuffles. Raising `bitsPerCell` deepens the cut
    * exactly like the RHP banding knobs — cells shrink geometrically while
    * probe ranking stays a broadcast against 2^bitsPerCell centroids.
    *
    * Every stage is closed-form or exact-decimal (cell bits, cell
    * centroids, codebooks, ADC sums), so the whole index — quantize →
    * probe → cell-restricted ADC top-k — is hash-checkable end to end.
    *
    * Output: (query_id, neighbor_id, rank, approx_cosine). Approximate
    * twice over (cell cut + quantization error); audited against the
    * brute-force truth by the recall query.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int, nProbe: Int, dim: Int,
                bitsPerCell: Int = 4, m: Int = 8, bitsPerCode: Int = 4,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val books = pqFitCodebooks(corpus, dim, m, bitsPerCode, idCol, vecCol)
    ivfPqTopKWith(queries, corpus, books, k, nProbe, dim, bitsPerCell, m,
      bitsPerCode, idCol, vecCol)
  }

  /** [[ivfPqTopK]]'s SERVING half with the fitted codebook supplied by the
    * caller — the deployment split: a fleet fits codebooks once
    * ([[pqFitCodebooks]]), persists them ([[graft.ops.ModelStore]]
    * saveTensor3), and every scoring session reloads the artifact and
    * serves through this entry without re-running the fit's corpus pass
    * (gated bit-exact against the fresh-fit chain by `x11_ann_reload`).
    */
  def ivfPqTopKWith(queries: DataFrame, corpus: DataFrame,
                    books: Array[Array[Array[Double]]], k: Int, nProbe: Int,
                    dim: Int, bitsPerCell: Int = 4, m: Int = 8, bitsPerCode: Int = 4,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val subDim = dim / m
    val normMaps = pqNormMaps(books, m)
    val cellPlanes = Array.tabulate(bitsPerCell, dim)(planeComponent)
    def cellExpr(v: Column) =
      element_at(signBucketArray(v, cellPlanes, 1, bitsPerCell), 1).cast("int")
    // the serving index: one corpus projection carrying cell + codes +
    // reconstruction norm — raw vectors appear nowhere downstream
    val coded = corpus.select(col(idCol).as("neighbor_id"),
        cellExpr(col(vecCol)).as("__cell"),
        pqCodesExpr(col(vecCol), dim, m, bitsPerCode).as("codes"))
      .withColumn("__rn2", pqReconNorm2(col("codes"), normMaps, m))
    // cell centroids: exact-decimal per-dimension means (the ivfTopK fit)
    val cent = corpus
      .select(cellExpr(col(vecCol)).as("__cell"), posexplode(col(vecCol)).as(Seq("__i", "__x")))
      .groupBy("__cell", "__i")
      .agg((sum(col("__x").cast(DecimalType(27, 10))).cast("double") / count(lit(1))).as("__m"))
      .groupBy("__cell").agg(array_sort(collect_list(struct(col("__i"), col("__m")))).as("__ims"))
      .select(col("__cell"), transform(col("__ims"), s => s.getField("__m")).as("__centroid"))
    // nProbe nearest cells per query, 6-dp probe ranking with cell-id ties
    // (identical discipline to ivfTopK so the twins share a probe chain)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn"))
    val probes = q.crossJoin(broadcast(cent))
      .withColumn("__d", round(cosine(col("__qv"), col("__centroid")), 6))
      .withColumn("__pr", row_number().over(
        Window.partitionBy("query_id").orderBy(col("__d").desc, col("__cell"))))
      .where(col("__pr") <= nProbe)
      .select(col("query_id"), col("__qv"), col("__qn"), col("__cell"))
    val scored = broadcast(probes).join(coded, "__cell")
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("__num", pqAdcNumerator(col("__qv"), col("codes"), books, subDim))
      .withColumn("__cos",
        round(col("__num") / (col("__qn") * sqrt(col("__rn2"))), 6))
    pqRank(scored, k)
  }

  /** Semantic decontamination: flag corpus vectors whose embedding-space
    * cosine to ANY benchmark vector reaches `threshold` — the
    * embedding-side complement of [[Contamination]]'s n-gram overlap
    * guard. Paraphrased test-set leakage shares no 3-grams with the
    * benchmark but sits next to it in embedding space; this is the stage
    * that catches it (the embedding-similarity decontamination used by
    * recent open-data efforts alongside exact n-gram matching).
    *
    * Shape mirrors [[Contamination.contaminationReport]] exactly, one level
    * up the representation stack: the benchmark side is SMALL (an eval
    * suite), so its banded sign-LSH rows broadcast; the corpus side
    * computes its own band buckets in a map-only pass and meets the
    * benchmark ONLY on (band, bucket) equality — never a cross join — then
    * candidates are verified with the exact cosine. Corpus vectors that
    * collide with no benchmark bucket never leave their partition. Same
    * md5-seeded hyperplanes as [[randomHyperplaneNearDupPairs]]
    * ([[planeComponent]]), so the report is engine-portable and
    * hash-gated. High-bit bands (default 8×8) are the right regime: the
    * benchmark occupies few buckets, and the corpus-side background
    * collision rate falls as 2^-bits.
    *
    * Output: one row per CONTAMINATED corpus vector —
    * (idCol, n_bench_hits = #benchmark vectors at ≥ threshold among LSH
    * candidates, max_cosine), the triage report. [[semanticDecontaminate]]
    * applies it as an anti-join.
    */
  def semanticContaminationReport(
      corpus: DataFrame, benchmark: DataFrame, threshold: Double, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bands: Int = 8, bitsPerBand: Int = 8): DataFrame = {
    val planes = Array.tabulate(bands * bitsPerBand, dim)(planeComponent)
    def banded(df: DataFrame, s: String) =
      df.select(col(idCol).as(s"id_$s"), col(vecCol).as(s"__v$s"),
          norm(col(vecCol)).as(s"__n$s"))
        .select(col(s"id_$s"), col(s"__v$s"), col(s"__n$s"),
          posexplode(signBucketArray(col(s"__v$s"), planes, bands, bitsPerBand))
            .as(Seq("__band", "__bkt")))
    // multi-band collisions of the same (corpus, bench) pair collapse via
    // distinct BEFORE the per-corpus-vector aggregation, so n_bench_hits
    // counts benchmark VECTORS, not band collisions; the cosine is
    // deterministic per pair (6-dp round), so distinct is exact
    banded(corpus, "a").join(broadcast(banded(benchmark, "b")), Seq("__band", "__bkt"))
      .withColumn("__cos",
        round(dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")), 6))
      .where(col("__cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("__cos"))
      .distinct()
      .groupBy(col("id_a").as(idCol))
      .agg(count(lit(1)).cast("long").as("n_bench_hits"),
        max(col("__cos")).as("max_cosine"))
  }

  /** The corpus minus every vector [[semanticContaminationReport]] flags —
    * an anti-join on the (small) flagged set, the same apply shape as
    * [[Contamination.decontaminate]].
    */
  def semanticDecontaminate(
      corpus: DataFrame, benchmark: DataFrame, threshold: Double, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bands: Int = 8, bitsPerBand: Int = 8): DataFrame =
    corpus.join(
      semanticContaminationReport(corpus, benchmark, threshold, dim, idCol, vecCol,
        bands, bitsPerBand).select(col(idCol)),
      Seq(idCol), "left_anti")
}
