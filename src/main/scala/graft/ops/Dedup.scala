package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines
  * (SURVEY.md §2.12 X1/X2). Catalyst built-ins plus the codegen'd
  * `graft_sig_agree` native expression — no UDFs — so every hot path stays
  * inside whole-stage codegen and scales by partitioning:
  *
  *  - exact dedup: one hash-aggregate shuffle on the normalized key;
  *  - MinHash+LSH: per-doc signatures via a single grouped aggregation
  *    (map-side partial agg), then a band-bucket self-join that only pairs
  *    candidates sharing a band — the O(n²) all-pairs join never happens;
  *  - SimHash: 64 bit-counters in one aggregation, near-dup = small hamming
  *    distance within LSH chunks;
  *  - n-gram Jaccard: exact verification via shingle equi-join (used to
  *    verify LSH candidates, or standalone at small scale / within blocks).
  */
object Dedup {

  /** Count of agreeing signature components (estimated Jaccard numerator)
    * via the codegen'd native expression — semantics identical to the
    * interpreted `aggregate(zip_with(...))` form it replaced (equal
    * non-null components count 1, everything else 0), so oracle hashes
    * are unchanged; the verify loop runs once per LSH candidate pair,
    * which made the interpreted per-element lambda dispatch the hottest
    * non-codegen span of the near-dup family.
    */
  private def sigAgree(a: Column, b: Column): Column =
    call_function("graft_sig_agree", a, b)

  /** Whitespace-collapsing, case-folding normalization used as the exact-dup
    * key (so formatting alone doesn't defeat dedup).
    */
  def normalizeText(c: Column): Column =
    regexp_replace(btrim(lower(c)), "\\s+", " ")

  /** Portable 60-bit hash: the first 15 hex chars of the md5 digest as a
    * long. Reproducible in ANY engine with md5 + hex→int (DuckDB:
    * `('0x' || substr(md5(x),1,15))::BIGINT`) — used wherever a hash value
    * is part of checked OUTPUT, so results stay engine-independent.
    * (xxhash64 remains in use for internal join/bucket keys where only
    * equality matters.)
    */
  def md5Hash60(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Portable 32-bit hash slice: hex chars [off, off+8) of md5 as a long in
    * [0, 2^32). `off` is 1-based; off=1 and off=9 give two independent
    * halves of the digest.
    */
  def md5Hash32(c: Column, off: Int): Column = conv(substring(md5(c), off, 8), 16, 10).cast("long")

  /** X1: exact dedup — keep the smallest id per normalized key.
    * One shuffle (hash aggregate), map-side combine for free.
    */
  def exact(df: DataFrame, idCol: String, keyCol: Column): DataFrame =
    df.groupBy(keyCol.as("dedup_key"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("dup_count"))

  /** Distinct word n-gram shingles of a text column, as an array column.
    * `sequence`+`transform`+`slice` — generated code, no UDF.
    *
    * NOTE: higher-order lambdas are interpreted (not codegen'd) and do NOT
    * share subexpressions — referencing an expensive expression (regexp
    * normalization, split) from inside the lambda re-evaluates it per
    * element. Always stage through [[explodedShingles]] in pipelines; this
    * Column form is for already-materialized `words` arrays.
    */
  def shinglesOfWords(words: Column, n: Int): Column =
    array_distinct(
      when(size(words) >= n,
        transform(sequence(lit(0), size(words) - n),
          i => concat_ws(" ", slice(words, i + 1, lit(n)))))
      .otherwise(array(concat_ws(" ", words))))

  def wordShingles(text: Column, n: Int): Column =
    shinglesOfWords(filter(split(normalizeText(text), " "), w => length(w) > 0), n)

  /** (id, shingle) rows with the word array materialized in its own
    * projection first, so normalization/split run once per document instead
    * of once per shingle inside the interpreted lambda.
    */
  def explodedShingles(df: DataFrame, idCol: String, text: Column, n: Int,
                       extraCols: Seq[String] = Nil): DataFrame =
    df.select(col(idCol) +: extraCols.map(col) :+
        filter(split(normalizeText(text), " "), w => length(w) > 0).as("__words"): _*)
      .select(col(idCol) +: extraCols.map(col) :+
        explode(shinglesOfWords(col("__words"), n)).as("__sh"): _*)

  /** Modulus for the portable universal-hash permutation family: the
    * Mersenne prime 2^31-1. 31-bit minhash values are the standard working
    * size (collision odds per permutation ~ #shingles/2^31 — immaterial for
    * similarity ESTIMATION, which only counts component agreement).
    */
  val MinhashP: Long = 2147483647L

  /** Permutation-i coefficients for h_i(x) = (a_i*x + b_i) mod p —
    * fixed Knuth-style multipliers, a_i != 0. Both < 2^31, so a_i*x + b_i
    * stays < 2^62: no overflow under ANSI mode, portable to any engine
    * with 64-bit integer arithmetic.
    */
  def minhashPerm(i: Int): (Long, Long) =
    (((i + 1) * 2654435761L) % MinhashP, ((i + 1) * 40503L + 7) % MinhashP)

  /** MinHash signatures over pre-exploded (id, __sh) rows: for each of
    * `numPerm` hash permutations, the min over the document's shingles.
    * Returns (idCol, sig: array<long>[numPerm]).
    *
    * The shingle is hashed ONCE with the portable md5-based base hash; each
    * permutation is an affine transform (a_i*x+b_i) mod p of that base —
    * the classic universal-hash MinHash. String bytes are scanned once per
    * shingle (not numPerm times) and every signature component is
    * reproducible outside Spark, so the whole operator is oracle-checkable.
    */
  def minhashSignaturesExploded(exploded: DataFrame, idCol: String, numPerm: Int): DataFrame =
    minhashSignaturesFromHashed(
      exploded.select(col(idCol), (md5Hash60(col("__sh")) % MinhashP).as("__x")),
      idCol, numPerm)

  /** Signature aggregation over already-hashed (id, __x) rows, x in [0, p).
    * One shuffle keyed by id with map-side partial aggregation.
    *
    * Physical form (round 8): gather the doc's hashes with ONE
    * `collect_list` and run the k·n affine-min loop inside the native
    * [[graft.functions.MinhashSignature]] expression — measured 6× faster
    * than the previous 64-parallel-`min`-aggregates plan at 50k docs
    * (18.0 s → 2.95 s; the wide agg paid a 64-column min buffer per group
    * and 64 separate agg-expression evaluations per gram row). Values are
    * BIT-IDENTICAL (min is order-insensitive, the affine family is the
    * same), so oracle hashes and every downstream banding are unchanged.
    * The per-group list buffer is bounded by the doc's shingle count —
    * the same array the map side already materialized to explode.
    */
  def minhashSignaturesFromHashed(hashed: DataFrame, idCol: String, numPerm: Int): DataFrame = {
    hashed.groupBy(col(idCol)).agg(collect_list(col("__x")).as("__xs"))
      .select(col(idCol),
        call_function("graft_minhash_sig", col("__xs"), lit(numPerm)).as("sig"))
  }

  /** LSH banding: candidate pairs sharing at least one of `bands` bands of
    * `rowsPerBand` signature components. Self-join keyed on
    * (band index, band hash) — only true candidates meet.
    */
  def lshCandidatePairs(sigs: DataFrame, idCol: String, bands: Int, rowsPerBand: Int): DataFrame = {
    val l = bandedKeys(sigs, idCol, "id_a", bands, rowsPerBand)
    val r = bandedKeys(sigs, idCol, "id_b", bands, rowsPerBand)
    l.join(r, Seq("band", "bandHash")).where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** X2 end-to-end: MinHash+LSH near-duplicate pairs with the estimated
    * Jaccard similarity (fraction of agreeing signature components),
    * thresholded. Deterministic given the data (hash seeds are fixed).
    *
    * The signature table is persisted (memory-and-disk): it is consumed
    * four times downstream (two banding sides, two verify sides) and Spark
    * does not reuse the exchange across the self-join aliases — without the
    * persist the whole shingle-explode + md5 + 64-min-agg pipeline executes
    * 4x (measured 2.4s -> 1.1s at sf0.1). At 100 TB the signature table is
    * ~500 bytes/doc — 3 orders of magnitude smaller than the corpus — and
    * materializing it once is exactly what a production near-dup pass does.
    * The persist is registered with [[OpCaches]]; the caller releases it via
    * `OpCaches.release()` after the consuming action.
    */
  def minhashNearDupPairs(
      df: DataFrame, idCol: String, text: Column,
      shingleLen: Int = 3, numPerm: Int = 64, bands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    // same guard as the streaming twin: a non-dividing bands count would
    // silently band empty/truncated signature slices — rowsPerBand = 0
    // degenerates every band to ONE bucket (an all-pairs self-join)
    require(bands > 0 && numPerm % bands == 0,
      s"numPerm ($numPerm) must divide into bands ($bands)")
    val rowsPerBand = numPerm / bands
    val sigs = OpCaches.pin(minhashSignaturesExploded(
      explodedShingles(df, idCol, text, shingleLen), idCol, numPerm))
    val pairs = lshCandidatePairs(sigs, idCol, bands, rowsPerBand)
    val sa = sigs.select(col(idCol).as("id_a"), col("sig").as("__siga"))
    val sb = sigs.select(col(idCol).as("id_b"), col("sig").as("__sigb"))
    pairs.join(sa, "id_a").join(sb, "id_b")
      .withColumn("est_jaccard",
        sigAgree(col("__siga"), col("__sigb")).cast("double") / numPerm)
      .where(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 6).as("est_jaccard"))
  }

  /** The banded (band, bandHash) rows of a signature table — the LSH key
    * both self-join and bipartite candidate generation meet on. */
  private def bandedKeys(sigs: DataFrame, idCol: String, outId: String,
                         bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(
      col(idCol).as(outId),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(b, slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))).as(Seq("band", "bandHash")))

  /** Incremental near-dup admission — the daily-shard workflow at corpus
    * scale: an INCOMING batch is screened against a FROZEN existing corpus
    * (plus itself) and each incoming doc gets an admission verdict, without
    * ever re-deduplicating the corpus. Candidates meet on MinHash band
    * equality in a bipartite incoming↔corpus equi-join — the corpus side is
    * arbitrarily large (it is NOT broadcast; both sides shuffle on the band
    * key, ~500 bytes/doc of signature, never the text) — and are verified
    * by the agreeing-components estimate, exactly like the self-join form
    * ([[minhashNearDupPairs]]).
    *
    * Verdicts: `corpus_dup` (≥ threshold vs some corpus doc), `batch_dup`
    * (≥ threshold vs a LOWER-ID incoming doc — the keep-min discipline of
    * the batch dedup family, non-cascading so admission is per-doc
    * deterministic), `admitted` = neither.
    *
    * Output: (idCol, corpus_dup, batch_dup, admitted), one row per incoming
    * doc.
    */
  def incrementalNearDupAdmit(
      incoming: DataFrame, corpus: DataFrame, idCol: String, text: Column,
      shingleLen: Int = 3, numPerm: Int = 64, bands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    require(bands > 0 && numPerm % bands == 0,
      s"numPerm ($numPerm) must divide into bands ($bands)")
    val rowsPerBand = numPerm / bands
    // one signature pass per side; the same deterministic hash family on
    // both, so a doc's signature is identical whichever side it sits on
    val sigsInc = OpCaches.pin(minhashSignaturesExploded(
      explodedShingles(incoming, idCol, text, shingleLen), idCol, numPerm))
    val sigsCor = OpCaches.pin(minhashSignaturesExploded(
      explodedShingles(corpus, idCol, text, shingleLen), idCol, numPerm))
    def estOf(a: Column, b: Column) =
      sigAgree(a, b).cast("double") / numPerm
    // bipartite candidates: incoming meets corpus on the band key only
    val candIC = bandedKeys(sigsInc, idCol, "__id_i", bands, rowsPerBand)
      .join(bandedKeys(sigsCor, idCol, "__id_c", bands, rowsPerBand), Seq("band", "bandHash"))
      .select("__id_i", "__id_c").distinct()
    val corpusDup = candIC
      .join(sigsInc.select(col(idCol).as("__id_i"), col("sig").as("__si")), "__id_i")
      .join(sigsCor.select(col(idCol).as("__id_c"), col("sig").as("__sc")), "__id_c")
      .where(estOf(col("__si"), col("__sc")) >= threshold)
      .select(col("__id_i")).distinct()
    // within-batch: self-join candidates, keep-min — a doc is a batch dup
    // iff it verifies against ANY lower-id incoming doc
    val candII = lshCandidatePairs(sigsInc, idCol, bands, rowsPerBand)
    val batchDup = candII
      .join(sigsInc.select(col(idCol).as("id_a"), col("sig").as("__sa")), "id_a")
      .join(sigsInc.select(col(idCol).as("id_b"), col("sig").as("__sb")), "id_b")
      .where(estOf(col("__sa"), col("__sb")) >= threshold)
      .select(col("id_b").as("__id_i")).distinct()
    incoming.select(col(idCol))
      .join(corpusDup.withColumn("__cd", lit(true)), col(idCol) === col("__id_i"), "left")
      .drop("__id_i")
      .join(batchDup.withColumn("__bd", lit(true)), col(idCol) === col("__id_i"), "left")
      .drop("__id_i")
      .select(col(idCol),
        coalesce(col("__cd"), lit(false)).as("corpus_dup"),
        coalesce(col("__bd"), lit(false)).as("batch_dup"),
        (coalesce(col("__cd"), lit(false)) === false &&
         coalesce(col("__bd"), lit(false)) === false).as("admitted"))
  }

  /** X2b: 64-bit SimHash of a token multiset: per bit, sign of the sum of
    * (+1 / -1) votes from each token hash. 64 counters in one grouped
    * aggregation; near-dups have small hamming distance.
    *
    * Token bits come from the md5 digest (two portable 32-bit halves), so
    * the simhash VALUE is engine-independent and oracle-checkable — not an
    * artifact of Spark's internal xxhash64.
    */
  def simhash64(df: DataFrame, idCol: String, tokens: Column): DataFrame = {
    // physical form (round 8): one collect_list + the native vote loop
    // (graft_simhash) replaces 64 parallel conditional-sum aggregates —
    // bit-identical values (votes are order-insensitive), same rewrite
    // class as minhashSignaturesFromHashed
    df.select(col(idCol), explode(tokens).as("__tok"))
      .select(col(idCol), array(md5Hash32(col("__tok"), 1), md5Hash32(col("__tok"), 9)).as("__ws"))
      .groupBy(col(idCol)).agg(collect_list(col("__ws")).as("__wss"))
      .select(col(idCol),
        call_function("graft_simhash", flatten(col("__wss")), lit(2)).as("__p"))
      .select(col(idCol),
        (element_at(col("__p"), 1) + shiftleft(element_at(col("__p"), 2), 32)).as("simhash"))
  }

  /** SimHash near-dup pairs: LSH over `maxHamming + 1` bit chunks — the
    * pigeonhole guarantee (a pair within the hamming bound must agree on
    * at least one chunk) holds for ANY bound when the chunk count exceeds
    * it, not just the classic 4×16 split (which is exactly what
    * maxHamming = 3, the default and the registered query's form, yields).
    * Candidates are verified with `bit_count(xor)`, so precision is exact;
    * more chunks = coarser buckets = more candidates, the usual LSH trade.
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, tokens: Column, maxHamming: Int = 3): DataFrame =
    hamming64NearDupPairs(simhash64(df, idCol, tokens), idCol, "simhash", maxHamming)

  /** X2b-128: 128-bit SimHash — the wide-fingerprint scale path the
    * [[hamming64NearDupPairs]] regime note prescribes: holding 16-bit
    * chunk keys (the occupancy that stays linear past 10^7 docs) at a
    * Hamming bound of 7 needs 8 chunks × 16 bits = 128 fingerprint bits,
    * which a 64-bit hash cannot provide. Same construction as
    * [[simhash64]] — per bit, sign of the ±1 token votes — over all four
    * portable 32-bit words of the md5 digest, so the value is
    * engine-independent and oracle-checkable. Output: (id, simhash_hi,
    * simhash_lo) — bits 64..127 and 0..63 as two LONGs.
    */
  def simhash128(df: DataFrame, idCol: String, tokens: Column): DataFrame = {
    // same one-collect_list + native-vote-loop physical form as
    // [[simhash64]]; word packs assemble as lo = w0|w1<<32, hi = w2|w3<<32
    // (bit i lives in word i/32 at position i%32, exactly the previous
    // 128-aggregate layout)
    df.select(col(idCol), explode(tokens).as("__tok"))
      .select(col(idCol), array(
        md5Hash32(col("__tok"), 1), md5Hash32(col("__tok"), 9),
        md5Hash32(col("__tok"), 17), md5Hash32(col("__tok"), 25)).as("__ws"))
      .groupBy(col(idCol)).agg(collect_list(col("__ws")).as("__wss"))
      .select(col(idCol),
        call_function("graft_simhash", flatten(col("__wss")), lit(4)).as("__p"))
      .select(col(idCol),
        (element_at(col("__p"), 3) + shiftleft(element_at(col("__p"), 4), 32)).as("simhash_hi"),
        (element_at(col("__p"), 1) + shiftleft(element_at(col("__p"), 2), 32)).as("simhash_lo"))
  }

  /** Banded Hamming self-join over (id, hi, lo) 128-bit fingerprints —
    * the wide twin of [[hamming64NearDupPairs]] and the documented path
    * for Hamming bounds above 3 at corpus scale: the chunk width is the
    * largest power of two giving at least `maxHamming + 1` chunks
    * (maxHamming = 7 → 8 chunks × 16 bits — the same 2^16-value keys the
    * scale-safe 64-bit form uses at bound 3, now guaranteeing recall 1 up
    * to distance 7). More chunks than the pigeonhole minimum only
    * improves recall headroom; chunks never straddle the word boundary
    * (width divides 64), so extraction is one shift+mask per chunk.
    * Verification is `bit_count(xor(hi)) + bit_count(xor(lo))` — exact
    * precision, 24 bytes/doc shuffle.
    */
  def hamming128NearDupPairs(hashes: DataFrame, idCol: String,
                             hiCol: String, loCol: String,
                             maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming ($maxHamming) out of range")
    var width = 64
    while (width * (maxHamming + 1) > 128) width /= 2
    require(width >= 1, s"maxHamming ($maxHamming) too large for 128 bits")
    val nChunks = 128 / width
    val sh = OpCaches.pin(hashes.select(col(idCol), col(hiCol), col(loCol)))
    val mask = if (width >= 64) lit(-1L) else lit((1L << width) - 1)
    val chunkVals = array((0 until nChunks).map { ci =>
      val lo = ci * width
      val src = if (lo < 64) col(loCol) else col(hiCol)
      shiftrightunsigned(src, lo % 64).bitwiseAND(mask)
    }: _*)
    val chunked = sh.select(col(idCol), col(hiCol), col(loCol),
      posexplode(chunkVals).as(Seq("chunk", "chunkVal")))
    val l = chunked.select(col(idCol).as("id_a"), col(hiCol).as("__ha"),
      col(loCol).as("__la"), col("chunk"), col("chunkVal"))
    val r = chunked.select(col(idCol).as("id_b"), col(hiCol).as("__hb"),
      col(loCol).as("__lb"), col("chunk"), col("chunkVal"))
    l.join(r, Seq("chunk", "chunkVal")).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (bit_count(col("__ha").bitwiseXOR(col("__hb"))) +
         bit_count(col("__la").bitwiseXOR(col("__lb")))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Banded Hamming self-join over ANY (id, 64-bit hash) table — the LSH
    * core of [[simhashNearDupPairs]], factored out so other 64-bit
    * perceptual fingerprints (image dHash, [[Multimodal.ppmDHash]]; audio
    * energy hash, [[Multimodal.wavEnergyHash]]) reuse the identical plan.
    * Chunking into `maxHamming + 1` bit ranges gives the pigeonhole
    * guarantee (recall 1: a pair within the bound must agree on ≥ 1
    * chunk); `bit_count(xor)` verification makes precision exact. The
    * hash table is pinned — both chunked join sides re-derive it, and it
    * is ~16 bytes/doc (caller releases via OpCaches).
    *
    * SCALE REGIME (measured, round 8): candidate volume is
    * Σ_buckets C(occupancy, 2) with expected occupancy N / 2^(64/(m+1))
    * for near-uniform hashes, so the join stays linear only while the
    * corpus is small against the per-chunk key space. m = 8 (9 chunks,
    * ~7 bits, 128 values) saturates in the hundreds of thousands —
    * measured ~10^10 candidates at 500 k docs, a >20-minute stage where
    * m = 3 takes seconds. m = 3 (the classic 4×16 split of Manku et al.,
    * WWW '07 — the bound used for 64-bit fingerprints at web scale) keeps
    * 2^16-value chunks and holds linear past 10^7 docs; the registered
    * image/audio pair queries use it. Raise the bound only together with
    * a wider fingerprint (128-bit → 16-bit chunks at m = 7) or an extra
    * exact-prefilter stage — never on a 64-bit hash at corpus scale.
    */
  def hamming64NearDupPairs(hashes: DataFrame, idCol: String, hashCol: String,
                            maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming ($maxHamming) out of range for a 64-bit hash")
    val nChunks = maxHamming + 1
    val sh = OpCaches.pin(hashes.select(col(idCol), col(hashCol)))
    if (maxHamming == 0) {
      // bound-0 fast path (r17): one chunk means the banded join IS a plain
      // equi-join on the full hash, the posexplode is a 1-element identity,
      // and — with the operator's fingerprint contract of one row per id —
      // every qualifying pair meets exactly once, so the post-join
      // `.distinct()` exchange is a no-op and is skipped (pair lists can
      // exceed the input quadratically inside equal-hash groups, so the
      // saved exchange is the largest in the pipeline). Same rows, same
      // columns, hamming pinned 0 by the join predicate.
      val l = sh.select(col(idCol).as("id_a"), col(hashCol).as("__sa"))
      val r = sh.select(col(idCol).as("id_b"), col(hashCol).as("__sb"))
      return l.join(r, col("__sa") === col("__sb") && col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          bit_count(col("__sa").bitwiseXOR(col("__sb"))).as("hamming"))
    }
    val chunkVals = array((0 until nChunks).map { ci =>
      val lo = ci * 64 / nChunks
      val width = (ci + 1) * 64 / nChunks - lo
      val mask = if (width >= 64) lit(-1L) else lit((1L << width) - 1)
      shiftrightunsigned(col(hashCol), lo).bitwiseAND(mask)
    }: _*)
    val chunked = sh.select(col(idCol), col(hashCol),
      posexplode(chunkVals).as(Seq("chunk", "chunkVal")))
    val l = chunked.select(col(idCol).as("id_a"), col(hashCol).as("__sa"), col("chunk"), col("chunkVal"))
    val r = chunked.select(col(idCol).as("id_b"), col(hashCol).as("__sb"), col("chunk"), col("chunkVal"))
    l.join(r, Seq("chunk", "chunkVal")).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("__sa").bitwiseXOR(col("__sb"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** X2c at scale: exact n-gram Jaccard restricted to MinHash-LSH candidate
    * pairs — the 100 TB formulation of near-dup detection. The quadratic
    * hot-shingle self-join of [[ngramJaccardPairs]] never happens: candidate
    * generation is the banded LSH join (only docs agreeing on a full band
    * meet), and exact verification is a per-pair set intersection of hashed
    * shingle ARRAYS carried by two linear id-keyed joins.
    *
    * Plan shape: one explode+md5 pass -> per-doc shingle-hash set (persisted;
    * ~8 bytes/shingle, orders of magnitude smaller than the text) -> 64-perm
    * signatures from the re-exploded sets -> banded candidates -> two joins
    * on id to attach the sets -> array_intersect. Every join key is an id or
    * a band hash; no key's fan-out depends on shingle frequency, so one hot
    * trigram cannot pin a reducer.
    *
    * Recall is the LSH recall (1-(1-J^r)^b; ~64% at J=0.5 with 16x4, ->1 as
    * J->1); precision is exact. Fully portable (md5 base hash) — the DuckDB
    * oracle mirrors both stages.
    */
  def lshVerifiedJaccardPairs(
      df: DataFrame, idCol: String, text: Column,
      shingleLen: Int = 3, numPerm: Int = 64, bands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    val hashed = explodedShingles(df, idCol, text, shingleLen)
      .select(col(idCol), (md5Hash60(col("__sh")) % MinhashP).as("__x"))
    // per-doc set of hashed shingles: the single pass over the text; both
    // the signatures and the verification sets derive from it
    val sets = OpCaches.pin(
      hashed.groupBy(col(idCol)).agg(collect_set(col("__x")).as("__set")))
    val sigs = minhashSignaturesFromHashed(
      sets.select(col(idCol), explode(col("__set")).as("__x")), idCol, numPerm)
    val pairs = lshCandidatePairs(sigs, idCol, bands, numPerm / bands)
    val a = sets.select(col(idCol).as("id_a"), col("__set").as("__seta"))
    val b = sets.select(col(idCol).as("id_b"), col("__set").as("__setb"))
    pairs.join(a, "id_a").join(b, "id_b")
      .withColumn("__c", size(array_intersect(col("__seta"), col("__setb"))))
      .withColumn("jaccard",
        col("__c").cast("double") / (size(col("__seta")) + size(col("__setb")) - col("__c")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** X2c: exact n-gram Jaccard similarity of all pairs sharing >=1 shingle,
    * via shingle equi-join + count ratio. Exact but quadratic in the worst
    * case — at scale use it only to verify LSH candidates or inside blocks
    * (pass `blockCols` to co-partition, e.g. language).
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, text: Column,
      shingleLen: Int = 3, threshold: Double = 0.2,
      blockCols: Seq[String] = Nil): DataFrame = {
    val sh = explodedShingles(df, idCol, text, shingleLen, blockCols)
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    // join on the 64-bit shingle hash, not the string: smaller shuffle keys
    // (collision risk ~n²/2^65 — immaterial at any realistic shingle count)
    val shh = sh.withColumn("__shh", xxhash64(col("__sh"))).drop("__sh")
    val joinKeys = "__shh" +: blockCols
    val l = shh.select(col(idCol).as("id_a") +: joinKeys.map(col): _*)
    val r = shh.select(col(idCol).as("id_b") +: joinKeys.map(col): _*)
    val inter = l.join(r, joinKeys).where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("__c"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("__n").as("__na")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("__n").as("__nb")), "id_b")
      .withColumn("jaccard", col("__c").cast("double") / (col("__na") + col("__nb") - col("__c")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** X1sub: exact substring-span dedup — the k-gram approximation of
    * suffix-array substring deduplication (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499 §3):
    * find every maximal token span whose every k-token window occurs more
    * than once in the corpus. A span duplicated verbatim anywhere (inside
    * one doc or across docs) is covered wall to wall by duplicated
    * k-grams, so merging overlapping duplicated windows per document
    * recovers the maximal duplicated regions the suffix array would
    * report, at window resolution.
    *
    * Shape (all linear, no pair joins): one posexplode of k-token windows
    * with the portable 60-bit gram hash; one count aggregate keyed by the
    * hash (map-side combine bounds hot grams — a gram repeated a billion
    * times costs one counter per map partition, never a joined fan-out);
    * the >1 filter joined back on the hash; one per-doc window pass doing
    * classic island merging (a window starts a new island when its start
    * position clears every previous window's end). Output:
    * (idCol, span_start, span_end, span_tokens), positions 1-based over
    * the normalized-token sequence.
    */
  def substringSpans(df: DataFrame, idCol: String, text: Column, k: Int = 10): DataFrame = {
    require(k >= 2, s"window length k must be >= 2, got $k")
    // posexplode sits DIRECTLY over the staged words projection (a
    // Generate): a plain intermediate Project would collapse into the
    // staging one and inline the split/normalize into the interpreted
    // lambda — re-evaluated once PER WINDOW (measured 17.7s -> 2.7s at
    // sf0.1; the explodedShingles shape)
    //
    // Pinned (r16): the gram stream feeds BOTH the duplicate-count
    // aggregate and the join-back — unpinned, the normalize + window
    // explode + md5 pass (the operator's dominant cost) executed twice.
    // The pinned rows are (id, pos, hash) — ~24 bytes/window, far below
    // the text they derive from (the SetJoin toksF precedent); caller
    // releases via OpCaches like every operator-internal persist.
    val grams = OpCaches.pin(df
      .select(col(idCol), filter(split(normalizeText(text), " "), w => length(w) > 0).as("__words"))
      .select(col(idCol), posexplode(shinglesOfWordsAll(col("__words"), k)).as(Seq("__p0", "__sh")))
      .select(col(idCol), (col("__p0") + 1).cast("long").as("__p"),
        (md5Hash60(col("__sh")) % MinhashP).as("__x")))
    val dupGrams = grams.groupBy(col("__x")).agg(count(lit(1)).as("__c"))
      .where(col("__c") > 1).select(col("__x"))
    val hits = grams.join(dupGrams, "__x")
      .select(col(idCol), col("__p").as("__s"), (col("__p") + k - 1).as("__e"))
    // island merge: windows sorted by start; a row opens a new island when
    // its start clears the running max end of ALL previous rows + 1
    // (adjacency merges: [1,5] and [6,9] are one span of contiguous tokens)
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("__s"), col("__e"))
    val prevMax = max(col("__e")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val opened = hits
      .withColumn("__new", when(prevMax.isNull || col("__s") > prevMax + 1, 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
    opened.groupBy(col(idCol), col("__isl"))
      .agg(min(col("__s")).as("span_start"), max(col("__e")).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** The APPLY step of substring dedup: drop every token covered by a
    * duplicated span (the aggressive variant — all copies removed; the
    * keep-one-copy variant is [[exact]] composed over span text, a
    * different operator). Output: (idCol, n_tokens, n_removed, clean_text)
    * where clean_text re-joins the surviving tokens with single spaces
    * (already normalized — the registered query certifies it by md5).
    *
    * Shape: [[substringSpans]] + one per-doc span collection (spans per
    * doc are few and bounded by n_tokens/k) broadcast-shaped join back to
    * the corpus, then a per-row lambda filter over token positions. The
    * corpus text shuffles zero times: spans travel to the docs, not the
    * reverse.
    */
  def substringScrub(df: DataFrame, idCol: String, text: Column, k: Int = 10): DataFrame = {
    val spans = substringSpans(df, idCol, text, k)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start").as("s"), col("span_end").as("e"))).as("__spans"))
    val toks = df.select(col(idCol),
      filter(split(normalizeText(text), " "), w => length(w) > 0).as("__w"))
    toks.join(spans, Seq(idCol), "left")
      .select(col(idCol), col("__w"),
        coalesce(col("__spans"), array().cast("array<struct<s:long,e:long>>")).as("__sp"))
      // keep token at 1-based position p iff no span covers p
      .withColumn("__keep",
        filter(col("__w"), (w, i) =>
          !exists(col("__sp"), sp => i + 1 >= sp.getField("s") && i + 1 <= sp.getField("e"))))
      .select(col(idCol),
        size(col("__w")).cast("long").as("n_tokens"),
        (size(col("__w")) - size(col("__keep"))).cast("long").as("n_removed"),
        concat_ws(" ", col("__keep")).as("clean_text"))
  }

  /** Corpus-level overlap estimate — "how much does the incoming crawl
    * overlap the frozen corpus" as ONE row, before any per-doc screening
    * (Broder's original resemblance sketch applied at corpus granularity,
    * Broder SEQUENCES'97): the two corpora's distinct-shingle sets are
    * compared by (a) a corpus-level MinHash signature — per permutation
    * the min hash over ALL of a corpus's shingles, component agreement
    * estimating the shingle-set Jaccard — and (b) the exact hash-set
    * Jaccard, emitted alongside so the estimate's error is part of the
    * report. The universe is the hashed shingle space (same convention as
    * per-doc MinHash estimation).
    *
    * Scale shape: each side is one linear shingle pass. The signature is
    * ONE global aggregate whose map-side partials are numPerm longs per
    * partition (min is associative — the reduce sees bytes); the exact
    * part is one count agg keyed by the 60-bit shingle hash (map-side
    * combined) plus a scalar agg. Nothing joins at corpus scale; at
    * 100 TB the exact columns are the part to drop first, the signature
    * costs nothing. Output: one row (n_perm, est_jaccard, exact_jaccard,
    * n_shingles_a, n_shingles_b, n_common).
    */
  /** Hashed shingle stream of a corpus: one `__x` row per k-gram
    * occurrence, in the MinHash base-hash space. Shared by
    * [[corpusOverlapEstimate]] and the streaming signature
    * ([[graft.streaming.StreamingCorpusOverlap]]) so the two sketches hash
    * identically.
    */
  private[graft] def corpusShingleHashes(df: DataFrame, idCol: String, text: Column,
                                         shingleLen: Int): DataFrame =
    explodedShingles(df, idCol, text, shingleLen)
      .select((md5Hash60(col("__sh")) % MinhashP).as("__x"))

  /** The corpus-level signature aggregates: per permutation, the min over
    * a `__x` column — valid as a batch or (complete-mode) streaming global
    * aggregate, since min is append-monotone. Shared for the same reason.
    */
  private[graft] def corpusSigAggs(numPerm: Int, pref: String): Seq[Column] =
    (0 until numPerm).map { i =>
      val (p, q) = minhashPerm(i)
      min((lit(p) * col("__x") + lit(q)) % MinhashP).as(s"$pref$i")
    }

  def corpusOverlapEstimate(a: DataFrame, b: DataFrame, idCol: String, text: Column,
                            shingleLen: Int = 3, numPerm: Int = 64): DataFrame = {
    require(numPerm > 0, s"numPerm must be positive: $numPerm")
    val ha = corpusShingleHashes(a, idCol, text, shingleLen)
    val hb = corpusShingleHashes(b, idCol, text, shingleLen)
    def sig(h: DataFrame, pref: String): DataFrame = {
      val aggs = corpusSigAggs(numPerm, pref)
      h.agg(aggs.head, aggs.tail: _*)
    }
    val flags = ha.withColumn("__ia", lit(1)).withColumn("__ib", lit(0))
      .unionByName(hb.withColumn("__ia", lit(0)).withColumn("__ib", lit(1)))
      .groupBy(col("__x"))
      .agg(max(col("__ia")).as("__fa"), max(col("__ib")).as("__fb"))
    val exact = flags.agg(
      sum(col("__fa")).cast("long").as("n_shingles_a"),
      sum(col("__fb")).cast("long").as("n_shingles_b"),
      sum(col("__fa") * col("__fb")).cast("long").as("n_common"))
    val agreeCnt = (0 until numPerm).map(i =>
      when(col(s"__a$i") === col(s"__b$i"), 1).otherwise(0)).reduce(_ + _)
    sig(ha, "__a").crossJoin(sig(hb, "__b")).crossJoin(exact)
      .select(
        lit(numPerm).as("n_perm"),
        round(agreeCnt.cast("double") / lit(numPerm.toDouble), 6).as("est_jaccard"),
        round(col("n_common").cast("double") /
          greatest(col("n_shingles_a") + col("n_shingles_b") - col("n_common"), lit(1L))
            .cast("double"), 6).as("exact_jaccard"),
        col("n_shingles_a"), col("n_shingles_b"), col("n_common"))
  }

  /** Per-document duplicated-gram fraction — the corpus diagnostic behind
    * substring dedup (Lee et al. arXiv:2107.06499 report duplicate-token
    * fractions to size the problem before deduplicating): for every doc,
    * what fraction of its k-token windows occur more than once in the
    * whole corpus (within-doc repeats included, matching
    * [[substringSpans]]'s duplicate definition — the two operators must
    * agree on what "duplicated" means or the report mis-sizes the scrub).
    * Docs carrying fewer than k tokens have zero windows and report 0.
    *
    * Shape (linear, no pair joins — the [[substringSpans]] skeleton minus
    * the island merge): one posexplode of hashed k-gram windows, one
    * count aggregate keyed by the 60-bit hash (map-side combine bounds
    * hot grams), the >1 set joined back on the hash, then one per-doc
    * count agg. Only (id, hash) pairs ever shuffle; text never does.
    *
    * Output: (idCol, n_grams, n_dup_grams, dup_fraction rounded 6), one
    * row per input doc.
    */
  def dupGramFraction(df: DataFrame, idCol: String, text: Column, k: Int = 10): DataFrame = {
    require(k >= 2, s"window length k must be >= 2, got $k")
    // posexplode DIRECTLY over the staged words projection (lambda-staging
    // rule — see substringSpans; collapsing the stages re-evaluates the
    // normalize/split once per window)
    //
    // Pinned (r16): consumed by the duplicate-count aggregate AND the
    // join-back — see the substringSpans pin note
    val grams = OpCaches.pin(df
      .select(col(idCol), filter(split(normalizeText(text), " "), w => length(w) > 0).as("__words"))
      .select(col(idCol), explode(shinglesOfWordsAll(col("__words"), k)).as("__sh"))
      .select(col(idCol), (md5Hash60(col("__sh")) % MinhashP).as("__x")))
    val dupGrams = grams.groupBy(col("__x")).agg(count(lit(1)).as("__c"))
      .where(col("__c") > 1).select(col("__x"), lit(1L).as("__dup"))
    val per = grams.join(dupGrams, Seq("__x"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__ng"), sum(coalesce(col("__dup"), lit(0L))).as("__ndup"))
    df.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__ng"), lit(0L)).as("n_grams"),
        coalesce(col("__ndup"), lit(0L)).as("n_dup_grams"),
        round(coalesce(col("__ndup"), lit(0L)).cast("double") /
          greatest(coalesce(col("__ng"), lit(0L)), lit(1L)).cast("double"), 6)
          .as("dup_fraction"))
  }

  /** ALL k-token windows of an already-MATERIALIZED words array
    * (position-preserving — NOT deduplicated like [[shinglesOfWords]];
    * substring spans need every position). Callers must stage the words
    * array in its own projection first (lambda-staging rule, file header).
    * Docs shorter than k tokens yield no windows: a span needs at least
    * one full window of evidence.
    */
  private[graft] def shinglesOfWordsAll(words: Column, k: Int): Column =
    when(size(words) >= k,
      transform(sequence(lit(0), size(words) - k), i => concat_ws(" ", slice(words, i + 1, lit(k)))))
      .otherwise(array().cast("array<string>"))
}
