package graft.ops

import graft.state.AtomicSwap
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Planner-facing statistics catalog — the artifact store that closes the
  * loop the sketch layer opened: [[Sketches.cmsJoinCardinality]] and
  * [[Sketches.hllPairOverlaps]] ESTIMATE join properties from sketches,
  * and [[graft.plans.SketchJoinPlanning]] CONSUMES the stored artifacts
  * to pick broadcast-vs-shuffle and join order for un-hinted equi-joins
  * — the lakehouse analogue of ANALYZE TABLE statistics, except the
  * stats are mergeable sketches, so they maintain incrementally like
  * every other store here.
  *
  * One catalog row per (table, key column):
  * `(table, key, n_rows, n_bytes, distinct_est, cms)` —
  *  - `table`: the parquet directory, NORMALIZED through its Hadoop
  *    FileSystem to the same qualified URI form a scan's
  *    `HadoopFsRelation.location.rootPaths` carries, so the optimizer
  *    rule can match leaf relations to catalog rows by string equality;
  *  - `n_rows` / `n_bytes`: exact row count and on-disk file bytes (the
  *    same size class Spark's own `sizeInBytes` uses for file sources);
  *  - `distinct_est`: HLL distinct-key estimate (broadcast-key sanity,
  *    fan-out = n_rows / distinct);
  *  - `cms`: a Count-Min sketch of the key, the pairwise join-cardinality
  *    oracle (`|A ⋈ B| ≈ cms_A · cms_B`, the AMS inner product) — the
  *    one statistic file sizes can NEVER give a planner.
  *
  * Harvest is TWO column-pruned passes over the key columns: one
  * aggregate computing every key's CMS/HLL sketches, plus one
  * Misra–Gries fold for the heavy-key candidates (r12 — the MG summary
  * is per-partition imperative state no builtin aggregate expresses;
  * folding it into the sketch aggregate is the known follow-up).
  * Geometry defaults (eps 1e-3 → width 2000, conf 0.99 → depth 5,
  * seed 42) make each cms ~80 KB — a catalog of a thousand tables is
  * MBs. All sketches in one catalog must share geometry/seed
  * or the inner product refuses (loudly, [[graft.functions.CmsCodec]]).
  *
  * Activation is explicit: [[activate]] loads the catalog parquet into a
  * driver-side registry and points the session conf
  * `spark.graft.sketchPlanning.catalog` at it. The rule reads ONLY the
  * in-memory registry — an optimizer rule must never run a nested Spark
  * query per plan it inspects.
  */
object SketchCatalog {

  val ConfKey = "spark.graft.sketchPlanning.catalog"
  val BroadcastBytesKey = "spark.graft.sketchPlanning.broadcastBytes"

  /** Probe-key-overlap fraction at or under which the planning rule
    * injects a Bloom runtime filter on the probe side (default 0.5 —
    * inject only when the artifact says at least half the probe keys
    * cannot match).
    */
  val RuntimeFilterSelectivityKey = "spark.graft.sketchPlanning.runtimeFilterSelectivity"

  /** Build-side distinct-key cap for runtime-filter injection (default
    * 4M keys ≈ 4 MB filter at fpp 1% — the bounded-artifact class).
    */
  val RuntimeFilterMaxKeysKey = "spark.graft.sketchPlanning.runtimeFilterMaxKeys"

  /** Build-side distinct-key cap for DYNAMIC FILE PRUNING
    * ([[graft.plans.DynamicFilePruning]]): above this many catalogued
    * distinct build keys the pass declines (collecting them at plan time
    * would cost more than the listing saves). 0 disables the pass.
    * Default 64k — pruning wants far fewer keys than a runtime filter
    * tolerates, because the keys are COLLECTED to the driver and priced
    * against every manifest file, not just hashed into a Bloom.
    */
  val DynamicPruneMaxKeysKey = "spark.graft.sketchPlanning.dynamicPruneMaxKeys"

  /** Audit-store path [[activate]] consults to close the planner
    * feedback loop ([[PlannerAudit]]): entries whose CMS fingerprint
    * appears on ≥ [[AuditDemoteAfterKey]] recorded contract-violating
    * audits are DEMOTED — no reorder / broadcast / skew / semi-order
    * decisions from them (the runtime-filter pass stays allowed: a
    * Bloom pre-filter is result-safe, so even a lying artifact can only
    * cost speed there). Unset = no demotion (the pre-r13 behavior).
    */
  val AuditStoreKey = "spark.graft.sketchPlanning.auditStore"

  /** Violating-audit count at or above which an artifact demotes
    * (default 3 — one bad audit can be a skewed sample of a join the
    * bound barely misses; three against the SAME bytes is a verdict).
    */
  val AuditDemoteAfterKey = "spark.graft.sketchPlanning.auditDemoteAfter"

  /** Heaviest-key row fraction at or above which the skew pass salts an
    * un-hinted shuffle join's skewed side (default 0.2 — a key pinning a
    * fifth of the table pins one reducer ~6× over the average at 32
    * partitions, and three orders of magnitude at cluster widths).
    */
  val SkewKeyFractionKey = "spark.graft.sketchPlanning.skewKeyFraction"

  /** Salt bucket count for the skew pass's salted-join rewrite (default
    * 8: the hot reducer's rows spread 8 ways; the replicated side pays
    * ×8 through its exchange, which the pass bounds by the probe side's
    * own bytes).
    */
  val SkewSaltBucketsKey = "spark.graft.sketchPlanning.skewSaltBuckets"

  /** Driver-side view of one catalog row. `hll` is the serialized
    * DataSketches HLL sketch of the key (the `hll_sketch_agg` binary) —
    * the KEY-OVERLAP oracle between two catalogued columns
    * (inclusion–exclusion over heapified sketches, the
    * [[Sketches.hllPairOverlaps]] estimate moved to plan time); null in
    * catalogs written before the column existed, in which case
    * overlap-driven decisions are skipped, never guessed. `heavy` is the
    * Misra–Gries CANDIDATE set of the key's heavy hitters (string form,
    * every key with frequency > n/[[HeavyK]] is guaranteed present) —
    * counts are deliberately NOT stored: the skew pass re-prices each
    * candidate against the stored CMS at plan time, so merged catalogs
    * stay exact (candidate sets union; a global heavy hitter is heavy in
    * at least one slice by the averaging argument) and the count bound
    * inherits the CMS's never-undercount contract.
    */
  final case class Entry(table: String, key: String, nRows: Long,
                         nBytes: Long, distinctEst: Double, cms: Array[Byte],
                         hll: Array[Byte] = null, heavy: Seq[String] = Nil)

  /** MG threshold for harvest-time heavy-key candidates: every key with
    * frequency > n/HeavyK survives the summary (the skew pass's own
    * firing threshold is far above 1/HeavyK, so recall is total).
    */
  val HeavyK = 16

  /** Estimated distinct-key overlap |A∩B| between two catalogued columns
    * from their stored HLL sketches alone (None when either is missing):
    * est(A) + est(B) − est(A∪B), the union via a driver-side DataSketches
    * merge — the artifacts are KBs, and an optimizer rule must never run
    * a nested Spark query. Error is bounded relative to |A∪B| (the
    * hllPairOverlaps contract), so consumers must treat small estimates
    * as "near zero", not exact.
    */
  def hllKeyOverlap(a: Entry, b: Entry): Option[Double] =
    if (a.hll == null || b.hll == null) None
    else try {
      import org.apache.datasketches.hll.{HllSketch, Union}
      val sa = HllSketch.heapify(a.hll)
      val sb = HllSketch.heapify(b.hll)
      val u = new Union(math.max(sa.getLgConfigK, sb.getLgConfigK))
      u.update(sa); u.update(sb)
      Some(math.max(0.0,
        sa.getEstimate + sb.getEstimate - u.getResult.getEstimate))
    } catch { case _: Exception => None }

  /** An activated catalog: table-level stats + per-(table, key) sketches.
    * Table-level numbers take the max-n_rows entry — the same latest-wins
    * convention [[activate]] applies per (table, key), so a table whose
    * keys were harvested at different times never exposes a stale (and
    * nondeterministically chosen) n_bytes to the broadcast pass.
    */
  final class Catalog(val entries: Seq[Entry],
                      val demoted: Set[(String, String)] = Set.empty)
      extends Serializable {
    val byTable: Map[String, Entry] = entries.groupBy(_.table).map {
      case (t, es) => t -> es.maxBy(_.nRows)
    }
    val byTableKey: Map[(String, String), Entry] =
      entries.map(e => (e.table, e.key) -> e).toMap
    /** Tables with ANY demoted key: their table-level stats (n_bytes /
      * n_rows) were harvested in the same pass as the impugned sketch,
      * so byte-driven broadcast decisions decline them too.
      */
    val demotedTables: Set[String] = demoted.map(_._1)
    /** Is this entry still allowed to drive reorder/broadcast/skew
      * decisions? (The runtime-filter pass deliberately does NOT
      * consult this — a Bloom pre-filter is result-safe.)
      */
    def trusted(e: Entry): Boolean = !demoted((e.table, e.key))
  }

  /** Inflation applied to an HLL distinct estimate before it bounds a
    * GROUP BY's output rows — the sketch is an estimate (±2% typical at
    * the harvest precision) and the consumers' contract is
    * never-understate.
    */
  val HllRowSafety = 1.2

  /** HLL-derived upper bound on `GROUP BY cols`' output rows over a
    * catalogued table, with the entries the bound consumed (for audit
    * fingerprinting). NULL-AWARE: the stored HLLs skip nulls (Spark
    * aggregate semantics) while GROUP BY emits null groups, so each
    * column's contribution is `distinct × HllRowSafety + 1` (the null
    * group the sketch never counted) — without the +1 the bound
    * genuinely understates on nullable grouping columns, the exact
    * inversion of the never-understate contract (and the audit would
    * demote HONEST artifacts for it). Forms:
    *
    *  - single column: `d·s + 1`;
    *  - composite with a TUPLE artifact (the only estimate of the
    *    actual composite key — the tuple HLL counts all-non-null tuples
    *    only): `tupleD·s + (Π(dᵢ·s + 1) − Π(dᵢ·s))` — the second term
    *    bounds the groups carrying ≥ 1 null component, and needs the
    *    constituent singles (a tuple-only catalog falls through);
    *  - composite without: the product `Π(dᵢ·s + 1)` (exact upper bound
    *    on null-inclusive tuple distincts, before HLL error).
    *
    * All capped at the table's row count (group count ≤ rows, exact).
    * Shared by the planner's aggregate pricing
    * ([[graft.plans.SketchJoinPlanning]]) and [[PlannerAudit]]'s
    * aggregate audit so estimator and auditor cannot drift. None when
    * any needed artifact is missing, or when ANY of the table's keys is
    * demoted — the row-count cap rides the table-level stats, which the
    * demotion posture declines wholesale ([[Catalog.demotedTables]];
    * the table-wide gate subsumes per-entry trusted checks here).
    */
  def aggGroupBound(cat: Catalog, table: String,
                    cols: Seq[String]): Option[(Long, Seq[Entry])] = {
    val distinctCols = cols.distinct
    if (distinctCols.isEmpty || cat.demotedTables(table)) return None
    val s = HllRowSafety
    def entryOf(c: String): Option[Entry] = cat.byTableKey.get((table, c))
    def singles: Option[Seq[Entry]] = {
      val per = distinctCols.map(entryOf)
      if (per.exists(_.isEmpty)) None else Some(per.flatten)
    }
    val est: Option[(Double, Seq[Entry])] =
      if (distinctCols.size == 1)
        // same max(1, d) normalization as the composite branches below —
        // benign today (the result floors at 1), kept symmetric so
        // independent edits to either branch cannot drift (ADVICE r15)
        entryOf(distinctCols.head)
          .map(e => (math.max(1.0, e.distinctEst) * s + 1.0, Seq(e)))
      else {
        val tuple = cat.entries.iterator
          .filter(e => e.table == table && e.key.contains(","))
          .find { e =>
            val ks = e.key.split(",").toSeq
            ks.size == distinctCols.size && ks.toSet == distinctCols.toSet
          }
        val viaTuple = for { te <- tuple; ss <- singles } yield {
          val withNull = ss.foldLeft(1.0)((a, e) => a * (math.max(1.0, e.distinctEst) * s + 1.0))
          val nonNull = ss.foldLeft(1.0)((a, e) => a * (math.max(1.0, e.distinctEst) * s))
          (te.distinctEst * s + (withNull - nonNull), te +: ss)
        }
        viaTuple.orElse(singles.map(ss =>
          (ss.foldLeft(1.0)((a, e) => a * (math.max(1.0, e.distinctEst) * s + 1.0)), ss)))
      }
    for {
      (d, consumed) <- est
      te <- cat.byTable.get(table)
    } yield {
      val bounded = math.min(d, math.max(1L, te.nRows).toDouble)
      (math.max(1L, math.ceil(bounded).toLong), consumed)
    }
  }

  private val active = new java.util.concurrent.ConcurrentHashMap[String, Catalog]()

  /** The catalog dir `dir` normalized to the qualified-URI form leaf scans
    * carry in `rootPaths` — harvest and rule must agree on this form.
    */
  def normalizePath(spark: SparkSession, dir: String): String = {
    val p = new Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(p).toString
  }

  private val catalogSchema = StructType(Seq(
    StructField("table", StringType, nullable = false),
    StructField("key", StringType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("distinct_est", DoubleType, nullable = false),
    StructField("cms", BinaryType, nullable = true),
    StructField("hll", BinaryType, nullable = true),
    // Misra–Gries heavy-hitter CANDIDATE keys (string form) — see Entry
    StructField("heavy", ArrayType(StringType, containsNull = false),
      nullable = true),
    // store-convention marker: "full" rows are whole-table harvests
    // (latest-wins at activate), "delta" rows are harvestFiles slices
    // (summable only after compact). Stamped at harvest so activate can
    // REFUSE a delta store instead of silently loading one slice's
    // partial sketches — an understated cardinality is the one thing the
    // broadcast pass's never-understate posture cannot survive. Null in
    // catalogs written before the column existed (legacy: trusted as
    // full, the documented convention).
    StructField("convention", StringType, nullable = true)))

  val ConventionFull = "full"
  val ConventionDelta = "delta"

  /** Canonical value separator inside a composite-key (tuple) sketch:
    * the tuple's components are cast to string and concatenated with
    * this unit separator, in the tuple's DECLARED column order. A key
    * value that itself contains the separator can only make two distinct
    * tuples collide, and a CMS/HLL collision only ever OVERCOUNTS —
    * the safe direction for every consumer (broadcast stays
    * never-understated). Rows with ANY null component are excluded
    * (an equi-join never matches a null key), matching the join
    * semantics the tuple artifact prices.
    */
  val TupleSep = "\u0001"

  /** Catalog key name of a tuple entry: the declared column order,
    * comma-joined — `"o_custkey,o_orderdate"`. Order is load-bearing:
    * the planner must concatenate BOTH sides' values in pairwise-
    * corresponding order, so it matches a right tuple by permuting the
    * join pairs into the left entry's declared order (see
    * SketchJoinPlanning.tupleEntryPair).
    */
  def tupleKeyName(cols: Seq[String]): String = cols.mkString(",")

  /** The canonical tuple value column (string; null when any component
    * is null).
    */
  def tupleColumn(cols: Seq[String]): org.apache.spark.sql.Column =
    when(cols.map(col(_).isNotNull).reduce(_ && _),
      concat_ws(TupleSep, cols.map(c => col(c).cast("string")): _*))

  /** The canonical tuple STRING for literal values in declared order —
    * the form [[tupleColumn]] produces, for plan-time point bounds.
    */
  def tupleLiteral(values: Seq[String]): String = values.mkString(TupleSep)

  /** Harvest one table's planning artifacts (two column-pruned passes —
    * see the object scaladoc): one catalog row per key column.
    * `eps`/`confidence`/`seed` must match across every table whose
    * sketches will be inner-producted together.
    *
    * `tuples` declares COMPOSITE join keys to harvest alongside the
    * single columns: each becomes one catalog row keyed
    * [[tupleKeyName]] whose CMS/HLL/heavy artifacts are built over the
    * canonical [[tupleColumn]] string — the statistic a multi-column
    * equi-join needs. A single-column CMS prices a 2-column join by ONE
    * column's frequencies, which is never an undercount but routinely a
    * gross overcount (the per-column products count pairs the second
    * equality rejects); the tuple artifact prices the actual composite
    * key. Declare the tuples that match your join patterns, exactly as
    * you would declare a composite index.
    */
  def harvest(spark: SparkSession, dir: String, keys: Seq[String],
              eps: Double = 1e-3, confidence: Double = 0.99,
              seed: Int = 42, tuples: Seq[Seq[String]] = Nil): DataFrame = {
    require(keys.nonEmpty, "harvest: at least one key column")
    require(tuples.forall(_.size >= 2),
      "harvest: a tuple key needs at least 2 columns (use keys for singles)")
    val table = normalizePath(spark, dir)
    val df = spark.read.parquet(dir)
    val nBytes = {
      val p = new Path(dir)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      fs.listStatus(p).filter(_.isFile).map(_.getLen).sum
    }
    harvestFrame(spark, table, df, nBytes, keys, eps, confidence, seed,
      ConventionFull, tuples)
  }

  /** [[harvest]] over an EXPLICIT file list — the DELTA leg of catalog
    * maintenance: after an append, harvest the NEW files only (cost ∝
    * the append, not the table) and [[save]] the rows with
    * `append = true`; [[compact]] later merges the slices to the
    * full-table row, exactly, because every artifact in the row is
    * mergeable — counts and bytes add, the CMS adds cell-wise, the HLL
    * unions by register max. The `x9_manifest_incremental` discipline
    * applied to PLANNER statistics: ANALYZE TABLE that never rescans
    * history. Rows are labeled with `dir`'s normalized table path (the
    * files must belong to it).
    */
  def harvestFiles(spark: SparkSession, dir: String, files: Seq[String],
                   keys: Seq[String], eps: Double = 1e-3,
                   confidence: Double = 0.99, seed: Int = 42,
                   tuples: Seq[Seq[String]] = Nil): DataFrame = {
    require(keys.nonEmpty, "harvestFiles: at least one key column")
    require(files.nonEmpty, "harvestFiles: at least one file")
    require(tuples.forall(_.size >= 2),
      "harvestFiles: a tuple key needs at least 2 columns (use keys for singles)")
    val table = normalizePath(spark, dir)
    val schema = spark.read.parquet(dir).schema
    val df = spark.read.schema(schema).parquet(files: _*)
    val conf = spark.sessionState.newHadoopConf()
    val nBytes = files.map { f =>
      val p = new Path(f); p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
    harvestFrame(spark, table, df, nBytes, keys, eps, confidence, seed,
      ConventionDelta, tuples)
  }

  /** Single-pass multi-column Misra–Gries candidate fold: one scan of
    * the key columns (string form), per-partition summaries of size
    * 2·[[HeavyK]] merged on the driver by the same fold — the
    * [[Frequent.heavyHitters]] recall argument, minus the exact recount
    * (the skew pass re-prices candidates against the stored CMS
    * instead). Output per key column: the sorted candidate key strings.
    */
  private def mgCandidates(df: DataFrame, keys: Seq[String]): Map[String, Seq[String]] = {
    val n = keys.size
    val cap = 2 * HeavyK
    val partials: Array[(Int, String, Long)] =
      df.select(keys.map(k => col(k).cast("string")): _*).rdd.mapPartitions { it =>
        val maps = Array.fill(n)(scala.collection.mutable.HashMap.empty[String, Long])
        it.foreach { row =>
          var i = 0
          while (i < n) {
            if (!row.isNullAt(i)) Frequent.mgAdd(maps(i), row.getString(i), 1L, cap)
            i += 1
          }
        }
        maps.iterator.zipWithIndex.flatMap { case (m, i) =>
          m.iterator.map { case (key, w) => (i, key, w) }
        }
      }.collect()
    keys.indices.map { i =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      partials.iterator.filter(_._1 == i)
        .foreach { case (_, key, w) => Frequent.mgAdd(m, key, w, cap) }
      keys(i) -> m.keys.toSeq.sorted
    }.toMap
  }

  private def harvestFrame(spark: SparkSession, table: String, df: DataFrame,
                           nBytes: Long, keys: Seq[String], eps: Double,
                           confidence: Double, seed: Int,
                           convention: String,
                           tuples: Seq[Seq[String]] = Nil): DataFrame = {
    // tuples ride the same scan as the single columns: projected to
    // their canonical string form under internal names (a catalog key
    // name contains commas, which a working column name must not), so
    // one column-pruned pass harvests everything
    val tupleInternal = tuples.indices.map(i => s"__graft_tuple_$i")
    val staged = df.select(keys.map(col) ++
      tuples.zip(tupleInternal).map { case (tc, nm) =>
        tupleColumn(tc).as(nm) }: _*)
    val allKeys = keys ++ tupleInternal
    val outName = (keys.map(k => k -> k) ++
      tuples.zip(tupleInternal).map { case (tc, nm) => nm -> tupleKeyName(tc) }).toMap
    val aggs = count(lit(1)).as("__n") +: allKeys.flatMap { k =>
      Seq(count_min_sketch(col(k).cast("string"), lit(eps), lit(confidence),
          lit(seed)).as(s"__cms_$k"),
        hll_sketch_agg(col(k), lit(12)).as(s"__hll_$k"))
    }
    // distinct estimate derived FROM the stored sketch (scalar estimate
    // over the agg output), so the catalog's number and its overlap
    // artifact can never disagree
    val row = staged.agg(aggs.head, aggs.tail: _*)
      .select(col("*") +: allKeys.map(k =>
        hll_sketch_estimate(col(s"__hll_$k")).cast("double").as(s"__nd_$k")): _*)
      .head()
    val n = row.getLong(row.fieldIndex("__n"))
    val heavy = mgCandidates(staged, allKeys)
    val out = allKeys.map { k =>
      Row(table, outName(k), n, nBytes,
        row.getDouble(row.fieldIndex(s"__nd_$k")),
        row.getAs[Array[Byte]](row.fieldIndex(s"__cms_$k")),
        row.getAs[Array[Byte]](row.fieldIndex(s"__hll_$k")),
        heavy(k),
        convention)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(out, 1), catalogSchema)
  }

  /** Persist catalog rows. `append = true` is the incremental-maintenance
    * path (harvest only the new/changed tables, append; latest row per
    * (table, key) wins at load via max n_rows — re-harvests supersede);
    * otherwise the rows replace the store in one [[AtomicSwap]] commit.
    */
  def save(catalog: DataFrame, path: String, append: Boolean = false): Unit = {
    val (fs, p) = recovered(catalog.sparkSession, path)
    if (append) catalog.write.mode("append").parquet(path)
    else AtomicSwap.replace(fs, p)(tmp => catalog.write.parquet(tmp.toString))
  }

  /** The store's FileSystem, after [[AtomicSwap.recover]]. */
  private def recovered(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    AtomicSwap.recover(fs, p)
    (fs, p)
  }

  /** Merge a DELTA-style store ([[harvestFiles]] slices appended over
    * time) down to ONE row per (table, key), exactly: n_rows/n_bytes
    * sum, CMS merges cell-wise ([[graft.functions.CmsMergeAgg]] — the
    * merged bytes are BIT-IDENTICAL to a one-shot harvest of the same
    * rows), HLL unions by register max (estimate-identical to one-shot,
    * the SketchesSpec property), distinct_est re-derived from the merged
    * HLL. Replaces the store with one [[AtomicSwap]] commit (the merged
    * rows are written beside the store, which stays readable until the
    * swap) and returns the merged frame.
    *
    * Compaction is not byte-stable: `hll_union_agg` rewrites every `hll`
    * byte on each pass, even over an already compacted store, while the
    * estimates (`distinct_est`) and the other columns stay equal. Any
    * fingerprint of the `hll` column therefore changes on every
    * maintenance cycle; compare estimates instead.
    *
    * Disjointness is enforced via the stamped convention marker: the sum
    * is exact when each (table, key) group holds disjoint delta slices
    * plus AT MOST ONE full row (a previous [[compact]]'s output — the
    * maintenance cadence is compact, append deltas, compact again). TWO
    * full rows in one group mean latest-wins re-harvests, under which
    * this sum double counts — refused loudly. Legacy null-convention
    * rows are refused outright: without the marker a store could be
    * either delta slices (summable) or latest-wins re-harvests (summing
    * double counts), and guessing wrong silently corrupts the one
    * artifact the broadcast pass trusts — re-harvest such stores with a
    * marker-stamping build instead. The merged rows are stamped "full"
    * (they now ARE the whole table), so [[activate]] accepts the
    * compacted store.
    */
  def compact(spark: SparkSession, path: String): DataFrame = {
    val (fs, p) = recovered(spark, path)
    val store = spark.read.schema(catalogSchema).parquet(path)
    val unmarked = store.where(col("convention").isNull).count()
    require(unmarked == 0L,
      s"SketchCatalog.compact: $unmarked unmarked (pre-convention) row(s) in " +
        s"$path — delta slices and latest-wins re-harvests are " +
        "indistinguishable without the marker and only the former sum " +
        "exactly; re-harvest the store to stamp conventions first")
    val reharvested = store.where(col("convention") === ConventionFull)
      .groupBy("table", "key").count().where(col("count") > 1L).count()
    require(reharvested == 0L,
      s"SketchCatalog.compact: $reharvested (table, key) group(s) in $path " +
        "hold multiple full-table rows (latest-wins re-harvests) — summing " +
        "them double counts; compact merges delta slices plus at most one " +
        "prior compacted row per group")
    val merged = store
      .groupBy("table", "key")
      .agg(sum(col("n_rows")).as("n_rows"), sum(col("n_bytes")).as("n_bytes"),
        call_function("graft_cms_merge", col("cms")).as("cms"),
        hll_union_agg(col("hll")).as("hll"),
        // heavy candidates UNION across slices: a globally heavy key is
        // heavy in at least one slice (averaging argument), and counts
        // re-price from the merged CMS at plan time — so the union is a
        // superset-correct candidate set, never a guess
        array_sort(array_distinct(flatten(
          collect_list(coalesce(col("heavy"), array()))))).as("heavy"))
      .select(col("table"), col("key"), col("n_rows"), col("n_bytes"),
        hll_sketch_estimate(col("hll")).cast("double").as("distinct_est"),
        col("cms"), col("hll"), col("heavy"),
        lit(ConventionFull).as("convention"))
    AtomicSwap.replace(fs, p)(tmp => merged.write.parquet(tmp.toString))
    spark.read.schema(catalogSchema).parquet(path)
  }

  /** Load a stored catalog into the driver registry and point the session
    * conf at it — from here on [[graft.plans.SketchJoinPlanning]] plans
    * un-hinted equi-joins over catalogued tables from these artifacts.
    */
  def activate(spark: SparkSession, path: String): Catalog = {
    recovered(spark, path)
    val rows = spark.read.schema(catalogSchema).parquet(path).collect()
    // an UNCOMPACTED delta store (harvestFiles slices) under latest-wins
    // would load ONE slice's partial CMS/HLL — understated cardinalities,
    // the exact inversion of the broadcast pass's never-understate
    // posture. Refuse loudly; the caller compacts first. Null convention
    // (legacy catalogs) passes as before: those stores predate the
    // delta leg and are full-table by construction.
    val deltas = rows.count(r => r.getString(8) == ConventionDelta)
    require(deltas == 0,
      s"SketchCatalog.activate: $path holds $deltas uncompacted delta row(s) " +
        "— activating a slice store would understate cardinalities (unsafe " +
        "broadcasts); run SketchCatalog.compact first")
    val entries = rows.toSeq.map { r =>
      // `hll`/`heavy` read as null from catalogs written before the
      // columns existed (parquet schema evolution) — overlap and skew
      // decisions degrade to "unknown", never to a guess
      Entry(r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getAs[Array[Byte]](5), r.getAs[Array[Byte]](6),
        Option(r.getAs[scala.collection.Seq[String]](7))
          .map(_.toSeq).getOrElse(Nil))
    }
    // latest harvest wins per (table, key): append-mode maintenance leaves
    // superseded rows behind; n_rows is monotone for append-only tables
    val latest = entries.groupBy(e => (e.table, e.key)).values
      .map(_.maxBy(_.nRows)).toSeq
    val cat = new Catalog(latest, demotions(spark, latest))
    active.put(path, cat)
    spark.conf.set(ConfKey, path)
    cat
  }

  /** The audit-feedback loop, closed at activation time: when the
    * session conf names a [[PlannerAudit]] store, every entry whose CMS
    * fingerprint has ≥ [[AuditDemoteAfterKey]] recorded contract
    * violations is demoted from plan decisions (see [[Catalog.trusted]]).
    * Fingerprint matching means a re-harvest of a changed table (new
    * bytes) recovers automatically, while re-activating the SAME stale
    * artifact stays demoted — no human in the loop. The conf is an
    * explicit opt-in, so an unreadable store fails loudly rather than
    * silently trusting an artifact its own audits condemned.
    */
  private def demotions(spark: SparkSession, entries: Seq[Entry])
    : Set[(String, String)] =
    spark.conf.getOption(AuditStoreKey).filter(_.nonEmpty) match {
      case None => Set.empty
      case Some(auditPath) =>
        val k = spark.conf.getOption(AuditDemoteAfterKey).map(_.toInt).getOrElse(3)
        require(k >= 1, s"$AuditDemoteAfterKey must be >= 1, got $k")
        val bad = PlannerAudit.demotedFingerprints(spark, auditPath, k)
        if (bad.isEmpty) Set.empty
        else entries.iterator
          .filter(e => bad(PlannerAudit.cmsFingerprint(e.cms)))
          .map(e => (e.table, e.key)).toSet
    }

  /** Registry entries the spec/test path can plant directly (no files).
    * `demoted` plants audit demotions the same way; the file path
    * ([[activate]]) derives them from the conf-named audit store.
    */
  def activateEntries(spark: SparkSession, name: String, entries: Seq[Entry],
                      demoted: Set[(String, String)] = Set.empty): Catalog = {
    val cat = new Catalog(entries, demoted)
    active.put(name, cat)
    spark.conf.set(ConfKey, name)
    cat
  }

  def deactivate(spark: SparkSession): Unit = spark.conf.unset(ConfKey)

  /** The catalog the session conf names, if activated. */
  def lookup(confValue: String): Option[Catalog] =
    Option(active.get(confValue))
}
