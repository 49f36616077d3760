package graft.queries

import graft.functions.Canonical
import graft.ops.{AsOf, Chunking, Classify, Components, Contamination, Dedup, Domains, Dsir, Intervals, Multimodal, Packing, Sampling, Similarity, Sketches, TextAnalysis}
import graft.template.TemplateCompiler
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The driver-facing query registry: one entry per implemented operator from
  * SURVEY.md §2 (+ the §2.12 extensions), each with a DuckDB oracle twin
  * where the semantics are SQL-expressible.
  *
  * Determinism rules (the driver hash-compares values):
  *  - money/measure aggregates are cast to exact DECIMAL before summing
  *    (associative-safe), then to DOUBLE for output — bit-identical across
  *    engines regardless of summation order;
  *  - timestamps are emitted as epoch millis (BIGINT) or DATE, never raw
  *    timestamps (precision differs across engines);
  *  - ratios/cosines are rounded to 6 dp *before* any ranking that depends
  *    on them;
  *  - every query orders its output deterministically (full tiebreaks).
  */
object Queries {

  /** Table accessor: prefers a session temp view named `name` when one is
    * registered (Bench pre-registers CACHED views so the queries
    * scan each input once), else reads the parquet directly (Verify path — keeps
    * scan-level pushdown observable).
    */
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (spark.catalog.tableExists(name)) spark.table(name)
    else spark.read.parquet(s"$dir/$name.parquet")

  private def tsMs(c: Column): Column = Canonical.tsMillis(c)

  /** events.ts physical encoding is driver-controlled and HAS changed across
    * rounds (TIMESTAMP(NANOS)-as-LONG, then TIMESTAMP(MICROS)/NTZ), so all
    * event-time math is schema-adaptive: [[graft.functions.EventTime]]
    * inspects the bound column's DataType and emits epoch-ms arithmetic plus
    * pushdown-friendly raw-column predicates (long bounds for integral
    * columns, timestamp literals for timestamp columns — both prune parquet
    * row groups via min/max stats).
    */
  private def evTime(ev: DataFrame): graft.functions.EventTime.Accessors =
    graft.functions.EventTime.bind(ev)

  // epoch-millis constants used as checkpoints/cutoffs (events span
  // 2024-01-01 .. 2024-01-30 at every sf)
  private val Jan10 = 1704844800000L
  private val Jan15 = 1705276800000L
  private val Jan20 = 1705708800000L

  /** Exact decimal sum of a double measure, emitted as double. */
  private def decSum(c: Column, p: Int, s: Int): Column =
    sum(c.cast(DecimalType(p, s))).cast("double")

  /** Per-(query, sf-dir) scratch path, STABLE across invocations: every
    * scratch writer here uses mode("overwrite"), so repeated bench/verify
    * passes reuse one directory instead of accreting abandoned parquet
    * table copies in /tmp (10 shuffled bench passes × 6 table writers
    * was dozens of copies per run).
    */
  private def scratch(dir: String, name: String): String = {
    // keyed by basename PLUS a short hash of the full path: two sf dirs
    // with the same basename under different parents must not clobber
    // each other's scratch tables or cached catalogs within one tmpdir
    val full = new java.io.File(dir).getAbsolutePath
    val tag = f"${full.hashCode & 0xffffff}%06x"
    val base = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir", "/tmp"),
      "graft-scratch", s"${new java.io.File(dir).getName}-$tag", name)
    java.nio.file.Files.createDirectories(base.getParent)
    base.toString
  }

  /** AQE-unwrapped physical equi-joins of a frame (broadcast-hash +
    * sort-merge, pre-order) — the plan probe every artifact-planning
    * gate shares; one definition so a change to the AQE-root handling
    * cannot diverge between gates claiming the same semantics.
    */
  /** AQE-unwrapped executed-plan root — ONE definition for every plan
    * probe (initialPlan: the gates pin what the PLANNER produced; AQE
    * re-optimization happens downstream of the asserted facts).
    */
  private def executedRoot(df: DataFrame): org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }

  private def physicalJoins(df: DataFrame): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    executedRoot(df).collect {
      case b: BroadcastHashJoinExec => b
      case s: SortMergeJoinExec     => s
    }
  }

  /** (kept, total) file counts when a scan executed through a
    * [[graft.plans.PrunedFileIndex]]; None = unrewritten scan.
    */
  private def scanPruneProbe(df: DataFrame): Option[(Int, Int)] =
    executedRoot(df)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location }
      .collectFirst { case p: graft.plans.PrunedFileIndex =>
        (p.inputFiles.length, p.underlying.inputFiles.length) }

  /** GenerateExec count in the executed plan (the salted-join probe). */
  private def generateCount(df: DataFrame): Int =
    executedRoot(df)
      .collect { case g: org.apache.spark.sql.execution.GenerateExec => g }.size

  /** Root paths of the parquet scans under a physical node. */
  private def planScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
    p.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.head.toString
    }

  /** The count / sum-ids / decimal-rounded sum-value summary every x9
    * skipping gate pins (one definition: the decimal rounding is part of
    * the oracle contract and must not drift between gates).
    */
  private def skipSummary(df: DataFrame, tag: String): DataFrame = df.agg(
    count(lit(1)).as(s"n_rows$tag"),
    coalesce(sum("event_id"), lit(0L)).as(s"sum_ids$tag"),
    coalesce(sum(round(col("value"), 6).cast(DecimalType(18, 6))),
      lit(0).cast(DecimalType(18, 6))).as(s"sum_value$tag"))

  // ==================================================================
  // Core reference semantics (SURVEY.md §2.1-§2.10), generalized
  // ==================================================================

  /** S2/W1: incremental scan — only rows past the persisted checkpoint.
    * The predicate is pushed into the scan (parquet min/max pruning here;
    * the URL template in the live HTTP source).
    */
  private def s2IncrementalScan(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val et = evTime(ev)
    ev.where(et.after(Jan15))
      .select(col("event_id"), et.ms.as("ts_ms"), col("user_id"),
        col("event_type"), col("value"))
      .orderBy("event_id")
  }

  /** F2/J1/J2: CDC filter — latest pre-checkpoint version per entity
    * (user_id) vs latest in-window version; emit only new-or-changed
    * (content compare excludes the version column, reference cache.js:83-85).
    */
  private def f2CdcFilter(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val et = evTime(ev)
    def lastPer(df: DataFrame): DataFrame = df
      .withColumn("__rn", row_number().over(
        Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)))
      .where(col("__rn") === 1).drop("__rn")
    val state = lastPer(ev.where(et.before(Jan10)))
      .select(col("user_id").as("__sid"), col("event_type").as("__set"),
        col("value").as("__sv"), col("props").as("__sp"))
    val batch = lastPer(ev.where(et.atLeast(Jan10) && et.before(Jan20)))
    batch.join(state, batch("user_id") === col("__sid"), "left")
      .where(col("__sid").isNull ||
        !(col("event_type") <=> col("__set")) ||
        !(col("value") <=> col("__sv")) ||
        !(col("props") <=> col("__sp")))
      .select(col("user_id"), col("event_id"), et.ms.as("ts_ms"),
        col("event_type"), col("value"), col("props"))
      .orderBy("user_id")
  }

  /** F3: missing-id drop — extract the id from the JSON payload, drop rows
    * where it is absent, then count per id (reference cache.js:71-74).
    */
  private def f3MissingIdDrop(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("__k", regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1))
      .where(col("__k") =!= "")
      .select(col("__k").cast("int").as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))
      .orderBy("k")

  /** F4/W5: TTL expiry — entries whose ttl (event time + 8h) survives `now`
    * (reference cache.js:60-67,95-97).
    */
  private def f4TtlExpiry(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val et = evTime(ev)
    ev.where(et.atLeast(Jan20 - 8L * 3600 * 1000)) // ttl >= now, pushed to the scan
      .withColumn("__ttl", et.ms + lit(8L * 3600 * 1000))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), min("__ttl").as("min_ttl"), max("__ttl").as("max_ttl"))
      .orderBy("event_type")
  }

  /** A1: checkpoint = max(updatedOnMs) over all fetched items, per type
    * (reference cache.js:100-108).
    */
  private def a1CheckpointMax(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    ev.groupBy("event_type")
      .agg(max(evTime(ev).ms).as("checkpoint"), count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  /** K2/§2.8: upsert = last-write-wins per entity id
    * (reference cache.js:50-58 overwrites by key).
    */
  private def k2UpsertLww(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    ev.withColumn("__rn", row_number().over(
        Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)))
      .where(col("__rn") === 1)
      .select(col("user_id"), col("event_id"), evTime(ev).ms.as("ts_ms"),
        col("event_type"), col("value"))
      .orderBy("user_id")
  }

  /** K5/§2.8: MERGE-style multi-action commit ([[graft.state.Merge]]) —
    * update + insert + tombstone-delete in ONE full-outer-join plan (the
    * Delta MERGE INTO posture over K2's LWW state): state = the pre-Jan20
    * LWW head per user, batch = one action per user from the Jan20+ slice
    * (its newest event decides — an 'error' event tombstones the user,
    * anything else upserts). The twin is the same full-outer +
    * case-action SQL, so the hash gate pins all three verbs at once.
    */
  private def k5Merge(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val et = evTime(ev)
    def lwwHead(df: DataFrame): DataFrame = df
      .withColumn("__rn", row_number().over(
        Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)))
      .where(col("__rn") === 1)
    val st = lwwHead(ev.where(et.before(Jan20)))
      .select(col("user_id"), col("event_id"), et.ms.as("ts_ms"),
        col("event_type"), col("value"))
    val bt = lwwHead(ev.where(et.atLeast(Jan20)))
      .select(col("user_id"), col("event_id"), et.ms.as("ts_ms"),
        col("event_type"), col("value"),
        when(col("event_type") === "error", lit("delete"))
          .otherwise(lit("upsert")).as("op"))
    graft.state.Merge.merge(st, bt, "user_id", "op",
        Seq("event_id", "ts_ms", "event_type", "value"))
      .orderBy("user_id")
  }

  /** K3/§2.8: SCD2 history — every entity version with its half-open
    * validity interval; the LWW head ([[k2UpsertLww]]) is the `is_current`
    * slice. One key-hash exchange + per-key window (sessionize class).
    */
  private def k3Scd2History(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    graft.state.Scd2.history(ev, "user_id", evTime(ev).ms, col("event_id"),
        Seq("event_type", "value"))
      .select(col("user_id"), col("__tie").as("event_id"), col("valid_from_ms"),
        col("valid_to_ms"), col("is_current"), col("event_type"), col("value"))
      .orderBy(col("user_id"), col("valid_from_ms"), col("event_id"))
  }

  /** K4/§2.8: point-in-time lookup — the state table AS OF Jan15, with the
    * cutoff pushed to the parquet scan as a raw-column predicate.
    */
  private def k4TimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val et = evTime(ev)
    graft.state.Scd2.asOf(ev, "user_id", et.ms, col("event_id"),
        et.before(Jan15 + 1), Seq("event_type", "value"))
      .select(col("user_id"), col("__tie").as("event_id"), col("ts_ms"),
        col("event_type"), col("value"))
      .orderBy("user_id")
  }

  /** X9z: z-order layout key — the exact-integer Morton code the physical
    * clustering write ([[graft.ops.Layout.zorderWrite]]) range-partitions
    * and sorts by; gating the CODE gates the layout (the write path is a
    * deterministic function of it). Pure per-row projection + one
    * broadcast bounds row.
    */
  private def x9Zorder(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val et = evTime(ev)
    graft.ops.Layout.withZValue(
        ev.select(col("event_id"), col("user_id"), et.ms.as("ts_ms")),
        "user_id", "ts_ms")
      .select(col("event_id"), col("zval"))
      .orderBy("event_id")
  }

  /** X9h: Hilbert layout key — the locality-superior curve variant of
    * [[x9Zorder]] ([[graft.ops.Layout.withHValue]] /
    * [[graft.functions.HilbertIndex]]): gating the index gates the
    * layout, and the 21-level bit descent replays bit-for-bit in the
    * twin as an unrolled CTE chain (every step is integer CASE
    * arithmetic over the same exact ranks the z-twin uses).
    */
  private def x9Hilbert(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val et = evTime(ev)
    graft.ops.Layout.withHValue(
        ev.select(col("event_id"), col("user_id"), et.ms.as("ts_ms")),
        "user_id", "ts_ms")
      .select(col("event_id"), col("hval"))
      .orderBy("event_id")
  }

  /** X9ds: file-level data skipping — the READ-side payoff of the z-order
    * write ([[graft.ops.DataSkipping]]): events written z-clustered on
    * (user_id, ts_ms), a min/max manifest built from parquet FOOTERS
    * alone, and a 2-d probe box answered by opening only candidate
    * files. Gate: the pruned read's aggregates travel verbatim (the
    * oracle replays the box over raw events — file layout is invisible
    * to a correct skip), equality with the full-scan path and actual
    * file skipping ride as pinned in-plan booleans. The box bounds are
    * exact integer arithmetic from the data's own min/max (scale-
    * adaptive, engine-replayable); sums use the round-cast-decimal
    * discipline so addition order cannot leak through the hash.
    */
  private def x9Skipping(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.DataSkipping
    val ev = t(spark, dir, "events")
    val et = evTime(ev)
    val base = ev.select(col("event_id"), col("user_id"), et.ms.as("ts_ms"),
      col("value"))
    val path = scratch(dir, "x9_skipping")
    graft.ops.Layout.zorderWrite(base, "user_id", "ts_ms", path, numFiles = 32)
    val manifest = DataSkipping.statsManifest(spark, path, Seq("user_id", "ts_ms"))
      .cache() // bounded: one row per file
    val b = base.agg(min("user_id"), max("user_id")).head()
    val (umin, umax) = (b.getLong(0), b.getLong(1))
    val (ulo, uhi) = (umin + (umax - umin) / 4, umin + (umax - umin) / 2)
    val (tlo, thi) = (Jan15, Jan20 - 1)
    val cand = DataSkipping.candidateFiles(manifest,
      Seq(DataSkipping.longRange("user_id", ulo, uhi),
        DataSkipping.longRange("ts_ms", tlo, thi)))
    val rowFilter = col("user_id").between(ulo, uhi) && col("ts_ms").between(tlo, thi)
    val prunedS = skipSummary(
      DataSkipping.prunedRead(spark, path, cand).where(rowFilter), "")
    val fullS = skipSummary(base.where(rowFilter), "_f")
    val counts = cand.agg(count(lit(1)).as("__n_cand"))
      .crossJoin(manifest.agg(count(lit(1)).as("__n_files")))
    prunedS.crossJoin(broadcast(fullS)).crossJoin(broadcast(counts))
      .select(col("n_rows"), col("sum_ids"),
        col("sum_value").cast("double").as("sum_value"),
        (col("n_rows") === col("n_rows_f") && col("sum_ids") === col("sum_ids_f") &&
          col("sum_value") === col("sum_value_f")).as("pruned_equals_full"),
        (col("__n_cand") > 0L && col("__n_cand") < col("__n_files"))
          .as("files_skipped"))
  }

  /** X9rg: ROW-GROUP-grain data skipping —
    * [[graft.ops.DataSkipping.rowGroupManifest]] pricing the predicate
    * one level below the file, where the reader actually skips. The
    * fixture is the adversarial band-gap layout: every file holds a LOW
    * band (u = user_id, even event ids) and a far HIGH band
    * (u = 4·umax + user_id, odd ids) sorted together with a small
    * parquet block size, so each file splits into several row groups
    * whose ranges are tight sub-bands while the FILE range spans the
    * whole gap. The probe box [umax/2, 3·umax] covers the upper low
    * band plus the (empty) gap: file-grain candidates are whole files
    * (every file's range overlaps), row-group-grain candidates are only
    * the in-box and straddling groups — strictly fewer expected rows,
    * the accounting that matters when compaction pushes file sizes up
    * at 100 TB. Pinned: multi-row-group layout (measured from footers),
    * strict candidate-row reduction vs the file-grain manifest, pruned
    * (files with ≥ 1 surviving row group) ≡ full, and
    * [[graft.ops.DataSkipping.metadataBoxCountRg]] agreeing with the
    * direct count (its interior/boundary split must never double count).
    * The aggregates replay over raw events (layout invisible to a
    * correct skip).
    */
  private def x9SkippingRg(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.DataSkipping
    val ev = t(spark, dir, "events")
    val base0 = ev.select(col("event_id"), col("user_id"), col("value"))
    val um = base0.agg(max("user_id")).head().getLong(0)
    val base = base0.select(col("event_id"),
      ((col("event_id") % 2) * lit(4L * um) + col("user_id")).as("u"),
      col("value"))
    val path = scratch(dir, "x9_skipping_rg")
    base.repartition(4, col("event_id"))
      .sortWithinPartitions("u")
      .write.mode("overwrite")
      // 2 KB row groups: parquet's writer size-checks every ~100 records,
      // so even the smallest sf's ~250-row files split into 2+ groups
      .option("parquet.block.size", "2048")
      .option("parquet.page.size", "512")
      .parquet(path)
    val rg = DataSkipping.rowGroupManifest(spark, path, Seq("u")).cache()
    val fileM = DataSkipping.statsManifest(spark, path, Seq("u")).cache()
    val (lo, hi) = (um / 2, 3L * um)
    val ranges = Seq(DataSkipping.longRange("u", lo, hi))
    val rowFilter = col("u").between(lo, hi)
    val multiRg = rg.groupBy("file").count()
      .agg(min("count")).head().getLong(0) >= 2L
    val surv = DataSkipping.rowGroupSurvivors(rg, ranges)
      .agg(coalesce(sum(col("rows_candidate")), lit(0L)).as("rg_rows"),
        coalesce(sum(col("rows_total")), lit(0L)).as("all_rows")).head()
    val fileCandRows = DataSkipping.candidateFiles(fileM, ranges)
      .agg(coalesce(sum(col("n_rows")), lit(0L))).head().getLong(0)
    val candFiles = DataSkipping.rowGroupSurvivors(rg, ranges)
      .where(col("rgs_candidate") > 0L).select(col("file"))
    val prunedRow = skipSummary(
      DataSkipping.prunedRead(spark, path, candFiles).where(rowFilter), "").head()
    val fullRow = skipSummary(base.where(rowFilter), "").head()
    val meta = DataSkipping.metadataBoxCountRg(spark, path, rg, ranges, rowFilter)
      .head()
    rg.unpersist(); fileM.unpersist()
    spark.range(1).select(
      lit(prunedRow.getLong(0)).as("n_rows"),
      lit(prunedRow.getLong(1)).as("sum_ids"),
      lit(prunedRow.getDecimal(2)).cast("double").as("sum_value"),
      lit(multiRg).as("multi_rg_layout"),
      lit(surv.getLong(0) < fileCandRows && surv.getLong(0) < surv.getLong(1))
        .as("rg_candidate_rows_fewer"),
      lit(prunedRow == fullRow).as("pruned_equals_full"),
      lit(meta.getLong(0) == fullRow.getLong(0)).as("meta_count_matches"))
  }

  /** X9se: schema-evolution SOUNDNESS across the artifact classes — the
    * gate that proves evolved tables degrade to unknown, never to a
    * mispriced guess. Three legs over append-evolved scratch tables:
    *
    *  1. RENAMED column: batch1 carries `user_id`, batch2 (appended) the
    *     renamed `uid`. The manifest built under the unified schema
    *     marks each batch's missing column UNKNOWN (absent chunk ≠
    *     zero-stats), so every evolved file stays a candidate for the
    *     user_id box and the pruned read equals the full one (batch2's
    *     null user_id falls to the row filter on both paths).
    *  2. WIDENED type: batch1 writes `price` as LONG cents, batch2 as
    *     DECIMAL(12,2); under the declared decimal schema the long
    *     chunks carry no decimal annotation → manifest stats NULL
    *     (unknown, kept) while the true-decimal files price normally —
    *     the old-files-long/new-files-decimal rewrite handled per chunk.
    *  3. STALE artifact under append: a manifest harvested over batch1
    *     ONLY is activated via [[graft.ops.ScanPrune]]; the rewrite's
    *     DROP-set subtraction prunes among covered files and must keep
    *     every appended (uncovered) file visible — parity collected
    *     DURING activation, kept/total probed from the executed plan.
    *
    * Aggregates replay over raw even-event rows (evolution must be
    * invisible to a correct reader); the three degrade facts ride as
    * pinned booleans measured from real footers and executed plans.
    */
  private def x9SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.{DataSkipping, ScanPrune}
    val ev = t(spark, dir, "events")
    val evens = ev.where(col("event_id") % 2 === 0)
      .select(col("event_id"), col("user_id"), col("value"))
    val odds = ev.where(col("event_id") % 2 === 1)
      .select(col("event_id"), col("user_id").as("uid"), col("value"))
    val tblA = scratch(dir, "x9_evo_renamed")
    // batch1 range-clustered on user_id so leg 3's stale manifest has
    // something to prune; batch2 appended under the RENAMED schema
    val fs = {
      val p = new org.apache.hadoop.fs.Path(tblA)
      p.getFileSystem(spark.sessionState.newHadoopConf())
    }
    fs.delete(new org.apache.hadoop.fs.Path(tblA), true)
    evens.repartitionByRange(4, col("user_id"))
      .write.mode("overwrite").parquet(tblA)
    val batch1Files = DataSkipping.listDataFiles(spark, tblA)
    odds.coalesce(2).write.mode("append").parquet(tblA)
    val allFiles = DataSkipping.listDataFiles(spark, tblA)
    val unified = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("uid", LongType), StructField("value", DoubleType)))
    def evolved(): DataFrame = spark.read.schema(unified).parquet(tblA)
    val b = evens.agg(min("user_id"), max("user_id")).head()
    val (umin, umax) = (b.getLong(0), b.getLong(1))
    val (lo, hi) = (umin + (umax - umin) / 4, umin + (umax - umin) / 2)
    val box = col("user_id").between(lo, hi)
    val ranges = Seq(DataSkipping.longRange("user_id", lo, hi))
    // leg 1: renamed column stays candidate wherever its stats are unknown
    val manifest = DataSkipping.statsManifestFiles(spark, allFiles, unified,
      Seq("user_id", "uid")).cache()
    val unknownFiles = manifest.where(col("user_id_nulls").isNull)
      .select(col("file")).collect().map(_.getString(0)).toSet
    val candFiles = DataSkipping.candidateFiles(manifest, ranges)
      .select(col("file")).collect().map(_.getString(0)).toSet
    val renamedKept = unknownFiles.nonEmpty && unknownFiles.subsetOf(candFiles) &&
      unknownFiles.size == (allFiles.size - batch1Files.size)
    // candidates read under the EXPLICIT unified schema: prunedRead's own
    // inference takes one arbitrary footer, which on a mixed-schema
    // evolved table can be a renamed-batch file (no user_id at all)
    val prunedRow = skipSummary(
      spark.read.schema(unified).parquet(candFiles.toSeq: _*).where(box), "").head()
    val fullRow = skipSummary(evolved().where(box), "").head()
    manifest.unpersist()
    // leg 2: long-written chunks under a declared decimal schema
    val tblB = scratch(dir, "x9_evo_widened")
    fs.delete(new org.apache.hadoop.fs.Path(tblB), true)
    ev.where(col("event_id") % 2 === 0)
      .select(col("event_id"), col("user_id").as("price"))
      .coalesce(2).write.mode("overwrite").parquet(tblB)
    val widenOld = DataSkipping.listDataFiles(spark, tblB)
    ev.where(col("event_id") % 2 === 1)
      .select(col("event_id"), col("user_id").cast(DecimalType(12, 2)).as("price"))
      .coalesce(2).write.mode("append").parquet(tblB)
    val declB = StructType(Seq(StructField("event_id", LongType),
      StructField("price", DecimalType(12, 2))))
    val manB = DataSkipping.statsManifestFiles(spark,
      DataSkipping.listDataFiles(spark, tblB), declB, Seq("price")).collect()
    val widenedUnknown =
      manB.filter(r => widenOld.contains(r.getString(0)))
        .forall(_.isNullAt(manB.head.fieldIndex("price_nulls"))) &&
      manB.filter(r => !widenOld.contains(r.getString(0)))
        .forall(!_.isNullAt(manB.head.fieldIndex("price_nulls"))) &&
      widenOld.nonEmpty && manB.length > widenOld.size
    // leg 3: STALE manifest (batch1 only) activated; appended files must
    // survive the rewrite's drop-set subtraction, parity during activation
    ScanPrune.deactivate(spark, tblA)
    val staleManifest = DataSkipping.statsManifestFiles(spark, batch1Files,
      unified, Seq("user_id"))
    ScanPrune.activateManifest(spark, tblA, staleManifest)
    val (staleSafe, staleRow) = try {
      val probe = scanPruneProbe(evolved().where(box))
      val appended = allFiles.size - batch1Files.size
      (probe.exists { case (kept, total) =>
        kept < total && (total - kept) <= batch1Files.size && kept >= appended },
        skipSummary(evolved().where(box), "").head())
    } finally ScanPrune.deactivate(spark, tblA)
    spark.range(1).select(
      lit(fullRow.getLong(0)).as("n_rows"),
      lit(fullRow.getLong(1)).as("sum_ids"),
      lit(fullRow.getDecimal(2)).cast("double").as("sum_value"),
      lit(renamedKept).as("renamed_kept_candidate"),
      lit(prunedRow == fullRow && staleRow == fullRow).as("pruned_equals_full"),
      lit(widenedUnknown).as("widened_degraded_unknown"),
      lit(staleSafe).as("stale_manifest_keeps_appended"))
  }

  /** X9h3: 3-COLUMN Hilbert layout key ([[graft.ops.Layout.withHValueN]] /
    * [[graft.functions.HilbertIndexNd]], Skilling's dimension-generic
    * transpose form) — production OPTIMIZE ZORDER takes 3+ columns;
    * gating the index gates the layout exactly as [[x9Hilbert]] does for
    * 2-D. Every step is integer shift/mask/xor CASE arithmetic over the
    * same exact-integer ranks, so the twin replays the full 16-level ×
    * 3-dimension descent bit-for-bit as an unrolled CTE chain.
    */
  private def x9Hilbert3(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val et = evTime(ev)
    graft.ops.Layout.withHValueN(
        ev.select(col("event_id"), col("user_id"), et.ms.as("ts_ms")),
        Seq("user_id", "ts_ms", "event_id"), graft.ops.Layout.HBits3)
      .select(col("event_id"), col("hval"))
      .orderBy("event_id")
  }

  /** X9ss: STRING-column data skipping — the predicate modality real
    * tables prune on first (ISO dates, id prefixes, enum keys):
    * events rewritten day-clustered with an ISO `day` string key, the
    * manifest built from parquet's truncated-binary UTF8 footer stats
    * ([[graft.ops.DataSkipping.statsManifestFiles]] — truncation keeps
    * candidate selection sound: a truncated min is a prefix lower
    * bound, a truncated max is byte-incremented to stay an upper
    * bound), and a 5-day string-range probe answered by opening only
    * candidate files. Gate mirrors [[x9Skipping]]: pruned-read
    * aggregates travel verbatim (the oracle replays the day window
    * over raw events — layout invisible to a correct skip),
    * pruned≡full and files-skipped ride as pinned booleans.
    */
  /** X9ts: TIME-BOX file skipping on a TimestampType manifest column —
    * the "last N days" scan every event table serves constantly, pruned
    * WITHOUT date-partitioning the table: footer timestamp stats
    * (INT64 micros logical annotation, read honestly per chunk —
    * [[graft.ops.DataSkipping.statsManifestFiles]]) aggregated to file
    * grain, a range-clustered write making the per-file time ranges
    * tight, and a 5-of-30-day probe box that must (a) answer exactly
    * what the full scan answers and (b) open strictly fewer files. The
    * scratch write pins TIMESTAMP_MICROS explicitly — INT96, the
    * deprecated default with undefined stats ordering, degrades the
    * manifest to unknown (sound but skip-less), which the
    * `files_skipped` boolean would catch.
    */
  private def x9SkippingTs(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.DataSkipping
    val ev = t(spark, dir, "events")
    val et = evTime(ev)
    // ms-floored TimestampType event time, whatever the source encoding
    val base = ev.select(col("event_id"), col("user_id"),
      timestamp_millis(et.ms).as("ets"), col("value"))
    val path = scratch(dir, "x9_skipping_ts")
    val prevEnc = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    try {
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      base.repartitionByRange(32, col("ets"), col("event_id"))
        .sortWithinPartitions("ets", "event_id")
        .write.mode("overwrite").parquet(path)
    } finally prevEnc match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None    => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
    val manifest = DataSkipping.statsManifest(spark, path, Seq("ets")).cache()
    val lo = java.time.Instant.ofEpochMilli(1705276800000L) // 2024-01-15T00:00:00Z
    val hi = java.time.Instant.ofEpochMilli(1705708799999L) // 2024-01-19T23:59:59.999Z
    val cand = DataSkipping.candidateFiles(manifest,
      Seq(DataSkipping.timestampRange("ets", lo, hi)))
    val rowFilter = col("ets").between(lit(lo), lit(hi))
    val prunedS = skipSummary(
      DataSkipping.prunedRead(spark, path, cand).where(rowFilter), "")
    val fullS = skipSummary(base.where(rowFilter), "_f")
    val counts = cand.agg(count(lit(1)).as("__n_cand"))
      .crossJoin(manifest.agg(count(lit(1)).as("__n_files")))
    prunedS.crossJoin(broadcast(fullS)).crossJoin(broadcast(counts))
      .select(col("n_rows"), col("sum_ids"),
        col("sum_value").cast("double").as("sum_value"),
        (col("n_rows") === col("n_rows_f") && col("sum_ids") === col("sum_ids_f") &&
          col("sum_value") === col("sum_value_f")).as("pruned_equals_full"),
        (col("__n_cand") > 0L && col("__n_cand") < col("__n_files"))
          .as("files_skipped"))
  }

  /** X9nl: NULL-modality file skipping — `IS NOT NULL` probes answered
    * from the null counts the manifest already carries (the Delta
    * nullCount discipline). A sparse optional column (payload present
    * only on click events, ~20%) clustered by presence makes most files
    * provably all-null for it; the probe must skip those exactly and
    * match the full scan. Unlike min/max this modality is EXACT per
    * file — a known count proves absence, no interval widening — which
    * is why both booleans can be pinned.
    */
  private def x9SkippingNull(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.DataSkipping
    val ev = t(spark, dir, "events")
    val base = ev.select(col("event_id"), col("value"),
      when(col("event_type") === "click", col("props")).as("payload"))
    val path = scratch(dir, "x9_skipping_null")
    base.repartitionByRange(16, col("payload").isNull, col("event_id"))
      .sortWithinPartitions(col("payload").isNull, col("event_id"))
      .write.mode("overwrite").parquet(path)
    val manifest = DataSkipping.statsManifest(spark, path, Seq("event_id", "payload"))
      .cache()
    val cand = DataSkipping.nullCandidates(manifest, "payload", wantNull = false)
    val prunedS = skipSummary(
      DataSkipping.prunedRead(spark, path, cand)
        .where(col("payload").isNotNull), "")
    val fullS = skipSummary(base.where(col("payload").isNotNull), "_f")
    val counts = cand.agg(count(lit(1)).as("__n_cand"))
      .crossJoin(manifest.agg(count(lit(1)).as("__n_files")))
    prunedS.crossJoin(broadcast(fullS)).crossJoin(broadcast(counts))
      .select(col("n_rows"), col("sum_ids"),
        col("sum_value").cast("double").as("sum_value"),
        (col("n_rows") === col("n_rows_f") && col("sum_ids") === col("sum_ids_f") &&
          col("sum_value") === col("sum_value_f")).as("pruned_equals_full"),
        (col("__n_cand") > 0L && col("__n_cand") < col("__n_files"))
          .as("files_skipped"))
  }

  /** X9in: IN-LIST file skipping — `day IN (d1, d2, d3)` pruned as the
    * UNION of point intervals over the same string manifest
    * ([[graft.ops.DataSkipping.candidateFilesAny]]): three scattered
    * days of a 30-day table must open only the files whose range covers
    * one of them, and answer exactly what the full scan answers.
    */
  private def x9SkippingIn(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.DataSkipping
    val ev = t(spark, dir, "events")
    val et = evTime(ev)
    val base = ev.select(col("event_id"), col("user_id"),
      date_format(timestamp_millis(et.ms), "yyyy-MM-dd").as("day"), col("value"))
    val path = scratch(dir, "x9_skipping_in")
    base.repartitionByRange(32, col("day"), col("event_id"))
      .sortWithinPartitions("day", "event_id")
      .write.mode("overwrite").parquet(path)
    val manifest = DataSkipping.statsManifest(spark, path, Seq("day")).cache()
    val days = Seq("2024-01-05", "2024-01-17", "2024-01-26")
    val cand = DataSkipping.candidateFilesAny(manifest,
      days.map(d => DataSkipping.stringRange("day", d, d)))
    val rowFilter = col("day").isin(days: _*)
    val prunedS = skipSummary(
      DataSkipping.prunedRead(spark, path, cand).where(rowFilter), "")
    val fullS = skipSummary(base.where(rowFilter), "_f")
    val counts = cand.agg(count(lit(1)).as("__n_cand"))
      .crossJoin(manifest.agg(count(lit(1)).as("__n_files")))
    prunedS.crossJoin(broadcast(fullS)).crossJoin(broadcast(counts))
      .select(col("n_rows"), col("sum_ids"),
        col("sum_value").cast("double").as("sum_value"),
        (col("n_rows") === col("n_rows_f") && col("sum_ids") === col("sum_ids_f") &&
          col("sum_value") === col("sum_value_f")).as("pruned_equals_full"),
        (col("__n_cand") > 0L && col("__n_cand") < col("__n_files"))
          .as("files_skipped"))
  }

  /** X9dc: DECIMAL-modality file skipping — price/money columns are what
    * financial tables cluster and prune on, and parquet stores their
    * footer stats as EXACT unscaled integers (INT64 at this precision;
    * the FLBA encoding and the precision/scale-mismatch degrade are
    * spec-gated). lineitem rewritten price-clustered with an exact
    * DECIMAL(12,2) price, the manifest built from footer decimal stats
    * alone, and a mid-domain price box answered by opening only
    * candidate files. The box bounds derive from the data's own min/max
    * in exact unscaled cents (scale-adaptive, engine-replayable); gate
    * mirrors [[x9Skipping]]: pruned-read aggregates travel verbatim (the
    * twin replays the box over raw lineitem), pruned≡full and
    * files-skipped ride as pinned booleans.
    */
  private def x9SkippingDec(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.DataSkipping
    val li = t(spark, dir, "lineitem")
    val base = li.select(col("l_orderkey"),
      col("l_extendedprice").cast(DecimalType(12, 2)).as("price"))
    val path = scratch(dir, "x9_skipping_dec")
    base.repartitionByRange(24, col("price"), col("l_orderkey"))
      .sortWithinPartitions("price", "l_orderkey")
      .write.mode("overwrite").parquet(path)
    val manifest = DataSkipping.statsManifest(spark, path, Seq("price")).cache()
    val cb = base.agg((min("price") * 100).cast("long"),
      (max("price") * 100).cast("long")).head()
    val (cmin, cmax) = (cb.getLong(0), cb.getLong(1))
    val (lo, hi) = (cmin + (cmax - cmin) / 4, cmin + (cmax - cmin) / 2)
    val (plo, phi) = (java.math.BigDecimal.valueOf(lo, 2),
      java.math.BigDecimal.valueOf(hi, 2))
    val cand = DataSkipping.candidateFiles(manifest,
      Seq(DataSkipping.decimalRange("price", plo, phi)))
    val rowFilter = col("price").between(lit(plo), lit(phi))
    def summ(df: DataFrame, tag: String) = df.agg(
      count(lit(1)).as(s"n_rows$tag"),
      coalesce(sum("l_orderkey"), lit(0L)).as(s"sum_keys$tag"),
      coalesce(sum("price"), lit(0).cast(DecimalType(12, 2)))
        .as(s"sum_price$tag"))
    val prunedS = summ(
      DataSkipping.prunedRead(spark, path, cand).where(rowFilter), "")
    val fullS = summ(base.where(rowFilter), "_f")
    val counts = cand.agg(count(lit(1)).as("__n_cand"))
      .crossJoin(manifest.agg(count(lit(1)).as("__n_files")))
    prunedS.crossJoin(broadcast(fullS)).crossJoin(broadcast(counts))
      .select(col("n_rows"), col("sum_keys"),
        col("sum_price").cast("double").as("sum_price"),
        (col("n_rows") === col("n_rows_f") && col("sum_keys") === col("sum_keys_f") &&
          col("sum_price") === col("sum_price_f")).as("pruned_equals_full"),
        (col("__n_cand") > 0L && col("__n_cand") < col("__n_files"))
          .as("files_skipped"))
  }

  /** X9mcft: manifest maintenance ACROSS a compaction — the derived
    * manifest ([[graft.ops.DataSkipping.manifestAfterCompaction]]: bin
    * stats folded from source-file stats + the FFD plan, zero footer
    * reads) must equal, row for row, a fresh footer harvest of the
    * compacted files. Pinned Spark-side (the comparison is between two
    * metadata artifacts); the replayable column is the row count the
    * compaction must preserve.
    */
  private def x9ManifestCompact(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.{Compaction, DataSkipping}
    val base = t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"))
    val path = scratch(dir, "x9_mc_in")
    base.repartitionByRange(16, col("event_id"))
      .sortWithinPartitions("event_id")
      .write.mode("overwrite").parquet(path)
    val m0 = DataSkipping.statsManifest(spark, path, Seq("event_id", "value")).cache()
    val sizes = Compaction.fileSizes(spark, path)
    val total = sizes.agg(sum(col("bytes"))).head().getLong(0)
    val plan = Compaction.compactionPlan(sizes, math.max(1L, total / 4)).cache()
    val out = scratch(dir, "x9_mc_out")
    Compaction.compact(spark, path, plan, out)
    val binFiles = DataSkipping.compactedFiles(spark, out).cache()
    val derived = DataSkipping.manifestAfterCompaction(m0, plan, binFiles)
    val harvested = DataSkipping.statsManifestFiles(spark,
      binFiles.select("file").collect().map(_.getString(0)).toIndexedSeq,
      base.schema, Seq("event_id", "value"))
    def rows(df: DataFrame) = df.collect().sortBy(_.getAs[String]("file")).toSeq
    val (d, h) = (rows(derived), rows(harvested))
    val derivedEq = d.nonEmpty && d == h
    val filesReduced = d.size < 16
    base.agg(count(lit(1)).as("n_rows"))
      .select(col("n_rows"),
        lit(derivedEq).as("derived_eq"),
        lit(filesReduced).as("files_reduced"))
  }

  /** X9bc: Bloom-index maintenance across compaction — the equality
    * modality's [[x9ManifestCompact]]: the derived index (bitwise OR of
    * the input files' filters, zero data reads) must be BIT-IDENTICAL
    * per file to a full re-scan rebuild over the compacted files (same
    * keys into the same geometry set the same bits), and a point lookup
    * through it must still prune. Pinned Spark-side; the row count
    * replays.
    */
  private def x9BloomCompact(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.{Compaction, DataSkipping}
    val base = t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"))
    val path = scratch(dir, "x9_bc_in")
    base.repartitionByRange(16, col("event_id"))
      .sortWithinPartitions("event_id")
      .write.mode("overwrite").parquet(path)
    val idx0 = DataSkipping.bloomIndex(spark, path, "event_id",
      expectedItemsPerFile = 4096).cache()
    val sizes = Compaction.fileSizes(spark, path)
    val total = sizes.agg(sum(col("bytes"))).head().getLong(0)
    val plan = Compaction.compactionPlan(sizes, math.max(1L, total / 4)).cache()
    val out = scratch(dir, "x9_bc_out")
    Compaction.compact(spark, path, plan, out)
    val binFiles = DataSkipping.compactedFiles(spark, out).cache()
    val derived = DataSkipping.bloomIndexAfterCompaction(idx0, plan, binFiles)
    val rebuilt = DataSkipping.bloomIndex(spark, out, "event_id",
      expectedItemsPerFile = 4096)
    // key by the bin=K path segment, not the basename: partitionBy names
    // files per TASK, and two bins hashed to one task share a basename
    def byBin(df: DataFrame) = df.collect().map { r =>
      val f = r.getAs[String]("file")
      "bin=\\d+".r.findFirstIn(f).getOrElse(f) ->
        ((r.getAs[Long]("n_rows"), r.getAs[Array[Byte]]("bloom")))
    }.toMap
    val (d, h) = (byBin(derived), byBin(rebuilt))
    val bitexact = d.nonEmpty && d.keySet == h.keySet && d.forall { case (f, (n, b)) =>
      h(f)._1 == n && java.util.Arrays.equals(b, h(f)._2)
    }
    // a point key still prunes through the derived index
    val probeKey = base.agg(min(col("event_id"))).head().getLong(0)
    val cand = DataSkipping.candidateFilesByKey(derived, lit(probeKey))
    val prunes = cand.count() > 0 && cand.count() < binFiles.count() &&
      DataSkipping.prunedRead(spark, out, cand)
        .where(col("event_id") === probeKey).count() == 1L
    base.agg(count(lit(1)).as("n_rows"))
      .select(col("n_rows"),
        lit(bitexact).as("index_bitexact"),
        lit(prunes).as("lookup_prunes"))
  }

  /** X9co: clustering-PRESERVING compaction — next-fit over files in
    * clustering-key order ([[graft.ops.Compaction.sequentialCompactionPlan]])
    * so range-disjoint input files merge into range-disjoint bigger
    * files and every skipping property survives the rewrite (FFD would
    * interleave far-apart ranges and widen every merged file to
    * near-full-domain). The derived post-compaction manifest (X9mcft —
    * zero footer reads) supplies the evidence: pairwise-disjoint ranges,
    * a mid-domain box that still prunes, and pruned ≡ full.
    */
  private def x9CompactOrdered(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.{Compaction, DataSkipping}
    val base = t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"))
    val path = scratch(dir, "x9_co_in")
    base.repartitionByRange(16, col("event_id"))
      .sortWithinPartitions("event_id")
      .write.mode("overwrite").parquet(path)
    val m0 = DataSkipping.statsManifest(spark, path, Seq("event_id")).cache()
    val sizes = Compaction.fileSizes(spark, path)
      .join(m0.select(col("file"), col("event_id_min").as("ord")), Seq("file"))
    val total = sizes.agg(sum(col("bytes"))).head().getLong(0)
    val plan = Compaction.sequentialCompactionPlan(sizes, math.max(1L, total / 4))
      .cache()
    val out = scratch(dir, "x9_co_out")
    Compaction.compact(spark, path, plan, out)
    val binFiles = DataSkipping.compactedFiles(spark, out).cache()
    val derived = DataSkipping.manifestAfterCompaction(m0, plan, binFiles).cache()
    val spans = derived.select(col("event_id_min"), col("event_id_max"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val disjoint = spans.nonEmpty && spans.sliding(2).forall {
      case Array((_, aMax), (bMin, _)) => bMin > aMax
      case _                           => true
    }
    val n = base.agg(count(lit(1))).head().getLong(0)
    val (lo, hi) = (n / 2, n / 2 + n / 8)
    val cand = DataSkipping.candidateFiles(derived,
      Seq(DataSkipping.longRange("event_id", lo, hi)))
    val boxPrunes = cand.count() > 0 && cand.count() < binFiles.count()
    val prunedN = DataSkipping.prunedRead(spark, out, cand)
      .where(col("event_id").between(lo, hi)).count()
    val fullN = base.where(col("event_id").between(lo, hi)).count()
    base.agg(count(lit(1)).as("n_rows"))
      .select(col("n_rows"),
        lit(disjoint).as("ranges_disjoint"),
        lit(boxPrunes).as("box_prunes"),
        lit(prunedN == fullN).as("pruned_equals_full"),
        lit(binFiles.count() < 16L).as("files_reduced"))
  }

  private def x9SkippingStr(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.DataSkipping
    val ev = t(spark, dir, "events")
    val et = evTime(ev)
    val base = ev.select(col("event_id"), col("user_id"),
      date_format(timestamp_millis(et.ms), "yyyy-MM-dd").as("day"), col("value"))
    val path = scratch(dir, "x9_skipping_str")
    base.repartitionByRange(32, col("day"), col("event_id"))
      .sortWithinPartitions("day", "event_id")
      .write.mode("overwrite").parquet(path)
    val manifest = DataSkipping.statsManifest(spark, path, Seq("day")).cache()
    val (dlo, dhi) = ("2024-01-15", "2024-01-19")
    val cand = DataSkipping.candidateFiles(manifest,
      Seq(DataSkipping.stringRange("day", dlo, dhi)))
    val rowFilter = col("day").between(dlo, dhi)
    val prunedS = skipSummary(
      DataSkipping.prunedRead(spark, path, cand).where(rowFilter), "")
    val fullS = skipSummary(base.where(rowFilter), "_f")
    val counts = cand.agg(count(lit(1)).as("__n_cand"))
      .crossJoin(manifest.agg(count(lit(1)).as("__n_files")))
    prunedS.crossJoin(broadcast(fullS)).crossJoin(broadcast(counts))
      .select(col("n_rows"), col("sum_ids"),
        col("sum_value").cast("double").as("sum_value"),
        (col("n_rows") === col("n_rows_f") && col("sum_ids") === col("sum_ids_f") &&
          col("sum_value") === col("sum_value_f")).as("pruned_equals_full"),
        (col("__n_cand") > 0L && col("__n_cand") < col("__n_files"))
          .as("files_skipped"))
  }

  /** X9mc: metadata-only box aggregation over the skipping manifest
    * ([[graft.ops.DataSkipping.metadataBoxCount]]): candidate files
    * provably INTERIOR to the box are counted from manifest rows
    * without being opened; only boundary files are scanned — at 100 TB
    * the scan cost of a large box becomes its SURFACE, not its volume.
    * Gate: the box count travels verbatim (the oracle replays the box
    * over raw events), metadata+scan ≡ full recount and actual file
    * pruning ride as pinned in-plan booleans. Box = middle half on
    * both dimensions, bounds by exact integer arithmetic from the
    * data's own min/max.
    */
  private def x9MetaCount(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.DataSkipping
    val ev = t(spark, dir, "events")
    val et = evTime(ev)
    val base = ev.select(col("user_id"), et.ms.as("ts_ms"))
    val path = scratch(dir, "x9_meta_count")
    graft.ops.Layout.zorderWrite(base, "user_id", "ts_ms", path, numFiles = 32)
    val manifest = DataSkipping.statsManifest(spark, path, Seq("user_id", "ts_ms"))
      .cache()
    val b = base.agg(min("user_id"), max("user_id"),
      min("ts_ms"), max("ts_ms")).head()
    val (umin, umax, tmin, tmax) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val (ulo, uhi) = (umin + (umax - umin) / 4, umin + 3 * (umax - umin) / 4)
    val (tlo, thi) = (tmin + (tmax - tmin) / 4, tmin + 3 * (tmax - tmin) / 4)
    val ranges = Seq(DataSkipping.longRange("user_id", ulo, uhi),
      DataSkipping.longRange("ts_ms", tlo, thi))
    val rowFilter = col("user_id").between(ulo, uhi) && col("ts_ms").between(tlo, thi)
    val meta = DataSkipping.metadataBoxCount(spark, path, manifest, ranges, rowFilter)
    val fullC = base.where(rowFilter).agg(count(lit(1)).as("__full"))
    meta.crossJoin(broadcast(fullC))
      .select(col("n_rows"),
        (col("n_rows") === col("__full")).as("meta_plus_scan_eq_full"),
        (col("n_files_scanned") < col("n_files_total")).as("files_pruned"))
  }

  /** X9bl: Bloom-indexed point lookup — the EQUALITY modality of data
    * skipping ([[graft.ops.DataSkipping.bloomIndex]]): the z-layout on
    * (user_id, ts_ms) scatters event ids, so every file's id RANGE is
    * near-full-width and min/max stats prune nothing for a point
    * predicate; the per-file Bloom index opens ~1 file + fpp·files
    * false positives instead. Gate: the looked-up row travels verbatim
    * (key = max event id, derived in-engine), pruning rides as a
    * pinned boolean.
    */
  private def x9PointLookup(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.DataSkipping
    val ev = t(spark, dir, "events")
    val et = evTime(ev)
    val base = ev.select(col("event_id"), col("user_id"), et.ms.as("ts_ms"),
      col("value"))
    val path = scratch(dir, "x9_point_lookup")
    graft.ops.Layout.zorderWrite(base, "user_id", "ts_ms", path, numFiles = 32)
    val n = base.count()
    val idx = DataSkipping.bloomIndex(spark, path, "event_id",
      math.max(64L, n / 32), fpp = 0.01).cache()
    val key = base.agg(max("event_id")).head().getLong(0)
    val cand = DataSkipping.candidateFilesByKey(idx, lit(key))
    val counts = cand.agg(count(lit(1)).as("__n_open"))
      .crossJoin(idx.agg(count(lit(1)).as("__n_files")))
    DataSkipping.prunedRead(spark, path, cand)
      .where(col("event_id") === key)
      .crossJoin(broadcast(counts))
      .select(col("event_id"), col("user_id"), col("ts_ms"), col("value"),
        (col("__n_open") >= 1L && col("__n_open") < col("__n_files"))
          .as("files_pruned"))
  }

  /** X9cp: small-file compaction ([[graft.ops.Compaction]]) — the
    * maintenance pass that re-amortizes streaming ingest's small-file
    * tax: a 64-file events table FFD-packed toward total/8-sized bins
    * and rewritten in ONE job (bin id joined on via input_file_name,
    * one exchange, one file per bin). Gate: the compacted table's
    * aggregates travel verbatim (content preservation is the whole
    * contract — the oracle replays raw events); plan invariants (full
    * cover, bins within target, fewer files) ride as pinned booleans.
    */
  private def x9Compact(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Compaction
    val ev = t(spark, dir, "events")
    val et = evTime(ev)
    val base = ev.select(col("event_id"), col("user_id"), et.ms.as("ts_ms"),
      col("value"))
    val path = scratch(dir, "x9_compact_in")
    base.repartition(64).write.mode("overwrite").parquet(path)
    val sizes = Compaction.fileSizes(spark, path).cache()
    val total = sizes.agg(sum(col("bytes"))).head().getLong(0)
    val target = math.max(1L, total / 8)
    val plan = Compaction.compactionPlan(sizes, target).cache()
    val out = scratch(dir, "x9_compact_out")
    Compaction.compact(spark, path, plan, out)
    val planChecks = plan.groupBy("bin")
      .agg(sum(col("bytes")).as("__bb"), count(lit(1)).as("__bn"))
      .agg((max(when(col("__bn") > 1, col("__bb")).otherwise(0L)) <= target)
          .as("bins_within_target"),
        (count(lit(1)) < 64L).as("files_reduced"))
      .crossJoin(plan.agg((count(lit(1)) === 64L &&
        sum(col("bytes")) === total).as("cover_ok")))
    spark.read.parquet(out).agg(
        count(lit(1)).as("n_rows"),
        sum(col("event_id")).as("sum_ids"),
        sum(round(col("value"), 6).cast(DecimalType(18, 6)))
          .cast("double").as("sum_value"))
      .crossJoin(broadcast(planChecks))
      .select(col("n_rows"), col("sum_ids"), col("sum_value"),
        col("cover_ok"), col("bins_within_target"), col("files_reduced"))
  }

  /** X9mi: incremental manifest maintenance — the a2_incremental_rollup
    * discipline applied to table METADATA: after a streaming-style
    * append, footers are harvested for the NEW files only and unioned
    * with the stored manifest ([[graft.ops.DataSkipping
    * .statsManifestFiles]]); per-file rows are independent, so the
    * union must equal a full rebuild ROW-FOR-ROW — asserted in-plan by
    * symmetric anti-joins, with deterministic file/row totals traveling
    * verbatim.
    */
  private def x9ManifestIncremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.DataSkipping
    val ev = t(spark, dir, "events")
    val et = evTime(ev)
    val base = ev.select(col("event_id"), col("user_id"), et.ms.as("ts_ms"))
    val path = scratch(dir, "x9_manifest_incremental")
    base.where(col("ts_ms") < Jan15).repartition(8)
      .write.mode("overwrite").parquet(path)
    val m1 = DataSkipping.statsManifest(spark, path, Seq("user_id", "ts_ms")).cache()
    val before = DataSkipping.listDataFiles(spark, path).toSet
    base.where(col("ts_ms") >= Jan15).repartition(4)
      .write.mode("append").parquet(path)
    val newFiles = DataSkipping.listDataFiles(spark, path).filterNot(before)
    val schema = spark.read.parquet(path).schema
    val incremental = m1.unionByName(
      DataSkipping.statsManifestFiles(spark, newFiles, schema, Seq("user_id", "ts_ms")))
    val rebuilt = DataSkipping.statsManifest(spark, path, Seq("user_id", "ts_ms"))
    val onlyInc = incremental.exceptAll(rebuilt).count()
    val onlyReb = rebuilt.exceptAll(incremental).count()
    // file count gated as a LISTING-derived invariant, not a pinned
    // literal: Spark writes no file for an empty task, so "8 + 4
    // partitions = 12 files" is config/scale-dependent — what the
    // incremental contract actually owes is one manifest row per data
    // file on disk
    val nListed = DataSkipping.listDataFiles(spark, path).size.toLong
    incremental.agg(count(lit(1)).as("__n_files"), sum(col("n_rows")).as("n_rows"))
      .select((col("__n_files") === lit(nListed)).as("one_row_per_file"),
        col("n_rows"),
        lit(onlyInc == 0 && onlyReb == 0).as("incremental_eq_rebuild"))
  }

  /** A2i: incremental rollup maintenance — the reference's checkpoint-
    * incremental model applied to AGGREGATES: the stored history rollup
    * (pre-Jan20 partials, in a real deployment a persisted table) merges
    * with the new increment's partials by associative re-aggregation of
    * (count, exact-decimal sum) state — history ROWS are never rescanned,
    * only partial-aggregate state rides the merge. The oracle is the full
    * recompute, so the hash gate PROVES merge ≡ recompute.
    */
  private def a2IncrementalRollup(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val et = evTime(ev)
    def partial(pred: Column) = ev.where(pred)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"), sum(col("value").cast(DecimalType(12, 2))).as("__s"))
    val history = partial(et.before(Jan20))
    val increment = partial(et.atLeast(Jan20))
    history.unionByName(increment)
      .groupBy("user_id", "event_type")
      .agg(sum(col("n")).as("n"), sum(col("__s")).cast("double").as("sum_value"))
      .orderBy("user_id", "event_type")
  }

  /** X10a: one-scan column profile of `orders` — completeness + exact
    * distinct per column from a single aggregation ([[graft.ops.DataQuality]]).
    */
  private def x10DqProfile(spark: SparkSession, dir: String): DataFrame =
    graft.ops.DataQuality.profile(t(spark, dir, "orders"),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"))

  /** X10a: the scale-path profile gated against the exact one — the
    * approx (HLL++, no-expand) variant's distinct estimate must land
    * within 5% of the exact count for every column, asserted IN-PLAN so
    * the boolean rides the hash gate (oracle emits `true` per row; the
    * twin cannot reproduce Spark's sketch, only its accuracy contract —
    * the x3_ivf_recall gate pattern). Exact metrics travel alongside, so
    * the row is fully hash-checked except the estimate itself. rsd 0.01
    * keeps 5% at 5 sketch standard deviations; the sketch is
    * deterministic per dataset, so the gate is stable, not flaky.
    */
  private def x10DqProfileApprox(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val exact = graft.ops.DataQuality.profile(orders, cols)
    val approx = graft.ops.DataQuality.profileApprox(orders, cols, rsd = 0.01)
      .select(col("column"), col("n_distinct_approx"))
    exact.join(broadcast(approx), Seq("column"))
      .select(col("column"), col("n_rows"), col("n_nulls"), col("completeness"),
        col("n_distinct"),
        (abs(col("n_distinct_approx") - col("n_distinct")).cast("double") <=
          lit(0.05) * col("n_distinct").cast("double")).as("approx_ok"))
      .orderBy("column")
  }

  /** X10d: snapshot reconciliation ([[graft.ops.Diff]]) — diff the orders
    * snapshot against a deterministically mutated twin (keys%97 dropped,
    * totalprice bumped on keys%89==1, keys%101 re-added under negated
    * keys), both derived IN-QUERY so either engine builds the identical
    * pair; the audit report is (status, n, min_key, max_key) — the check
    * that catches what timestamp-based CDC misses by construction.
    */
  private def x10TableDiff(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val mutated = base.where(col("o_orderkey") % 97 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 89 === 1, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
      .unionByName(base.where(col("o_orderkey") % 101 === 0)
        .withColumn("o_orderkey", -(col("o_orderkey") + 1)))
    graft.ops.Diff.snapshotDiff(base, mutated, "o_orderkey")
      .groupBy("status").agg(count(lit(1)).as("n"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
      .orderBy("status")
  }

  /** X7sq: per-user ordered event sequences ([[graft.ops.Sequences]]) —
    * the training-example transpose of the event log, truncation pushed
    * BEFORE collection so no buffer holds an unbounded history.
    */
  private def x7BuildSequences(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    graft.ops.Sequences.buildSequences(ev, "user_id",
        graft.functions.EventTime.bind(ev).ms, "event_id", col("event_type"),
        maxLen = 32)
      .orderBy("user_id")
  }

  /** X2ap: EXACT all-pairs Jaccard join ([[graft.ops.SetJoin]]) over
    * trigram shingle sets at J ≥ 1/2 — the deterministic, no-false-
    * negative complement to x2_minhash_lsh at the same threshold; the
    * twin is the quadratic all-pairs form, so hash equality proves the
    * prefix filter loses no pair.
    */
  private def x2AllpairsJaccard(spark: SparkSession, dir: String): DataFrame =
    graft.ops.SetJoin.jaccardJoin(t(spark, dir, "documents"), "doc_id",
        Dedup.wordShingles(col("text"), 3), tNum = 1, tDen = 2)
      .orderBy("id_a", "id_b")

  /** X2wj: WEIGHTED exact set-similarity join
    * ([[graft.ops.SetJoin.weightedJaccardJoin]]) — tf-idf-weighted
    * overlap at WJ ≥ 1/2 over the same trigram shingles as
    * [[x2AllpairsJaccard]]: a corpus-frequent stop-shingle stops
    * deciding near-duplication, a rare shared passage decides it
    * strongly (the form boilerplate-heavy dedup actually wants). Twin =
    * the quadratic all-pairs weighted form with the identical integer
    * micro-idf weights, so hash equality proves the weighted prefix
    * filter loses no pair AND the weight arithmetic replays exactly.
    */
  private def x2WeightedJaccard(spark: SparkSession, dir: String): DataFrame =
    graft.ops.SetJoin.weightedJaccardJoin(t(spark, dir, "documents"), "doc_id",
        Dedup.wordShingles(col("text"), 3), tNum = 1, tDen = 2)
      .orderBy("id_a", "id_b")

  /** X6hh: exact heavy hitters in bounded memory ([[graft.ops.Frequent]])
    * — every word with frequency > n/50 over the corpus via two-pass
    * Misra–Gries; the sketch bounds MEMORY, the recount makes the OUTPUT
    * exact, so the plain groupBy-HAVING twin gates it bit-for-bit.
    */
  private def x6HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val words = t(spark, dir, "documents")
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .where(length(col("w")) > 0)
    graft.ops.Frequent.heavyHitters(words, col("w"), k = 50)
      .orderBy("key")
  }

  /** X6cms: heavy-hitter counts from STORED mergeable Count-Min sketches
    * ([[graft.ops.Sketches]] CMS half + [[graft.functions.CmsMergeAgg]]) —
    * the frequency complement of x10_hll_incremental's distinct story:
    * per-source sketches are the persisted artifacts, the corpus count
    * upper bound for any key is read from their UNION without rescanning
    * history. Gated like every sketch here: the exact top-50 word counts
    * travel verbatim (the candidate set the store would be probed for),
    * the sketch rides as three IN-PLAN booleans — the one-sided error
    * contract (estimate never below truth), the eps*N over-estimate bound,
    * and MERGE-CONSISTENCY (estimates from the union of per-source
    * sketches EQUAL to one sketch over the whole corpus — cell-wise
    * addition is grouping-insensitive), which is the property the
    * incremental read path stands on.
    */
  private def x6CmsHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    // physical form (r17): ONE corpus-scale pass — the exact per-(source,
    // word) count table (a map-side-combined long aggregate) is pinned and
    // everything downstream is vocabulary-sized: the top-50 recount SUMS
    // the per-source counts (same exact longs), and both sketch producers
    // build via weighted adds ([[graft.functions.CmsBuildAgg]]),
    // byte-identical to the per-occurrence form: add(k, n) ≡ n × add(k)
    // and cell-wise addition is grouping-insensitive — SketchesSpec parity
    // test). Building from occurrence rows made every partial-agg buffer a
    // 1.6 MB sketch table (partitions × groups partials to allocate,
    // serialize and merge — the GC-bound dominant stage of the r17
    // profile, the same per-task-buffer cliff as the profileApprox HLL).
    val wcs = graft.ops.OpCaches.pin(t(spark, dir, "documents")
      .select(col("source"), explode(split(lower(col("text")), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("source").as("group"), col("w").as("__k"))
      .agg(count(lit(1)).as("__n")))
    val topk = wcs.groupBy(col("__k").as("w")).agg(sum(col("__n")).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("w")).limit(50)
    val perSource = Sketches.cmsGroupSketchesFromCounts(wcs)
    val merged = Sketches.cmsUnionSketch(perSource)
      .select(col("sketch").as("__m"), col("n_rows").as("__n"))
    // coalesce(1): ONE weighted build over the vocab-sized count table
    // instead of a 1.6 MB partial sketch per cached partition (value is
    // partition-count independent — cell-add is grouping-insensitive)
    val oneShot = wcs.coalesce(1).agg(
      call_function("graft_cms_build", col("__k"), col("__n"),
        lit(1e-4), lit(0.999), lit(42)).as("__os"))
    topk.crossJoin(broadcast(merged)).crossJoin(broadcast(oneShot))
      .select(col("w").as("word"), col("n_occurrences"),
        (Sketches.cmsEstimate(col("__m"), col("w")) >= col("n_occurrences"))
          .as("est_lower_ok"),
        (Sketches.cmsEstimate(col("__m"), col("w")).cast("double") <=
          col("n_occurrences").cast("double") +
            lit(1e-4) * col("__n").cast("double")).as("est_upper_ok"),
        (Sketches.cmsEstimate(col("__m"), col("w")) ===
          Sketches.cmsEstimate(col("__os"), col("w"))).as("merge_consistent"))
      .orderBy(col("n_occurrences").desc, col("word"))
  }

  /** X5u: Unicode NFC canonicalization ([[graft.functions.NfcNormalize]])
    * — the cleaning pass that makes exact dedup / shingling / fingerprints
    * see through encoding variance (decomposed vs precomposed graphemes).
    * The synthetic corpus is pure ASCII (NFC's identity — verified), so
    * the gate PLANTS the six canonical-equivalence classes that matter
    * (combining marks, singleton signs like Å/Ω, Hangul jamo composition)
    * per doc_id; both engines implement UAX #15 NFC, so the normalized
    * strings hash bit-for-bit.
    */
  private def x5UnicodeNormalize(spark: SparkSession, dir: String): DataFrame = {
    // decomposed on purpose: e+combining-acute, Angstrom SIGN (U+212B),
    // Hangul jamo, e+combining-circumflex, A+combining-ring, Ohm SIGN —
    // NFC composes every one; escapes keep the source encoding-proof
    val seqs = array(lit("Cafe\u0301"), lit("\u212B"),
      lit("\u1100\u1161\u11A8"), lit("e\u0302tre"), lit("A\u030A"),
      lit("\u2126"))
    t(spark, dir, "documents")
      .select(col("doc_id"),
        concat(element_at(seqs, (col("doc_id") % 6 + 1).cast("int")),
          lit(" "), col("text")).as("__dirty"))
      .select(col("doc_id"),
        call_function("graft_nfc", col("__dirty")).as("norm_text"),
        (call_function("graft_nfc", col("__dirty")) =!= col("__dirty"))
          .as("changed"),
        length(call_function("graft_nfc", col("__dirty"))).as("n_chars_norm"))
      .orderBy("doc_id")
  }

  /** X5k: k-anonymity suppression ([[graft.ops.Privacy]]) — the release
    * gate for user-derived metadata: rows whose quasi-identifier tuple
    * (nation, segment, coarse balance bucket) is shared by fewer than 10
    * rows get the tuple nulled; one window shuffle, no join-back.
    */
  private def x5KAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey"),
        col("c_nationkey").cast("long").as("nationkey"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal").cast("double") / 1000.0).cast("long")
          .as("bal_bucket"))
    graft.ops.Privacy
      .suppressBelowK(cust, Seq("nationkey", "segment", "bal_bucket"), k = 10)
      .orderBy("c_custkey")
  }

  /** X5ka: the matching one-row audit — what the gate checks before
    * shipping ([[graft.ops.Privacy.kAnonymityAudit]]).
    */
  private def x5KAnonymityAudit(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .select(col("c_nationkey").cast("long").as("nationkey"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal").cast("double") / 1000.0).cast("long")
          .as("bal_bucket"))
    graft.ops.Privacy
      .kAnonymityAudit(cust, Seq("nationkey", "segment", "bal_bucket"), k = 10)
  }

  /** X8er: entity resolution — the MDM pipeline composed from this
    * round's pieces: typo-tolerant name pairs ([[graft.ops.Fuzzy]]) →
    * transitive closure ([[Components.connectedComponents]]) → canonical
    * record per entity cluster (min key), singletons canonical by
    * themselves. The sequential-name fixture chains into a few giant
    * components (any two ids connected via single-digit steps), which is
    * exactly the degenerate-blocking stress a resolution pipeline must
    * survive; the twin closes the same graph recursively.
    */
  private def x8EntityResolution(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val pairs = graft.ops.OpCaches.pin(
      graft.ops.Fuzzy.editNeighborPairs(cust, "c_custkey", col("c_name"))
        .select(col("id_a"), col("id_b")))
    val comp = Components.connectedComponents(pairs)
    cust.select(col("c_custkey"))
      .join(comp, cust("c_custkey") === comp("id"), "left")
      .select(col("c_custkey"),
        coalesce(col("component"), col("c_custkey")).as("canonical_key"))
      .withColumn("is_canonical", col("c_custkey") === col("canonical_key"))
      .orderBy("c_custkey")
  }

  /** X10m: robust metric anomaly report ([[graft.ops.Anomaly]]) — the
    * median/MAD modified-z-score alarm per event type over the ingest
    * feed's value column: the continuous-valued complement of the boolean
    * constraint suite (x10_dq_constraints).
    */
  private def x10AnomalyMad(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    graft.ops.Anomaly.madOutlierReport(ev, "event_type", "value")
  }

  /** X10ma: the unbounded-group anomaly form gated against the exact one
    * (the x10_dq_profile_approx pattern): the sketch-based report's med
    * and mad must each sit inside the exact 45–55% RANK window of their
    * group, asserted IN-PLAN so the booleans ride the hash gate (the twin
    * cannot reproduce Spark's GK sketch, only its accuracy contract).
    * Rank, not value: a rank-ε guarantee gives no value bound on gappy
    * distributions (a 2-row group {0, 100} has interpolated med 50 that
    * NO data value approaches), so the check counts the group's values
    * strictly below / at-or-below the estimate and requires that rank
    * interval to intersect [45%, 55%] of n — exact integer arithmetic,
    * and the sketch's ±n/10000 rank error sits 500× inside the window,
    * so the gate is stable whatever the merge order. Exact report
    * columns travel verbatim, so the row is fully hash-checked except
    * the estimates themselves.
    */
  private def x10AnomalyMadApprox(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val exact = graft.ops.Anomaly.madOutlierReport(ev, "event_type", "value")
    val approx = graft.ops.Anomaly
      .madOutlierReportApprox(ev, "event_type", "value")
      .select(col("event_type"), col("med").as("__ma"), col("mad").as("__da"))
    val ranks = ev.join(broadcast(approx), Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("__n"),
        sum(when(col("value") < col("__ma"), 1L).otherwise(0L)).as("__lt_m"),
        sum(when(col("value") <= col("__ma"), 1L).otherwise(0L)).as("__le_m"),
        sum(when(abs(col("value") - col("__ma")) < col("__da"), 1L).otherwise(0L))
          .as("__lt_d"),
        sum(when(abs(col("value") - col("__ma")) <= col("__da"), 1L).otherwise(0L))
          .as("__le_d"))
      .select(col("event_type"),
        (col("__lt_m") * 100 <= col("__n") * 55 &&
          col("__le_m") * 100 >= col("__n") * 45).as("med_rank_ok"),
        (col("__lt_d") * 100 <= col("__n") * 55 &&
          col("__le_d") * 100 >= col("__n") * 45).as("mad_rank_ok"))
    exact.join(broadcast(ranks), Seq("event_type"))
      .select(col("event_type"), col("n"), col("med"), col("mad"),
        col("n_outliers"), col("med_rank_ok"), col("mad_rank_ok"))
      .orderBy("event_type")
  }

  /** X10hll: incremental distinct counting through STORED mergeable
    * sketches ([[graft.ops.Sketches]]) — per-day HLL sketches over the
    * event feed's user ids, unioned into the to-date distinct estimate
    * without rescanning history (the a2_incremental_rollup discipline one
    * level up the aggregation lattice: distincts need a mergeable sketch
    * where counts re-aggregate with +). Gated like every sketch here: the
    * exact metrics travel verbatim, the estimate rides as two IN-PLAN
    * booleans — the 5% accuracy contract, and the MERGE-CONSISTENCY
    * property (union of daily sketches estimates EQUAL to one sketch over
    * the whole feed — register max is grouping-insensitive), which is the
    * property the incremental read path stands on.
    */
  private def x10HllIncremental(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val ms = graft.functions.EventTime.bind(ev).ms
    val daily = Sketches.hllGroupSketches(
      ev.select((ms / lit(86400000L)).cast("long").as("__day"), col("user_id")),
      col("__day"), col("user_id"))
    val incremental = Sketches.hllUnionEstimate(daily)
      .select(col("n_groups").as("n_days"), col("n_rows"),
        col("distinct_approx"))
    val oneShot = ev.agg(
      hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12))).as("__os"))
    val exact = ev.agg(count(lit(1)).as("n_rows_exact"),
      countDistinct(col("user_id")).as("n_distinct_users"))
    incremental.crossJoin(broadcast(oneShot)).crossJoin(broadcast(exact))
      .select(col("n_days"), col("n_rows"), col("n_distinct_users"),
        (abs(col("distinct_approx") - col("n_distinct_users")).cast("double") <=
          lit(0.05) * col("n_distinct_users").cast("double")).as("approx_ok"),
        (col("distinct_approx") === col("__os")).as("merge_consistent"))
  }

  /** X10hlo: cohort distinct-overlap from STORED sketches
    * ([[graft.ops.Sketches.hllPairOverlaps]]) — every event-type pair's
    * shared-user count estimated by inclusion–exclusion over the per-type
    * HLL artifacts alone (pair unions via the scalar `hll_union` — no
    * re-scan). Gated like the rest of the store: exact per-type and
    * intersection counts travel verbatim, the estimate rides as an
    * IN-PLAN union-relative 5% contract boolean (IE error is bounded
    * relative to |A∪B|, not |A∩B|).
    */
  private def x10HllOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.ops.OpCaches.pin(
      t(spark, dir, "events").select(col("event_type"), col("user_id")))
    val est = Sketches.hllPairOverlaps(
      Sketches.hllGroupSketches(ev, col("event_type"), col("user_id")))
      .select(col("group_a").as("type_a"), col("group_b").as("type_b"),
        col("est_intersect"), col("est_union"))
    val perType = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"))
    val users = ev.distinct()
    val exact = users.select(col("event_type").as("type_a"), col("user_id"))
      .join(users.select(col("event_type").as("type_b"), col("user_id")),
        Seq("user_id"))
      .where(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_intersect"))
    exact
      .join(perType.select(col("event_type").as("type_a"), col("n_users").as("n_a")), Seq("type_a"))
      .join(perType.select(col("event_type").as("type_b"), col("n_users").as("n_b")), Seq("type_b"))
      .join(est, Seq("type_a", "type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_intersect"),
        (abs(col("est_intersect") - col("n_intersect")).cast("double") <=
          lit(0.05) * greatest(col("n_a") + col("n_b") - col("n_intersect"),
            lit(1L)).cast("double")).as("overlap_ok"))
      .orderBy("type_a", "type_b")
  }

  /** X10qs: feed quantiles from STORED mergeable quantile sketches — the
    * third leg of the store trio (HLL distincts / CMS frequencies / GK
    * QUANTILES): per-event-type sketches over `value` persisted once, the
    * whole-feed p50/p90/p99 read from their UNION without rescanning.
    * GK merge is rank-sound but not grouping-invariant, so the gate is
    * the RANK contract (the x10_anomaly_mad_approx discipline): each
    * estimate's below/at-or-below counts must place its rank inside
    * p ± 5% of n, exact integer arithmetic; the exact (interpolated)
    * percentiles travel verbatim beside it.
    */
  private def x10QuantileStore(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.ops.OpCaches.pin(
      t(spark, dir, "events").select(col("event_type"), col("value")))
    val merged = Sketches.qsUnionSketch(
      Sketches.qsGroupSketches(ev, col("event_type"), col("value")))
      .select(col("n_groups"), col("n_rows"),
        Sketches.qsQuantile(col("sketch"), 0.5).as("__q50"),
        Sketches.qsQuantile(col("sketch"), 0.9).as("__q90"),
        Sketches.qsQuantile(col("sketch"), 0.99).as("__q99"))
    val exact = ev.agg(
      round(expr("percentile(value, 0.5)"), 6).as("p50_exact"),
      round(expr("percentile(value, 0.9)"), 6).as("p90_exact"),
      round(expr("percentile(value, 0.99)"), 6).as("p99_exact"))
    def rankOk(q: Column, pMille: Int): Column = {
      val lt = sum(when(col("value") < q, 1L).otherwise(0L))
      val le = sum(when(col("value") <= q, 1L).otherwise(0L))
      lt * 1000 <= col("n_rows") * (pMille + 50) &&
        le * 1000 >= col("n_rows") * (pMille - 50)
    }
    ev.crossJoin(broadcast(merged))
      .groupBy(col("n_groups"), col("n_rows"))
      .agg(rankOk(col("__q50"), 500).as("q50_rank_ok"),
        rankOk(col("__q90"), 900).as("q90_rank_ok"),
        rankOk(col("__q99"), 990).as("q99_rank_ok"))
      .crossJoin(broadcast(exact))
      .select(col("n_groups"), col("n_rows"), col("p50_exact"),
        col("p90_exact"), col("p99_exact"), col("q50_rank_ok"),
        col("q90_rank_ok"), col("q99_rank_ok"))
  }

  /** X5wz: winsorization (outlier capping at p1/p99) — the feature-prep
    * pass that keeps one corrupt metric from dominating a normalized
    * feature: values clamped into [q01, q99]. The registered clamp uses
    * EXACT percentiles so every output travels verbatim; the sketch
    * cutpoints (the 100 TB path — read from the stored GK artifact, no
    * percentile state) ride as rank-window booleans: count(< cut)/n
    * must sit within p ± (2ε + ties) — conditional counts, window-free.
    */
  private def x5Winsorize(spark: SparkSession, dir: String): DataFrame = {
    val eps = 1e-3
    val evRaw = t(spark, dir, "events")
    val ev = graft.ops.OpCaches.pin(evRaw.select(col("value")))
    val cuts = ev.agg(
      expr("percentile(value, 0.01D)").as("__c1"),
      expr("percentile(value, 0.99D)").as("__c99"))
    val sk = Sketches.qsGroupSketches(
      ev.select(lit(0L).as("g"), col("value")), col("g"), col("value"), eps)
      .select(col("sketch"), col("n_rows"))
    val clamped = ev.crossJoin(broadcast(cuts)).agg(
      count(lit(1)).as("n_rows_t"),
      sum(when(col("value") < col("__c1"), 1L).otherwise(0L)).as("n_floored"),
      sum(when(col("value") > col("__c99"), 1L).otherwise(0L)).as("n_capped"),
      sum(round(greatest(least(col("value"), col("__c99")), col("__c1")), 6)
        .cast(DecimalType(18, 6))).cast("double").as("sum_winsorized"))
    def cutOk(p: Double, cut: Column): Column = {
      // sketch cut's exact rank must sit inside p ± (2*eps) of n (+1 tie slack)
      val lt = sum(when(col("value") < cut, 1L).otherwise(0L))
      val le = sum(when(col("value") <= cut, 1L).otherwise(0L))
      (lt.cast("double") <= (lit(p) + lit(2 * eps)) * count(lit(1)) + lit(1.0)) &&
        (le.cast("double") >= (lit(p) - lit(2 * eps)) * count(lit(1)) - lit(1.0))
    }
    // the sketch cuts are two scalars — read them ONCE from the 1-row
    // artifact and embed as literals (the DecodedSketchProbe hot-path
    // rule: a non-foldable sketch column probed per data row pays a
    // KB memcmp per row — measured 2.7 s → 53.6 s at ×10 before this)
    val cutRow = sk.select(
      Sketches.qsQuantile(col("sketch"), 0.01).as("__c1s"),
      Sketches.qsQuantile(col("sketch"), 0.99).as("__c99s")).head()
    val sketchCuts = ev.agg(
      cutOk(0.01, lit(cutRow.getDouble(0))).as("sketch_c1_ok"),
      cutOk(0.99, lit(cutRow.getDouble(1))).as("sketch_c99_ok"))
    clamped.crossJoin(broadcast(cuts)).crossJoin(broadcast(sketchCuts))
      .select(col("n_rows_t").as("n_rows"), col("n_floored"), col("n_capped"),
        round(col("__c1"), 6).as("c1_exact"), round(col("__c99"), 6).as("c99_exact"),
        col("sum_winsorized"), col("sketch_c1_ok"), col("sketch_c99_ok"))
  }

  /** X5dq: distribution drift from the quantile store — the BINLESS
    * companion to the PSI histogram drift (X5dr's bin edges are a
    * modeling choice; rank probes are not): era A's exact deciles
    * probed through era B's CDF, drift = max decile gap
    * max_p |p − F_B(q_A(p))| — a KS statistic coarsened to 9 fixed
    * depths, so the witness stays window-free (percentile agg +
    * conditional counts, the x5_percentile_rank lesson applied from
    * the start). The exact statistic travels verbatim; the
    * sketch-only version (both CDFs read from stored GK artifacts —
    * the deployed path touches no data) rides as a ±(2ε_A + 2ε_B +
    * tie-slack) boolean per depth.
    */
  private def x5DriftQuantile(spark: SparkSession, dir: String): DataFrame = {
    val eps = 1e-3
    val evRaw = t(spark, dir, "events")
    val et = evTime(evRaw)
    val ev = graft.ops.OpCaches.pin(
      evRaw.select(et.ms.as("__ms"), col("value")))
    val eraA = ev.where(col("__ms") < Jan15).select(col("value"))
    val eraB = ev.where(col("__ms") >= Jan15).select(col("value"))
    val ps = (1 to 9).map(_ / 10.0)
    val qa = eraA.agg(expr(
      s"percentile(value, array(${ps.mkString("D,")}D))").as("__qs"))
    val probed = eraB.crossJoin(broadcast(qa))
    val fCols: Seq[Column] = ps.indices.map(i =>
      (sum(when(col("value") <= col("__qs").getItem(i), 1L).otherwise(0L))
        .cast("double") / count(lit(1))).as(s"__f$i"))
    val exactF = probed.agg(count(lit(1)).as("n_b"), fCols: _*)
    val skA = Sketches.qsGroupSketches(
      eraA.select(lit(0L).as("g"), col("value")), col("g"), col("value"), eps)
      .select(col("sketch").as("__ska"))
    val skB = Sketches.qsGroupSketches(
      eraB.select(lit(0L).as("g"), col("value")), col("g"), col("value"), eps)
      .select(col("sketch").as("__skb"))
    val gaps = ps.indices.map(i => abs(lit(ps(i)) - col(s"__f$i")))
    val exactDrift = greatest(gaps: _*)
    val sketchGaps = ps.indices.map { i =>
      abs(lit(ps(i)) - Sketches.qsRank(col("__skb"),
        Sketches.qsQuantile(col("__ska"), ps(i))))
    }
    val sketchDrift = greatest(sketchGaps: _*)
    exactF.crossJoin(broadcast(qa)).crossJoin(broadcast(skA)).crossJoin(broadcast(skB))
      .select(col("n_b"),
        round(exactDrift, 6).as("drift_exact"),
        // sketch reads exact-ish quantiles through both artifacts: each
        // leg contributes ε rank error plus interpolation-vs-sample
        // discretization at a probe point — 0.01 covers 5× the stack
        (abs(sketchDrift - exactDrift) <= lit(0.01)).as("drift_sketch_ok"))
  }

  /** X6ci: incremental catalog maintenance — ANALYZE TABLE that never
    * rescans history: the table's files split into two disjoint slices,
    * each harvested alone ([[graft.ops.SketchCatalog.harvestFiles]],
    * cost ∝ the slice), appended to one store, then
    * [[graft.ops.SketchCatalog.compact]] merges the slices to the
    * full-table row. The gate pins EXACTNESS of the merge, not
    * approximation: row/byte counts equal the one-shot harvest, the
    * merged CMS is BIT-IDENTICAL to the one-shot sketch (cell-wise
    * addition commutes with partitioning), the HLL distinct estimate is
    * equal (register-max union ≡ one-shot registers), and the planner
    * read path agrees — the CMS inner product against a second table's
    * sketch is the same number through either artifact. All five ride
    * the hash gate as pinned booleans beside a DuckDB-replayable row
    * count.
    */
  private def x6CatalogIncremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.{DataSkipping, SketchCatalog}
    import graft.functions.CmsCodec
    val tbl = scratch(dir, "x6_catalog_tbl")
    t(spark, dir, "events").select(col("event_id"), col("user_id"))
      .repartition(8, col("event_id"))
      .write.mode("overwrite").parquet(tbl)
    val files = DataSkipping.listDataFiles(spark, tbl)
    val (a, b) = files.splitAt(files.size / 2)
    val store = scratch(dir, "x6_catalog_store")
    SketchCatalog.save(SketchCatalog.harvestFiles(spark, tbl, a, Seq("user_id")), store)
    SketchCatalog.save(SketchCatalog.harvestFiles(spark, tbl, b, Seq("user_id")), store,
      append = true)
    val merged = SketchCatalog.compact(spark, store).collect().head
    val full = SketchCatalog.harvest(spark, tbl, Seq("user_id")).collect().head
    def bytes(r: org.apache.spark.sql.Row, c: String) = r.getAs[Array[Byte]](c)
    val otherCms = SketchCatalog.harvest(spark, s"$dir/customer.parquet",
      Seq("c_custkey")).collect().head
    def card(r: org.apache.spark.sql.Row) = CmsCodec.innerProduct(
      CmsCodec.parse(bytes(r, "cms")), CmsCodec.parse(bytes(otherCms, "cms")))
    val evN = t(spark, dir, "events").agg(count(lit(1)).as("n_rows"))
    evN.select(col("n_rows"),
      lit(merged.getAs[Long]("n_rows") == full.getAs[Long]("n_rows"))
        .as("rows_eq"),
      lit(merged.getAs[Long]("n_bytes") == full.getAs[Long]("n_bytes"))
        .as("bytes_eq"),
      lit(java.util.Arrays.equals(bytes(merged, "cms"), bytes(full, "cms")))
        .as("cms_bitexact"),
      lit(merged.getAs[Double]("distinct_est") == full.getAs[Double]("distinct_est"))
        .as("distinct_eq"),
      lit(card(merged) == card(full)).as("join_card_eq"))
  }

  /** X6pa: planner self-audit — estimated vs ACTUAL join cardinality
    * recorded from REAL executions ([[graft.ops.PlannerAudit]]): the
    * actual count rides the audited join itself via `Observation`
    * (CollectMetrics drained through a QueryExecutionListener — no
    * second job), the estimate is the stored-CMS inner product the
    * planner consumes, and the report pins the contract the planning
    * passes depend on — never-undercount (what keeps artifact-driven
    * broadcasts safe) and the ε·|A|·|B| overcount bound — as booleans
    * on every audited join. The replayable column is the actual join
    * count (plain SQL); the estimate itself is CMS-deterministic but
    * engine-specific, so it stays Spark-side.
    */
  private def x6PlannerAudit(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.{PlannerAudit, SketchCatalog}
    val cat = SketchCatalog.activate(spark, q15Catalog(spark, dir))
    SketchCatalog.deactivate(spark) // audit the UN-ruled executions
    val rows = Seq(
      PlannerAudit.auditEquiJoin(spark, cat, s"$dir/lineitem.parquet",
        "l_orderkey", s"$dir/orders.parquet", "o_orderkey"),
      PlannerAudit.auditEquiJoin(spark, cat, s"$dir/orders.parquet",
        "o_custkey", s"$dir/customer.parquet", "c_custkey"))
    val store = scratch(dir, "x6_planner_audit")
    PlannerAudit.record(spark, store, rows, append = false)
    PlannerAudit.report(spark, store)
      .select(concat_ws("|", col("key_a"), col("key_b")).as("join_keys"),
        col("actual_rows"), col("never_undercount"), col("overcount_bounded"))
      .orderBy("join_keys")
  }

  /** X6jk: distinct-key join overlap from stored HLL sketches — the
    * companion planner statistic to [[x6CmsJoinCard]]: where the CMS
    * inner product prices the join's OUTPUT (Σ f_A·f_B), the HLL
    * inclusion–exclusion prices its KEY overlap |keys(A) ∩ keys(B)| —
    * semi-join selectivity, FK-coverage checks, and "should this be a
    * broadcast semi-join filter" decisions, all from per-table KB
    * artifacts with no data touched. Error contract inherited from
    * X10hlo: IE error is union-relative, so the gate tolerance is 5%
    * of the exact UNION, never of the (possibly tiny) intersection.
    */
  private def x6HllJoinKeys(spark: SparkSession, dir: String): DataFrame = {
    def gate(pair: String, dfA: DataFrame, kA: Column,
             dfB: DataFrame, kB: Column): DataFrame = {
      val est = dfA.agg(hll_sketch_agg(kA, lit(12)).as("__ska"))
        .crossJoin(dfB.agg(hll_sketch_agg(kB, lit(12)).as("__skb")))
        .select(
          (hll_sketch_estimate(col("__ska")) + hll_sketch_estimate(col("__skb")) -
            hll_sketch_estimate(hll_union(col("__ska"), col("__skb"))))
            .as("__est_intersect"))
      val exacts = dfA.select(kA.as("__k")).distinct()
        .withColumn("__ina", lit(1))
        .join(dfB.select(kB.as("__k")).distinct().withColumn("__inb", lit(1)),
          Seq("__k"), "full_outer")
        .agg(count(lit(1)).as("nd_union"),
          sum(when(col("__ina").isNotNull, 1L).otherwise(0L)).as("nd_a"),
          sum(when(col("__inb").isNotNull, 1L).otherwise(0L)).as("nd_b"),
          sum(when(col("__ina").isNotNull && col("__inb").isNotNull, 1L)
            .otherwise(0L)).as("nd_intersect"))
      exacts.crossJoin(broadcast(est))
        .select(lit(pair).as("pair"), col("nd_a"), col("nd_b"),
          col("nd_intersect"),
          (abs(col("__est_intersect") - col("nd_intersect").cast("double")) <=
            lit(0.05) * col("nd_union").cast("double")).as("overlap_ok"))
    }
    val oc = gate("orders_customer", t(spark, dir, "orders"), col("o_custkey"),
      t(spark, dir, "customer"), col("c_custkey"))
    val ec = gate("events_customer", t(spark, dir, "events"), col("user_id"),
      t(spark, dir, "customer"), col("c_custkey"))
    oc.unionByName(ec).orderBy("pair")
  }

  /** X6jc: join-cardinality estimation from stored CMS sketches — the
    * planner-side read path ([[graft.ops.Sketches.cmsJoinCardinality]]):
    * |A ⋈ B| on a key estimated by the AMS/CMS inner product of the two
    * tables' sketch ARTIFACTS, no data touched. Two registered pairs:
    * the canonical PK–FK join (orders ⋈ lineitem) and a self-join F2
    * (events on user_id — the multiplicity-rich case). The estimate is
    * engine-specific (DuckDB cannot replay Spark's CMS hashing), so the
    * gate is the estimator's CONTRACT asserted in-plan: never
    * undercounts, within eps·N_A·N_B above the exact cardinality — and
    * the exact cardinalities travel verbatim.
    */
  private def x6CmsJoinCard(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val lineitem = t(spark, dir, "lineitem")
    val ev = t(spark, dir, "events")
    val eps = 1e-4
    def gate(pair: String, est: DataFrame, exact: DataFrame): DataFrame =
      est.crossJoin(broadcast(exact))
        .select(lit(pair).as("pair"), col("n_a"), col("n_b"), col("exact_card"),
          (col("join_card_est") >= col("exact_card")).as("est_ge_exact"),
          (col("join_card_est").cast("double") <=
            col("exact_card").cast("double") +
              lit(eps) * col("n_a").cast("double") * col("n_b").cast("double"))
            .as("est_le_bound"))
    val ol = gate("orders_lineitem",
      Sketches.cmsJoinCardinality(orders, col("o_orderkey"), lineitem,
        col("l_orderkey"), eps),
      orders.join(lineitem, col("o_orderkey") === col("l_orderkey"))
        .agg(count(lit(1)).as("exact_card")))
    val f2 = gate("events_self_f2",
      Sketches.cmsJoinCardinality(ev, col("user_id"), ev, col("user_id"), eps),
      ev.groupBy("user_id").agg(count(lit(1)).as("__n"))
        .agg(sum(col("__n") * col("__n")).as("exact_card")))
    ol.unionByName(f2).orderBy("pair")
  }

  /** X5pr: percentile-rank features from the quantile store
    * ([[graft.ops.Sketches.qsRank]]): a row's rank within its group's
    * value distribution as a PROJECTION against broadcast GK artifacts
    * — no window, no per-group sort (the deployed feature path). The
    * gate's witness is window-free too — the first form used exact
    * per-row ranks via per-group RANGE windows and hit the hot-key
    * window cliff at ×100 (single partition per group sorts 10M rows;
    * 4.1 s → 18.3 s → timeout, SCALING r10) — so it probes the rank
    * function at each group's EXACT p10/p50/p90 instead: one
    * percentile aggregate + one conditional-count pass (both map-side
    * combined, no shuffle larger than G rows), est·n within
    * [count(<v_p) − slack, count(≤v_p) + slack], slack = 2ε·n + 1.
    * Exact percentiles travel verbatim beside the booleans; per-ROW
    * behavior is pinned exhaustively in SketchesSpec at 200k rows.
    */
  private def x5PercentileRank(spark: SparkSession, dir: String): DataFrame = {
    val eps = 1e-3
    val evRaw = t(spark, dir, "events")
    val ev = graft.ops.OpCaches.pin(
      evRaw.select(col("event_type"), col("value")))
    val sk = Sketches.qsGroupSketches(ev, col("event_type"), col("value"), eps)
      .select(col("group").as("event_type"), col("sketch"), col("n_rows"))
    val probes = ev.groupBy("event_type")
      .agg(expr("percentile(value, array(0.1D, 0.5D, 0.9D))").as("__ps"))
      .select(col("event_type"), col("__ps").getItem(0).as("__p10"),
        col("__ps").getItem(1).as("__p50"), col("__ps").getItem(2).as("__p90"))
    val counts = ev.join(broadcast(probes), "event_type")
      .groupBy("event_type")
      .agg(
        sum(when(col("value") < col("__p10"), 1L).otherwise(0L)).as("__lt10"),
        sum(when(col("value") <= col("__p10"), 1L).otherwise(0L)).as("__le10"),
        sum(when(col("value") < col("__p50"), 1L).otherwise(0L)).as("__lt50"),
        sum(when(col("value") <= col("__p50"), 1L).otherwise(0L)).as("__le50"),
        sum(when(col("value") < col("__p90"), 1L).otherwise(0L)).as("__lt90"),
        sum(when(col("value") <= col("__p90"), 1L).otherwise(0L)).as("__le90"))
    def ok(p: String): Column = {
      val est = Sketches.qsRank(col("sketch"), col(s"__p$p")) * col("n_rows")
      val slack = lit(2 * eps) * col("n_rows") + lit(1.0)
      (est >= col(s"__lt$p").cast("double") - slack &&
        est <= col(s"__le$p").cast("double") + slack).as(s"rank${p}_ok")
    }
    sk.join(broadcast(probes), "event_type")
      .join(broadcast(counts), "event_type")
      .select(col("event_type"), col("n_rows"),
        round(col("__p10"), 6).as("p10_exact"),
        round(col("__p50"), 6).as("p50_exact"),
        round(col("__p90"), 6).as("p90_exact"),
        ok("10"), ok("50"), ok("90"))
      .orderBy("event_type")
  }

  /** X8m: composed pipeline v13 — the TRAINING-EXPORT chain, the
    * engine's end product in one gated query: quality gate ≥ 0.5
    * (x5_quality arithmetic) → exact dedup on canonical text
    * (x1 keep-min-id) → concat-and-chunk packing into 512-token
    * sequences per source shard (x7_pack_sequences arithmetic, same
    * hash-permuted placement order). Per-source report carries every
    * stage's survivor count so a defect in any stage moves a gated
    * number; each stage's arithmetic is shared verbatim with its
    * standalone twin.
    */
  private def x8CurationV13(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val gated = TextAnalysis.qualityMetrics(docs, "doc_id", col("text"),
        carry = Seq("source", "text"))
      .where(col("quality_score") >= 0.5)
      .select(col("doc_id"), col("source"), col("text"))
    val kept = gated
      .withColumn("__rn", row_number().over(
        Window.partitionBy(graft.ops.Dedup.normalizeText(col("text")))
          .orderBy(col("doc_id"))))
      .where(col("__rn") === 1)
      .select(col("doc_id"), col("source"), col("text"))
    val placed = Packing.concatChunkPack(kept, "doc_id", col("text"),
      seqLen = 512L, groupCols = Seq("source"))
    val packAgg = placed.groupBy("source").agg(
      count(lit(1)).as("n_docs_packed"),
      sum(col("n_tokens")).as("n_tokens"),
      (max(col("last_seq")) + 1L).as("n_sequences"))
    val nRaw = docs.groupBy("source").agg(count(lit(1)).as("n_raw"))
    val nQuality = gated.groupBy("source").agg(count(lit(1)).as("n_quality"))
    val nDedup = kept.groupBy("source").agg(count(lit(1)).as("n_dedup"))
    nRaw.join(nQuality, Seq("source"), "left")
      .join(nDedup, Seq("source"), "left")
      .join(packAgg, Seq("source"), "left")
      .select(col("source"), col("n_raw"),
        coalesce(col("n_quality"), lit(0L)).as("n_quality"),
        coalesce(col("n_dedup"), lit(0L)).as("n_dedup"),
        coalesce(col("n_docs_packed"), lit(0L)).as("n_docs_packed"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_sequences"), lit(0L)).as("n_sequences"))
      .orderBy("source")
  }

  /** X2f: bounded-edit-distance name join ([[graft.ops.Fuzzy]]) — the
    * entity-resolution primitive over customer names via SymSpell deletion
    * banding: one codegen'd key projection + equi-join + exact levenshtein
    * verify, never the quadratic theta-join. The twin IS that quadratic
    * all-pairs form, so the hash gate proves the banding loses no pair.
    */
  private def x2FuzzyNames(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Fuzzy.editNeighborPairs(t(spark, dir, "customer"), "c_custkey",
        col("c_name"))
      .orderBy("id_a", "id_b")

  /** X2jw: Jaro–Winkler rerank of the banded fuzzy pairs — the
    * record-linkage scoring pass an entity-resolution pipeline runs after
    * candidate generation: the typo-tolerant pair list
    * ([[graft.ops.Fuzzy]]) scored by the native codegen'd
    * [[graft.functions.JaroWinkler]] expression (pinned value-for-value
    * to the DuckDB reference implementation, so the twin scores the same
    * pairs with `jaro_winkler_similarity` and the 6-dp rounds hash-match).
    */
  private def x2JwRerank(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val names = cust.select(col("c_custkey"), col("c_name"))
    graft.ops.Fuzzy.editNeighborPairs(cust, "c_custkey", col("c_name"))
      .join(names.select(col("c_custkey").as("id_a"), col("c_name").as("__na")),
        Seq("id_a"))
      .join(names.select(col("c_custkey").as("id_b"), col("c_name").as("__nb")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("dist"),
        round(call_function("graft_jaro_winkler", col("__na"), col("__nb")), 6)
          .as("jw"))
      .orderBy("id_a", "id_b")
  }

  /** X2fr: the NAIVE declarative form of the same join — the theta-join a
    * user would actually write — planned through
    * [[graft.plans.FuzzyJoinRewrite]] into the deletion-key equi-join.
    * Same all-pairs oracle as x2_fuzzy_names: the hash gate proves the
    * optimizer rewrite is semantics-preserving on real data. Since r14
    * the PLAN SHAPE rides the hash too (pinned booleans from the
    * executed plan): both sides banded through Generates and the join
    * left on the pinned sort-merge strategy — the ×100 isolation run
    * (SCALING.md r14) showed the rewrite's residual gap to the direct
    * operator is the exactness tax, and these probes keep a strategy
    * regression from ever hiding inside that tax.
    */
  private def x2FuzzyNamesSql(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val cust = t(spark, dir, "customer")
    def q(): DataFrame = {
      val a = cust.select(col("c_custkey").as("id_a"), col("c_name").as("__na"))
      val b = cust.select(col("c_custkey").as("id_b"), col("c_name").as("__nb"))
      a.join(b, levenshtein(col("__na"), col("__nb")) <= lit(1) &&
          col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          levenshtein(col("__na"), col("__nb")).cast("long").as("dist"))
    }
    val banded = generateCount(q()) == 2
    val merged = physicalJoins(q()) match {
      case Seq(j) => j.isInstanceOf[SortMergeJoinExec]
      case _      => false
    }
    q().select(col("id_a"), col("id_b"), col("dist"),
        lit(banded).as("rewrite_banded"), lit(merged).as("merge_pinned"))
      .orderBy("id_a", "id_b")
  }

  /** X10b: constraint suite — PK uniqueness, two FK integrity checks, one
    * range rule; each check one small agg/anti-join, unioned into the
    * audit report shape (constraint, n, violations, ok).
    */
  private def x10DqConstraints(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.DataQuality
    val orders = t(spark, dir, "orders")
    val pk = DataQuality.uniqueness(orders, "o_orderkey")
      .select(lit("orders_pk_unique").as("constraint"), col("n_rows").as("n"),
        col("n_duplicate_rows").as("violations"), col("ok"))
    val fk1 = DataQuality.fkViolations(orders, "o_custkey",
        t(spark, dir, "customer"), "c_custkey")
      .select(lit("orders_custkey_fk").as("constraint"), col("n_child").as("n"),
        col("n_orphans").as("violations"), col("ok"))
    val fk2 = DataQuality.fkViolations(t(spark, dir, "lineitem"), "l_orderkey",
        orders, "o_orderkey")
      .select(lit("lineitem_orderkey_fk").as("constraint"), col("n_child").as("n"),
        col("n_orphans").as("violations"), col("ok"))
    val ev = t(spark, dir, "events")
    val rng = ev.agg(count(lit(1)).as("n"),
        sum(when(col("value") < 0.0, 1L).otherwise(0L)).as("violations"))
      .select(lit("events_value_nonneg").as("constraint"), col("n"),
        col("violations"), (col("violations") === 0L).as("ok"))
    pk.unionByName(fk1).unionByName(fk2).unionByName(rng).orderBy("constraint")
  }

  /** F5/T1/E1-E6: template projection — a Handlebars-subset template
    * compiled to a single Column (rename, #with coalesce-with-default,
    * interpolation, literals).
    */
  private val customerTemplate =
    """{"cmdb_ci": "cust-{{entity.c_custkey}}", "name": "{{#with entity.c_name}}{{.}}{{else}}anon-{{entity.c_custkey}}{{/with}}", "segment": "{{entity.c_mktsegment}}", "vendor": "TPCH/CRM", "nation": "{{entity.c_nationkey}}"}"""

  private def t1TemplateRender(spark: SparkSession, dir: String): DataFrame = {
    val doc = TemplateCompiler.compileTemplate(customerTemplate, TemplateCompiler.columnResolver())
    t(spark, dir, "customer")
      .select(col("c_custkey").as("doc_id"), doc.as("doc"))
      .orderBy("doc_id")
  }

  /** K1/O2/E7: batch slicing — contiguous batches of 500 per type, with the
    * reference's ceil(n/max) slice math (app.js:96-106) visible as per-batch
    * counts.
    *
    * Two-phase numbering: a global `row_number() over (partition by
    * event_type)` funnels each type through ONE reducer — a scale-killer
    * for low-cardinality types. Instead event_ids are range-bucketed with a
    * monotone bucket function (from broadcast per-type min/max — no
    * sampling, so the plan is deterministic), ranked locally per
    * (type, bucket) window, and composed with broadcast cumulative bucket
    * offsets: global_rank = offset(bucket) + local_rank. Identical output,
    * but the widest sort is 1/NumBuckets of a type and parallelism is
    * types x buckets.
    */
  private val E7Buckets = 32
  private def e7BatchSlices(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events").select("event_type", "event_id")
    val stats = ev.groupBy("event_type")
      .agg(min("event_id").as("__lo"), max("event_id").as("__hi"))
    // monotone in event_id within a type => buckets are range-disjoint and
    // ordered, so offset composition preserves the global ordering.
    // NOTE: x4LazyPointer implements the same two-phase range-bucket
    // numbering (there with byte weights and a triangular offset join) —
    // a fix to this bucket formula applies THERE too. The floor(double)
    // form is safe here because it is monotone and self-consistent (both
    // sides of every comparison go through the same rounding), unlike the
    // cross-side equi-join buckets Intervals needed integer div for.
    val bucketed = ev.join(broadcast(stats), "event_type")
      .withColumn("__b", least(lit(E7Buckets - 1).cast("long"),
        floor((col("event_id") - col("__lo")) * E7Buckets / (col("__hi") - col("__lo") + 1))).cast("int"))
    val offsets = bucketed.groupBy("event_type", "__b").agg(count(lit(1)).as("__c"))
      .withColumn("__off", sum("__c").over(
        Window.partitionBy("event_type").orderBy("__b")) - col("__c"))
      .select("event_type", "__b", "__off")
    bucketed.join(broadcast(offsets), Seq("event_type", "__b"))
      .withColumn("__rn", col("__off") + row_number().over(
        Window.partitionBy("event_type", "__b").orderBy("event_id")))
      .withColumn("batch_id", ((col("__rn") - 1) / 500).cast("long"))
      .groupBy("event_type", "batch_id")
      .agg(count(lit(1)).as("n"), min("event_id").as("min_id"), max("event_id").as("max_id"))
      .orderBy("event_type", "batch_id")
  }

  // ==================================================================
  // Relational generalization (Catalyst built-ins; bench headliners)
  // ==================================================================

  private def q1Agg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .where(col("l_shipdate").cast(DateType) <= lit("1999-09-02").cast(DateType))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        decSum(col("l_quantity"), 12, 2).as("sum_qty"),
        decSum(col("l_extendedprice"), 18, 2).as("sum_base_price"),
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 18, 4).as("sum_disc_price"),
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 24, 6).as("sum_charge"),
        round(sum(col("l_quantity").cast(DecimalType(12, 2))).cast("double") / count(lit(1)), 6).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  private def q3TopOrders(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer").where(col("c_mktsegment") === "BUILDING")
    val ord = t(spark, dir, "orders").where(col("o_orderdate").cast(DateType) < lit("1998-01-01").cast(DateType))
    val li = t(spark, dir, "lineitem").where(col("l_shipdate").cast(DateType) > lit("1998-01-01").cast(DateType))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate").cast(DateType).as("o_orderdate"), col("o_orderpriority"))
      .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 18, 4).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  private def q5RegionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val region = t(spark, dir, "region")
    val nation = t(spark, dir, "nation")
    val cust = t(spark, dir, "customer")
    val ord = t(spark, dir, "orders")
    val li = t(spark, dir, "lineitem")
    val supp = t(spark, dir, "supplier")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 18, 4).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  /** O-family/window: top-3 orders by price per priority class. */
  private def wTopkOrders(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .withColumn("rank", row_number().over(
        Window.partitionBy("o_orderpriority").orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .where(col("rank") <= 3)
      .select(col("o_orderpriority"), col("rank").cast("long").as("rank"),
        col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_orderpriority", "rank")

  /** X7tk: grouped top-k via the NATIVE bounded aggregate
    * ([[graft.functions.TopKAgg]]) — the scale-path form of
    * [[wTopkOrders]]'s window idiom: identical survivor set (the gate
    * reuses the window twin verbatim), but the exchange carries at most
    * k rows per (map partition, group) and nothing is globally sorted —
    * the window form ships and sorts EVERY row of a group on one task
    * (measured A/B: SCALING.md "Grouped top-k: the window rescue
    * measured").
    */
  private def x7TopkAgg(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(call_function("graft_topk",
        struct(col("o_totalprice"), col("o_orderkey")), lit(3)).as("__top"))
      .select(col("o_orderpriority"), posexplode(col("__top")))
      .select(col("o_orderpriority"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("o_orderkey"), col("col.score").as("o_totalprice"))
      .orderBy("o_orderpriority", "rank")
  }

  /** Set ops: (user, day) pairs engaged (click/view) minus pairs that
    * purchased that day.
    */
  private def setExceptUsers(spark: SparkSession, dir: String): DataFrame = {
    val evRaw = t(spark, dir, "events")
    val ev = evRaw
      .withColumn("__ms", evTime(evRaw).ms)
      .withColumn("day", expr("__ms div 86400000"))
    ev.where(col("event_type").isin("click", "view")).select("user_id", "day")
      .except(ev.where(col("event_type") === "purchase").select("user_id", "day"))
      .orderBy("user_id", "day")
  }

  /** Grouping sets: rollup over region/nation customer stats. Expressed in
    * Spark SQL (the DataFrame `.rollup` + post-agg coalesce trips Spark 4's
    * ambiguous-self-join analyzer check); the SQL text is the portable ANSI
    * form shared with the oracle.
    */
  private def rollupCustomers(spark: SparkSession, dir: String): DataFrame = {
    // distinct view names: must not clobber Bench's cached input views
    t(spark, dir, "customer").createOrReplaceTempView("graft_rollup_customer")
    t(spark, dir, "nation").createOrReplaceTempView("graft_rollup_nation")
    t(spark, dir, "region").createOrReplaceTempView("graft_rollup_region")
    spark.sql(
      """SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
        |  count(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal
        |FROM graft_rollup_customer JOIN graft_rollup_nation ON c_nationkey = n_nationkey
        |  JOIN graft_rollup_region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name) ORDER BY 1, 2""".stripMargin)
  }

  /** Anti join: customers that never placed an URGENT order. */
  private def jAntiNoOrders(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(t(spark, dir, "orders").where(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** Semi join: suppliers with at least one shipped lineitem. */
  private def jSemiSuppliers(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "supplier")
      .join(t(spark, dir, "lineitem"), col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_suppkey", "s_name")
      .orderBy("s_suppkey")

  /** Correlated-EXISTS semi join (TPC-H Q4 shape): orders with at least one
    * lineitem shipped more than 60 days after the order date, counted per
    * priority class.
    */
  private def q4LateOrders(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
    val li = t(spark, dir, "lineitem")
    ord.join(li,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate").cast(DateType) > date_add(col("o_orderdate").cast(DateType), 60),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_late"))
      .orderBy("o_orderpriority")
  }

  /** CUBE grouping sets over order status x priority. */
  private def cubeOrders(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select("o_orderstatus", "o_orderpriority", "o_totalprice")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), decSum(col("o_totalprice"), 18, 2).as("sum_price"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("sum_price"))
      .orderBy("status", "priority")

  /** Pivot with an EXPLICIT value list — no dictionary-discovery job (an
    * unlisted `pivot(col)` first scans the data to enumerate values; at
    * 100 TB that is a full extra pass). One hash aggregation; absent
    * (user, type) combos surface as 0 like the SQL FILTER form.
    */
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  private def pivotUserEvents(spark: SparkSession, dir: String): DataFrame = {
    val pivoted = t(spark, dir, "events")
      .groupBy("user_id").pivot("event_type", EventTypes).agg(count(lit(1)))
    pivoted.na.fill(0L, EventTypes).orderBy("user_id")
  }

  /** Exact interpolated percentiles per group (`percentile` = DuckDB's
    * quantile_cont definition: linear interpolation at rank (n-1)*p).
    * Rounded to 6dp BEFORE comparison so last-ulp interpolation noise
    * can't break the hash gate. Scale note: exact percentile buffers each
    * group's values — the 100 TB tool is `approx_percentile` (t-digest,
    * mergeable partial aggs); this registers the exact form because only
    * it is oracle-checkable bit-for-bit.
    */
  private def q6Percentiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.95D))").as("__p"))
      .select(col("l_returnflag"),
        round(element_at(col("__p"), 1), 6).as("p25"),
        round(element_at(col("__p"), 2), 6).as("p50"),
        round(element_at(col("__p"), 3), 6).as("p95"))
      .orderBy("l_returnflag")

  /** Fact-to-dimension broadcast join (TPC-H Q14 flavor): revenue and item
    * share of promo-like parts per brand. `part` is the explicitly
    * broadcast dimension (dims stay broadcastable at 100 TB; the lineitem
    * fact never shuffles for the join — only for the final brand agg).
    */
  private def q7PromoByBrand(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem").select("l_partkey", "l_extendedprice", "l_discount")
    val pt = t(spark, dir, "part").select("p_partkey", "p_brand", "p_type")
    li.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 18, 4).as("revenue"),
        count(lit(1)).as("n_items"),
        sum(when(col("p_type").startsWith("PROMO"), 1L).otherwise(0L)).as("n_promo"))
      .orderBy("p_brand")
  }

  /** Set intersection: (user, day) pairs that clicked AND errored that day. */
  private def setIntersectUsers(spark: SparkSession, dir: String): DataFrame = {
    val evRaw = t(spark, dir, "events")
    val ev = evRaw
      .withColumn("__ms", evTime(evRaw).ms)
      .withColumn("day", expr("__ms div 86400000"))
    ev.where(col("event_type") === "click").select("user_id", "day")
      .intersect(ev.where(col("event_type") === "error").select("user_id", "day"))
      .orderBy("user_id", "day")
  }

  /** W-family: tumbling hourly window aggregation on the event stream. */
  private def wTumblingHourly(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    ev.withColumn("__ms", evTime(ev).ms)
      .groupBy((expr("__ms div 3600000") * 3600000L).as("hour_ms"), col("event_type"))
      .agg(count(lit(1)).as("n"), decSum(col("value"), 12, 2).as("sum_value"))
      .orderBy("hour_ms", "event_type")
  }

  /** Sliding (hopping) windows: 1-hour windows every 30 minutes — each
    * event lands in exactly two windows (Spark's `window(col, len, slide)`
    * generator); the twin replays the epoch-aligned window starts by
    * integer arithmetic, so the alignment convention itself is under the
    * hash gate alongside the counts and the exact-decimal sums.
    */
  private def wSlidingHourly(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val tsCol = timestamp_millis(evTime(ev).ms)
    ev.groupBy(window(tsCol, "1 hour", "30 minutes").as("__w"), col("event_type"))
      .agg(count(lit(1)).as("n"), decSum(col("value"), 12, 2).as("sum_value"))
      .select(unix_millis(col("__w.start")).as("win_ms"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy("win_ms", "event_type")
  }

  /** Sessionization: new session after a >30 min gap; per-user session and
    * event counts (lag + running sum — the window-function composition a
    * streaming session-window would produce).
    */
  private def wSessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val ev = t(spark, dir, "events")
    val ms = evTime(ev).ms
    ev.withColumn("__gap", ms - lag(ms, 1).over(byUser))
      .withColumn("__new", when(col("__gap").isNull || col("__gap") > 30L * 60 * 1000, 1).otherwise(0))
      .groupBy("user_id")
      .agg(sum("__new").as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  // ==================================================================
  // Extensions (SURVEY.md §2.12): dedup, similarity, multimodal, text
  // ==================================================================

  private def x1ExactDedup(spark: SparkSession, dir: String): DataFrame =
    // group on the md5 digest (collision-free in practice): the shuffle
    // moves 32-byte keys instead of full document texts
    Dedup.exact(t(spark, dir, "documents"), "doc_id", md5(Dedup.normalizeText(col("text"))))
      .select(col("keeper_id"), col("dup_count"), col("dedup_key").as("key_md5"))
      .orderBy("keeper_id")

  /** Registered as the LSH-verified form: exact Jaccard computed ONLY on
    * banded-LSH candidate pairs. The unblocked shingle self-join of
    * Dedup.ngramJaccardPairs is quadratic on hot shingles (one common
    * trigram pins a reducer at 100 TB); this plan's join keys are all doc
    * ids or band hashes, so fan-out never depends on shingle frequency.
    */
  private def x2NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.lshVerifiedJaccardPairs(t(spark, dir, "documents"), "doc_id", col("text"),
      shingleLen = 3, numPerm = 64, bands = 16, threshold = 0.5)
      .orderBy("id_a", "id_b")

  private def x2MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDupPairs(t(spark, dir, "documents"), "doc_id", col("text"),
      shingleLen = 3, numPerm = 64, bands = 16, threshold = 0.5)
      .orderBy("id_a", "id_b")

  /** X7pr: near-dup-graph PageRank — centrality over the verified MinHash
    * pair graph ([[Components.pageRank]]): the "which copy is canonical"
    * signal, and the registry's iterative-JOIN witness (no driver state).
    */
  private def x7DedupPagerank(spark: SparkSession, dir: String): DataFrame =
    Components.pageRank(
        Dedup.minhashNearDupPairs(t(spark, dir, "documents"), "doc_id", col("text"),
          shingleLen = 3, numPerm = 64, bands = 16, threshold = 0.5))
      .orderBy("id")

  private def x2Simhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhash64(t(spark, dir, "documents"), "doc_id", TextAnalysis.words(col("text")))
      .orderBy("doc_id")

  /** X2b-128: the wide-fingerprint scale path — 128-bit SimHash value
    * (two portable LONGs, oracle-checked bit-for-bit).
    */
  private def x2Simhash128(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhash128(t(spark, dir, "documents"), "doc_id", TextAnalysis.words(col("text")))
      .orderBy("doc_id")

  /** X2b-128: near-dup pairs at Hamming ≤ 7 over the 128-bit fingerprint —
    * the bound the 64-bit form cannot reach at corpus scale (regime note
    * on [[Dedup.hamming64NearDupPairs]]): 8 chunks × 16 bits keeps the
    * same 2^16-value keys as the scale-safe 64-bit bound-3 form while
    * guaranteeing recall 1 up to distance 7. Oracle = all-pairs twin at
    * the same bound, so the hash gate proves the banded plan loses
    * nothing.
    */
  private def x2Simhash128Pairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.hamming128NearDupPairs(
        Dedup.simhash128(t(spark, dir, "documents"), "doc_id", TextAnalysis.words(col("text"))),
        "doc_id", "simhash_hi", "simhash_lo", maxHamming = 7)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy("id_a", "id_b")

  /** Registered ANN probe-set size: every X3/X11 search and recall gate
    * draws its query anchors as [[Similarity.md5Anchors]](emb, AnnAnchorK)
    * — a FIXED-COUNT deterministic md5-rank sample (the x7_split
    * discipline), replacing the r14-and-earlier `vec_id % 100 = 0`
    * fractional predicate whose probe count grew with the corpus and made
    * every brute-force truth / flat-ADC leg O(n²/100) (1,738 s of the r14
    * ×100 registry run — VERDICT r14 "What's wrong" #1). K = 200 is large
    * enough for a stable recall estimate over 5-NN sets and keeps every
    * truth leg at K·n dot products — LINEAR in the corpus at any scale.
    * The DuckDB twins replay the identical rank
    * (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 200), so every
    * gate stays hash-checked; Spark plans the orderBy+limit as one
    * TakeOrdered job.
    */
  private val AnnAnchorK = 200

  private def annAnchors(emb: DataFrame): DataFrame =
    Similarity.md5Anchors(emb, AnnAnchorK)

  private def x3KnnCosine(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Similarity.cosineTopK(annAnchors(emb), emb, k = 5)
      .orderBy("query_id", "rank")
  }

  /** Cells come from deterministic k-means (3 Lloyd iterations), NOT the
    * fixture's pre-clustered `label` — real corpora have no label column.
    * kCells is CORPUS-DERIVED ([[Similarity.ivfCellsFor]]: occupancy ≈ 50,
    * integer-exact, twin-replayable — 10 cells at the 500-vector oracle
    * fixtures, 512 at ×100) since r15; the r14 pinned kCells = 10 scanned
    * nProbe/10 ≈ 30% of the corpus per probe at ANY scale — the
    * fixed-regime trap rhpBitsFor fixed for RHP, now closed for IVF.
    * nProbe stays 3: with occupancy held constant the per-query scanned
    * candidates are nProbe × 50 rows regardless of n.
    */
  private def x3IvfTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Similarity.ivfTopKKmeans(annAnchors(emb), emb,
      k = 5, nProbe = 3, kCells = Similarity.ivfCellsFor(emb.count()))
      .orderBy("query_id", "rank")
  }

  /** X3 IVF, HASH-CHECKED: same probe/top-k mechanism as x3_ivf_topk but
    * over the closed-form sign-LSH quantizer, so centroids (exact decimal
    * means), probe ranking (6-dp cosine) and the cell-restricted top-k are
    * all reproduced bit-exactly by the DuckDB twin. The k-means variant
    * stays registered as the data-driven path. Cell bits are
    * CORPUS-DERIVED ([[Similarity.ivfBitsFor]]: occupancy ≤ 32 — 4 bits /
    * 16 cells at the 500-vector fixtures, 13 bits / 8192 cells at ×100),
    * the same count→bits derivation the x2_rhp_* twins replay in SQL.
    */
  private def x3IvfLshTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val cells = Similarity.lshCells(emb, dim = 64,
      bitsPerCell = Similarity.ivfBitsFor(emb.count()))
    Similarity.ivfTopK(annAnchors(emb), emb.join(cells, "vec_id"),
      k = 5, nProbe = 3, cellCol = "cell")
      .orderBy("query_id", "rank")
  }

  /** X3: int8 quantization — the q vector rides as a CSV string so the
    * driver's column-wise compare stays type-stable across engines.
    */
  private def x3QuantizeInt8(spark: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8(t(spark, dir, "embeddings"))
      .select(col("vec_id"), col("scale"), concat_ws(",", col("q")).as("q_csv"),
        col("recon_mae"))
      .orderBy("vec_id")

  private def x2EmbeddingNearDup(spark: SparkSession, dir: String): DataFrame =
    Similarity.embeddingNearDupPairs(t(spark, dir, "embeddings"), threshold = 0.4,
      blockCol = Some("label"))
      .orderBy("id_a", "id_b")

  /** X2 scale path for embeddings: random-hyperplane LSH with exact-cosine
    * verification — no all-pairs join anywhere. Since r14 the registered
    * plan derives `bitsPerBand = rhpBitsFor(count)` FROM THE CORPUS —
    * bits grow with n so expected bucket occupancy stays ≤ 16 and the
    * candidate set stays LINEAR at any scale (fixed 8-bit bands measured
    * quadratic again at 200k vectors, SCALING.md r13; the fixed-bits form
    * survives only as the OpsSpec regime demo). The derivation is
    * integer-exact and the hyperplanes are md5-seeded, so the DuckDB twin
    * replays count → bits → buckets → verify bit-for-bit and this stays
    * hash-checked at EVERY scale — the gate exercises different bits at
    * sf0.001 and sf0.01 by construction.
    */
  private def x2RhpNearDup(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Similarity.randomHyperplaneNearDupPairs(emb, threshold = 0.4, dim = 64,
      bands = 8, bitsPerBand = Similarity.rhpBitsFor(emb.count()))
      .orderBy("id_a", "id_b")
  }

  /** X2 RHP at its SCALE-form knobs: 8 bands × corpus-derived sign bits
    * (rhpBitsFor: occupancy ≤ 16 ⇒ candidates linear in n), threshold
    * 0.45. Until r13 this pinned bits = 8 — the regime that exhausted
    * executor memory at ×100 (SCALING.md r13 Finding 1) because fixed
    * bits put 200k vectors at ~780/bucket and the background candidate
    * volume regrew quadratically. The registered plan now IS the sizing
    * rule: the count() is deterministic per fixture, the DuckDB twin
    * replays the same integer derivation, and the hash gate survives
    * every scale including ×100. The price of high bits is recall at
    * this fixture's low max cosine (~0.5); growers buy recall back with
    * more bands or Hamming-1 probing (see x2_rhp_multiprobe), both
    * linear in n.
    */
  private def x2RhpScale(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Similarity.randomHyperplaneNearDupPairs(emb, threshold = 0.45, dim = 64,
      bands = 8, bitsPerBand = Similarity.rhpBitsFor(emb.count()))
      .orderBy("id_a", "id_b")
  }

  /** X2 multi-probe sign-LSH in its DESIGN regime: 8 bands ×
    * corpus-derived bits, each bucket probed at Hamming distance ≤ 1
    * (bits+1 keys/band). High-bit bands make exact collisions rare,
    * which is exactly where 1-bit probing pays: it recovers the pairs a
    * single flipped sign bit would lose, buying back the recall the
    * quantization gave up.
    * Bits come from [[graft.ops.Similarity.rhpBitsFor]] at occupancy
    * target 1 — MORE selective hashes than the exact-collision plans.
    * That is the actual multiprobe trade (Lv et al., VLDB'07): probing
    * exists so you can afford sharper hashes at the same recall. The
    * candidate volume is ~bands·(bits+1)·n·occupancy; at occupancy 16
    * (the x2_rhp_scale sizing, the r14 first cut) the ×(bits+1) probe
    * multiplier rode on a ×16 background and the ×100 cell measured
    * 61 s — occupancy 1 cuts that background ~16-fold while Hamming≤1
    * over the extra ~4 bits keeps per-band capture HIGHER than the
    * coarser exact-collision band (p^b vs p^(b+4)+(b+4)p^(b+3)(1−p):
    * the probed form wins for any p ≥ 0.6, i.e. everywhere above
    * cosine ≈ 0.31).
    * (The 8×4 coarse-band parameterization this replaced is kept as a
    * spec-level regime demonstration in OpsSpec: with 16 buckets/band the
    * probe expansion multiplies an already-quadratic background — measured
    * exp 1.42 in SCALING.md round 5 — and must not be the registered plan.)
    * Hash-checked: the count→bits derivation is integer-exact and the
    * md5 hyperplanes and probe expansion are portable.
    */
  private def x2RhpMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Similarity.rhpMultiProbePairs(emb, threshold = 0.45, dim = 64,
      bands = 8,
      bitsPerBand = Similarity.rhpBitsFor(emb.count(), targetOccupancy = 1))
      .orderBy("id_a", "id_b")
  }

  /** Sketch aggregates under the oracle gate (the 100 TB form of
    * count-distinct and percentile): the query emits the EXACT values plus
    * booleans asserting the sketches (HyperLogLog++, GK quantile) landed
    * within their error bounds — the oracle pins the exact values and
    * `TRUE` flags, so a sketch regression past its bound breaks the hash
    * even though the sketch itself is not bit-portable across engines.
    */
  private def q9ApproxSketches(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    // exact distinct as its own two-stage agg (distinct pairs, then count):
    // mixing countDistinct into the sketch agg would force an Expand over
    // every row, double-scanning the table for one column — the same
    // reason the 100 TB form pairs sketches with pre-aggregated exacts
    // isNotNull first: COUNT(DISTINCT user_id) — the oracle's form — is
    // NULL-excluding, and a bare distinct-pairs count would keep the
    // (type, NULL) pair and read one user high
    val exact = ev.select("event_type", "user_id").where(col("user_id").isNotNull)
      .distinct()
      .groupBy("event_type").agg(count(lit(1)).as("exact_users"))
    val sketches = ev.groupBy("event_type").agg(
      count(lit(1)).as("n_events"),
      approx_count_distinct(col("user_id")).as("__hll"),
      expr("approx_percentile(value, 0.5, 10000)").as("__ap"),
      expr("percentile(value, 0.5)").as("__ep"),
      max(col("value")).as("__mx"), min(col("value")).as("__mn"))
    // LEFT join + coalesce: a type whose user_ids are ALL NULL has no row
    // on the exact side but must still report (exact_users = 0), exactly
    // like the oracle's COUNT(DISTINCT) over the full GROUP BY
    sketches.join(broadcast(exact), Seq("event_type"), "left")
      .withColumn("exact_users", coalesce(col("exact_users"), lit(0L)))
      .select(col("event_type"), col("n_events"), col("exact_users"),
        // HLL++ default rsd = 5%; 3 sigma + small-count slack
        (abs(col("__hll") - col("exact_users")) <= col("exact_users") * 0.15 + lit(16)).as("hll_ok"),
        (abs(col("__ap") - col("__ep")) <= (col("__mx") - col("__mn")) * 0.05).as("pctl_ok"))
      .orderBy("event_type")
  }

  /** X2/X3 quality gates under the driver artifact (VERDICT r4 #5): the
    * approximate paths' recall, previously asserted only inside OpsSpec.
    *
    * `x2_rhp_recall` is HASH-CHECKED: both the RHP candidate path and the
    * exact ground truth are engine-portable (md5 hyperplanes, 6-dp rounds),
    * so the DuckDB twin reproduces the exact (n_true, n_captured, recall)
    * row. The ground truth is a BOUNDED-SAMPLE audit: anchors are the
    * FIXED-COUNT md5-rank sample ([[annAnchors]], K = 200 — r15; the r14
    * form sampled `vec_id % 100 == 0`, a fraction that still grew with
    * the corpus), so the exact side is O(K × corpus) via
    * broadcast-nested-loop — LINEAR in n, and the corpus never shuffles
    * and never self-pairs. (Until r13 the truth was the FULL unblocked
    * quadratic — 1332 s at ×100, the single most expensive cell of the
    * r13 one-JVM run; a recall ESTIMATE over a deterministic anchor
    * sample is statistically the same audit at a constant fraction of
    * the cost.) The RHP side derives bits from the corpus count like
    * every registered x2_rhp_* plan.
    */
  private def x2RhpRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val truth = Similarity.embeddingNearDupPairs(emb, threshold = 0.4, blockCol = None,
      anchors = Some(annAnchors(emb)))
    val found = Similarity.randomHyperplaneNearDupPairs(emb, threshold = 0.4, dim = 64,
      bands = 8, bitsPerBand = Similarity.rhpBitsFor(emb.count()))
    Similarity.pairRecall(truth, found, threshold = 0.4)
  }

  /** Per-query overlap of k-means IVF top-k with brute-force top-k.
    * Hash-gated since r6: the maxmin-seeded Lloyd fit is engine-portable
    * (Similarity.kmeansCells), so the DuckDB twin replays the exact
    * assignment and the full recall row hashes.
    */
  private def x3IvfRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val q = annAnchors(emb)
    val exact = Similarity.cosineTopK(q, emb, k = 5)
    val approx = Similarity.ivfTopKKmeans(q, emb, k = 5, nProbe = 3,
      kCells = Similarity.ivfCellsFor(emb.count()))
    Similarity.topKRecall(exact, approx, k = 5).orderBy("query_id")
  }

  /** The HASH-GATED half of the k-means IVF recall audit (q9 sketch-gate
    * pattern): `n_exact` is the brute-force truth-set size — fully
    * SQL-expressible, so the oracle recomputes it exactly — and
    * `recall_ok` thresholds each anchor's recall at 0.2, pinning the
    * PER-QUERY FLAG PROFILE under the hash (the fit and the md5-rank
    * anchor set are both deterministic, so the profile is stable round to
    * round — at the K = 200 anchor set, 198 of 200 anchors clear the
    * floor at both gated scales and 2 structurally hard ones sit below
    * it on BOTH engines). A quantizer or probe regression that tanks
    * recall flips flags and breaks the hash even though the k-means
    * assignment itself is not SQL-expressible; the raw recall VALUES stay
    * driver-visible in the rows-only x3_ivf_recall. Only the fit remains
    * ungated.
    */
  private def x3IvfRecallGate(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val q = annAnchors(emb)
    val exact = Similarity.cosineTopK(q, emb, k = 5)
    val approx = Similarity.ivfTopKKmeans(q, emb, k = 5, nProbe = 3,
      kCells = Similarity.ivfCellsFor(emb.count()))
    Similarity.topKRecall(exact, approx, k = 5)
      .select(col("query_id"), col("n_exact"), (col("recall") >= 0.2).as("recall_ok"))
      .orderBy("query_id")
  }

  /** X3pq: product-quantization top-k — corpus vectors represented by
    * 32×4-bit codes (16 bytes vs 256 bytes of raw floats, a 16× memory
    * cut), scored against raw queries via their codebook reconstructions.
    * Registered at m=32 because that is where measured recall approaches
    * the k-means IVF's on this data (0.37 vs 0.62 mean at sf0.01 under
    * the r15 K=200 anchor set; 8×4 scored 0.20) — the regime where you'd
    * actually deploy the compression. m and bitsPerCode set the CODE
    * SHAPE (bytes per stored vector), a per-vector property pinned by
    * design, not a corpus-scale knob. Closed-form
    * sub-quantizer + exact-decimal codebooks + round6/DECIMAL
    * cross-subspace sums make the whole path hash-checkable.
    */
  private def x3PqTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Similarity.pqTopK(annAnchors(emb), emb, k = 5,
      dim = 64, m = 32, bitsPerCode = 4)
      .orderBy("query_id", "rank")
  }

  /** X3pq recall audit vs the brute-force truth — BOTH sides engine-
    * portable, so every column is hash-checked (unlike the k-means IVF
    * recall, whose fit is the one ungated stage).
    */
  private def x3PqRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val q = annAnchors(emb)
    Similarity.topKRecall(Similarity.cosineTopK(q, emb, k = 5),
      Similarity.pqTopK(q, emb, k = 5, dim = 64, m = 32, bitsPerCode = 4), k = 5)
      .orderBy("query_id")
  }

  /** X2i: incremental near-dup admission — the daily-shard workflow: the
    * odd-id half of `documents` arrives as the incoming batch and is
    * screened against the frozen even-id corpus (bipartite banded join; the
    * corpus side is never broadcast and never re-deduplicated) plus itself
    * (keep-min within the batch).
    */
  private def x2IncrementalAdmit(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Dedup.incrementalNearDupAdmit(
      docs.where(col("doc_id") % 2 === 1), docs.where(col("doc_id") % 2 === 0),
      "doc_id", col("text"))
      .orderBy("doc_id")
  }

  /** X3ivfpq: the IVF-PQ composition — coarse LSH cells cut candidates to
    * nProbe/2^bitsPerCell of the corpus, PQ codes compress what remains to
    * 16 bytes/vector, candidates pair by cell EQUI-join (not the flat
    * form's cross join). The serving shape for corpus-scale ANN.
    * Knob provenance (r15): bitsPerCell is SCALE-DERIVED
    * ([[Similarity.ivfBitsFor]] — the coarse quantizer must grow with the
    * corpus or probes scan a fixed fraction of it); m and bitsPerCode are
    * PINNED BY DESIGN — they set the code shape (bytes per stored vector,
    * the compression-vs-recall trade) and are a per-vector property the
    * corpus size does not change.
    */
  private def x3IvfPqTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Similarity.ivfPqTopK(annAnchors(emb), emb, k = 5,
      nProbe = 3, dim = 64, bitsPerCell = Similarity.ivfBitsFor(emb.count()),
      m = 32, bitsPerCode = 4)
      .orderBy("query_id", "rank")
  }

  /** X3ivfpq recall audit vs the brute-force truth — both sides portable
    * and hash-checked, like the flat-PQ audit. */
  private def x3IvfPqRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val q = annAnchors(emb)
    Similarity.topKRecall(Similarity.cosineTopK(q, emb, k = 5),
      Similarity.ivfPqTopK(q, emb, k = 5, nProbe = 3, dim = 64,
        bitsPerCell = Similarity.ivfBitsFor(emb.count()), m = 32, bitsPerCode = 4), k = 5)
      .orderBy("query_id")
  }

  private def x5Quality(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityMetrics(t(spark, dir, "documents"), "doc_id", col("text"))
      .orderBy("doc_id")

  /** X5ts: classifier-threshold sweep — docs/tokens surviving each
    * candidate quality floor, all eight thresholds in ONE corpus scan
    * (2·K+2 conditional sums inside a single hash-aggregate; no fan-out).
    * The report a pipeline owner reads to pick the x6_clean_corpus /
    * x8 minQuality knob.
    */
  private def x5ThresholdSweep(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.thresholdSweep(t(spark, dir, "documents"), "doc_id", col("text"),
      thresholds = Seq(0.0, 0.2, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9))

  private def x5LangId(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.langId(t(spark, dir, "documents"), "doc_id", col("text"))
      .orderBy("doc_id")

  /** X5 repetition removal: the run-collapse scrub over every document,
    * hash-checked via counts + the md5 of the cleaned text. */
  private def x5CollapseRepeats(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.collapseRepeats(t(spark, dir, "documents"), "doc_id", col("text"))
      .select(col("doc_id"), col("n_words"), col("n_kept"),
        md5(col("clean_text")).as("clean_md5"))
      .orderBy("doc_id")

  private def x5Fingerprint(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprints(t(spark, dir, "documents"), "doc_id", col("text"))
      .orderBy("doc_id")

  /** X5: PII scrub — the fixture corpus carries no PII, so this doubles as
    * a 500-document regex-parity check between engines (the synthetic-PII
    * behavior is spec-tested in OpsSpec).
    */
  private def x5PiiScrub(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.piiScrub(t(spark, dir, "documents"), "doc_id", col("text"))
      .orderBy("doc_id")

  /** X5: Gopher-style repetition signals (top-word fraction, duplicate
    * 2-gram fraction).
    */
  private def x5Repetition(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionMetrics(t(spark, dir, "documents"), "doc_id", col("text"))
      .orderBy("doc_id")

  /** X5: the composite Gopher rule filter — per-rule boolean verdicts plus
    * the keep conjunction, with thresholds tuned to discriminate on this
    * fixture (word floor 30, alpha floor 0.8, top-word ceiling 0.15).
    * Hash-checked: every verdict compares a 6-dp-rounded metric the twin
    * reproduces bit-exactly.
    */
  private def x5GopherRules(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherRules(t(spark, dir, "documents"), "doc_id", col("text"),
      minWords = 30, minAlphaRatio = 0.8, maxTopWordFrac = 0.15)
      .orderBy("doc_id")

  /** X5: CCNet-style LM familiarity — fit a char-trigram add-one LM on the
    * 20% md5 sample of the corpus (fully distributed, no driver training),
    * score every document by mean trigram log-prob + OOV fraction. The
    * whole chain (sample, counts, 6-dp logps, exact-DECIMAL mean) is
    * engine-portable, so the model AND the scores sit under the hash gate.
    */
  private def x5LmScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val lm = TextAnalysis.charTrigramLmFit(docs, "doc_id", col("text"), sampleFraction = 0.2)
    TextAnalysis.lmScore(docs, "doc_id", col("text"), lm).orderBy("doc_id")
  }

  /** X6: per-document TF-IDF keywords — top-3 tokens per doc under the
    * sklearn-smoothed idf, 6-dp-rounded scores, token tiebreak. The
    * "what is each document about" exploration signal.
    */
  private def x6TfidfKeywords(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidfKeywords(t(spark, dir, "documents"), "doc_id", col("text"), k = 3)
      .orderBy("doc_id", "rank")

  /** X6: BM25 keyword retrieval — top-10 documents for three fixed query
    * strings drawn from the fixture vocabulary. Candidates come from an
    * inner join on query terms (the inverted-index access path: docs
    * sharing no term never score).
    */
  private def x6Bm25Search(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25Search(t(spark, dir, "documents"), "doc_id", col("text"),
      queries = Seq(
        "q_join" -> "spark join filter",
        "q_scan" -> "table scan fast",
        "q_window" -> "window order batch"),
      topK = 10)
      .orderBy("query_id", "rank")

  /** X6hn: BM25 hard-negative mining ([[TextAnalysis.bm25HardNegatives]])
    * — the retrieval-training complement of [[x6Bm25Search]]: the
    * top-scoring docs that do NOT match every in-vocabulary query term
    * (high lexical similarity without full relevance — the examples a
    * reranker learns the most from). Same engine-portable scoring
    * chain; the twin is the search twin plus one filter.
    */
  private def x6HardNegatives(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25HardNegatives(t(spark, dir, "documents"), "doc_id", col("text"),
      queries = Seq(
        "q_join" -> "spark join filter",
        "q_scan" -> "table scan fast",
        "q_window" -> "window order batch"),
      topK = 10)
      .orderBy("query_id", "rank")

  /** As-of (point-in-time) join: attribute each purchase to the user's
    * latest preceding click (inclusive boundary, max-click-id tiebreak) —
    * the operator Spark lacks natively, composed as union + one keyed
    * window in [[AsOf.asofJoin]]. The DuckDB twin is the equivalent
    * theta-join + argmax, so the whole semantics (inclusive `<=`, null on
    * no-predecessor, tie resolution) is hash-checked.
    */
  private def jAsofAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val ms = evTime(ev).ms
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), ms.as("ts_ms"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), ms.as("click_ts_ms"))
    AsOf.asofJoin(purchases, clicks, "user_id",
      col("ts_ms"), col("click_ts_ms"), col("click_id"))
      .select(col("user_id"), col("event_id"), col("ts_ms"),
        col("asof.click_id").as("click_id"), col("asof.click_ts_ms").as("click_ts_ms"))
      .orderBy("event_id")
  }

  /** As-of with a staleness bound: purchases credited to the last click
    * within 2 hours — [[AsOf.asofJoinWithin]]; matches older than the
    * window null out. The twin is the bounded theta-join + argmax, so the
    * inclusive boundary is hash-checked.
    */
  private def jAsofTolerance(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val ms = evTime(ev).ms
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), ms.as("ts_ms"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), ms.as("click_ts_ms"))
    AsOf.asofJoinWithin(purchases, clicks, "user_id",
      col("ts_ms"), col("click_ts_ms"), col("click_id"), toleranceMs = 2L * 3600 * 1000)
      .select(col("user_id"), col("event_id"), col("ts_ms"),
        col("asof.click_id").as("click_id"), col("asof.click_ts_ms").as("click_ts_ms"))
      .orderBy("event_id")
  }

  /** Conversion funnel: click → purchase within 1 hour, per user — the
    * classic event-analytics report, composed from [[AsOf.asofJoinWithin]]
    * (each purchase attributed to its last in-window click; no per-key
    * fan-out) plus one scalar aggregate. One row: volumes, converted
    * purchases/users, and the conversion rate.
    */
  private def q10Funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val ms = evTime(ev).ms
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), ms.as("ts_ms"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), ms.as("click_ts_ms"))
    val attributed = AsOf.asofJoinWithin(purchases, clicks, "user_id",
      col("ts_ms"), col("click_ts_ms"), col("click_id"), toleranceMs = 3600000L)
    attributed.agg(
        count(lit(1)).as("n_purchases"),
        sum(when(col("asof").isNotNull, 1L).otherwise(0L)).as("n_converted"),
        countDistinct(col("user_id")).as("n_purchase_users"),
        countDistinct(when(col("asof").isNotNull, col("user_id"))).as("n_converted_users"))
      .crossJoin(broadcast(clicks.agg(count(lit(1)).as("n_clicks"))))
      .select(col("n_clicks"), col("n_purchases"), col("n_converted"),
        col("n_purchase_users"), col("n_converted_users"),
        round(col("n_converted").cast("double") /
          greatest(col("n_purchases"), lit(1L)).cast("double"), 6).as("conversion_rate"))
  }

  /** Cohort retention: users grouped by first-active day, counted on each
    * later active day — the other classic event-analytics table. Cohort
    * assignment is one per-user window min (same exchange class as
    * sessionize), the matrix one (cohort, offset) count-distinct agg.
    */
  private def q11Retention(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val ms = evTime(ev).ms
    val byUser = Window.partitionBy("user_id")
    ev.select(col("user_id"), ms.as("__ms"))
      .withColumn("__day", expr("__ms div 86400000"))
      .withColumn("__cohort", min(col("__day")).over(byUser))
      .groupBy(col("__cohort").as("cohort_day"), (col("__day") - col("__cohort")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Interval join: errors within 5 minutes AFTER a purchase by the same
    * user — [[Intervals.windowJoin]]'s time-bucketed equi-join (constant 2×
    * fan-out, no per-key nested loop); the DuckDB twin is the plain
    * theta-join, so the binning's boundary semantics (exclusive start,
    * inclusive end) are hash-checked.
    */
  private def jIntervalErrors(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val ms = evTime(ev).ms
    val p = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), ms.as("pts"))
    val e = ev.where(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("error_id"), ms.as("ets"))
    Intervals.windowJoin(p, e, "user_id", "pts", "ets", windowMs = 300000L)
      .select(col("user_id"), col("purchase_id"), col("error_id"),
        (col("ets") - col("pts")).as("delta_ms"))
      .orderBy("purchase_id", "error_id")
  }

  /** X6: the end-to-end corpus-cleaning pipeline (lang filter + quality
    * floor + exact dedup) as one registered query — the composed shape a
    * pretraining-data job actually runs, oracle-checked end to end.
    */
  private def x6CleanCorpus(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.cleanCorpus(t(spark, dir, "documents"), "doc_id", col("text"))
      .orderBy("keeper_id")

  /** X6: vocabulary top-k (token frequency + doc frequency) — the BPE /
    * vocab-building precursor pass.
    */
  private def x6VocabTopk(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabTopK(t(spark, dir, "documents"), "doc_id", col("text"), k = 100)
      .orderBy(col("n_occurrences").desc, col("token"))

  /** X6: BPE merge learning (tokenizer-training precursor) — fit-small
    * over the capped vocab, every merge decision hash-checked against the
    * unrolled DuckDB twin.
    */
  private def x6BpeMerges(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Bpe.learnMerges(t(spark, dir, "documents"), col("text"))
      .orderBy("merge_rank")

  /** X6t: BPE application — per-doc token count under the merges just
    * learned from the corpus itself (the measure a token-budget quota
    * would actually use once a tokenizer exists, vs the regex
    * approximation). The learned table is tokenizer-sized (≤ 8 rows here;
    * tens of thousands in production — still a broadcast artifact), so
    * collecting it driver-side is the standard model-fit pattern; the
    * corpus pass applies the merges as nested codegen'd string replaces —
    * no UDF, no shuffle beyond the per-doc count agg. The twin re-learns
    * the identical merges (unrolled stages) and re-applies them with the
    * same leftmost non-overlapping primitive, so any divergence in EITHER
    * phase breaks the hash.
    */
  /** Fit-once store for the corpus BPE merge table: the first query that
    * needs the merges for a given corpus dir pays the fit, persists the
    * artifact through [[graft.ops.ModelStore.savePairs]], and every later
    * consumer (x6_bpe_fertility after x6_bpe_tokens, bench re-runs) RELOADS
    * it — the deployment flow (train once, ship the artifact to every
    * scoring job) instead of re-learning an identical table per query.
    * Deterministic: the fit is a pure function of the corpus, so which
    * query pays it cannot change any result.
    */
  private val bpeMergePaths = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def learnedBpeMerges(spark: SparkSession, dir: String): Seq[(String, String)] = {
    val path = bpeMergePaths.computeIfAbsent(dir, { _ =>
      val merges = graft.ops.Bpe.learnMerges(t(spark, dir, "documents"), col("text"))
        .orderBy("merge_rank")
        .select("lhs", "rhs").collect().map(r => (r.getString(0), r.getString(1))).toSeq
      val p = java.nio.file.Files.createTempDirectory("graft-bpe-merges")
        .resolve("merges").toString
      graft.ops.ModelStore.savePairs(spark, merges, p)
      p
    })
    graft.ops.ModelStore.loadPairs(spark, path)
  }

  private def x6BpeTokens(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    graft.ops.Bpe.tokenCountWithMerges(docs, "doc_id", col("text"),
        learnedBpeMerges(spark, dir))
      .orderBy("doc_id")
  }

  /** X6tf: tokenizer fertility by language — mean BPE tokens per word per
    * lang under the corpus' own learned merges (same fit as
    * x6_bpe_tokens). The multilingual tokenizer-fairness report: a merge
    * table learned on skewed data shows up as a cross-language fertility
    * gap here before any training run pays for it in sequence length.
    */
  private def x6BpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    graft.ops.Bpe.fertilityByGroup(docs, "lang", col("text"),
        learnedBpeMerges(spark, dir))
      .orderBy("lang")
  }

  private def x4MultimodalMeta(spark: SparkSession, dir: String): DataFrame =
    Multimodal.asMedia(t(spark, dir, "documents"), "doc_id", col("text"), "text/plain")
      .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"),
        col("meta.content_md5").as("content_md5"),
        base64(col("media").substr(1, 12)).as("b64_head"))
      .orderBy("doc_id")

  /** One-time local blob store posing as the external media store for the
    * lazy-pointer query: concatenated UTF-8 payloads of `documents` in
    * doc_id order. In production the store already exists — building it is
    * setup, the pointer path is what the query measures. Written atomically
    * (tmp + rename) and cached per sf dir.
    */
  private def blobStoreFor(spark: SparkSession, dir: String): String = {
    // cache key fingerprints the SOURCE parquet (size + mtime), not just
    // the dir name: a regenerated fixture must rebuild the blob, and a
    // dir-name hash collision must not serve another dataset's bytes
    val src = java.nio.file.Paths.get(s"$dir/documents.parquet")
    val fp = {
      val (sz, mt) =
        if (java.nio.file.Files.isDirectory(src)) {
          val listing = java.nio.file.Files.list(src)
          val parts =
            try listing.toArray.map(_.asInstanceOf[java.nio.file.Path])
              .filter(_.toString.endsWith(".parquet")).sortBy(_.toString)
            finally listing.close() // directory stream holds an fd
          (parts.map(java.nio.file.Files.size).sum,
            parts.map(p => java.nio.file.Files.getLastModifiedTime(p).toMillis).foldLeft(0L)(math.max))
        } else if (java.nio.file.Files.exists(src))
          (java.nio.file.Files.size(src), java.nio.file.Files.getLastModifiedTime(src).toMillis)
        else (0L, 0L)
      java.lang.Long.toHexString(sz * 31 + mt)
    }
    val dirKey = dir.hashCode.toHexString
    val blob = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft_blob_${dirKey}_$fp.bin")
    if (!java.nio.file.Files.exists(blob)) {
      // a regenerated fixture gets a fresh fingerprint: drop the
      // superseded blob(s) for this dataset dir instead of orphaning them
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
      val stale = java.nio.file.Files.list(tmp)
      try stale.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => p.getFileName.toString.startsWith(s"graft_blob_${dirKey}_") && p != blob)
        .foreach(p => scala.util.Try(java.nio.file.Files.deleteIfExists(p)))
      finally stale.close()
      // toLocalIterator, not collect(): the driver holds one partition of
      // the sorted corpus at a time (constant memory at any SF), streaming
      // bytes straight to disk. Fixture plumbing standing in for an external
      // object store, but it sits on a registered query's path so it must
      // not be the thing that OOMs first.
      val texts = t(spark, dir, "documents").select("doc_id", "text")
        .orderBy("doc_id").toLocalIterator()
      val out = java.nio.file.Files.createTempFile("graft_blob", ".tmp")
      val ch = java.nio.file.Files.newOutputStream(out)
      try texts.forEachRemaining(r => ch.write(r.getString(1).getBytes("UTF-8")))
      finally ch.close()
      try java.nio.file.Files.move(out, blob, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileAlreadyExistsException => () } // concurrent builder won
    }
    blob.toString
  }

  /** X4 lazy-pointer column: the row carries (path, offset, n_bytes), the
    * shuffle moves pointers, and bytes materialize partition-locally after
    * it. Hash-checked: the oracle computes the same digest/head from
    * documents.text directly, so any byte infidelity in the pointer read
    * path (offset math, range reads, channel reuse) breaks the gate.
    */
  private val X4Buckets = 32
  private def x4LazyPointer(spark: SparkSession, dir: String): DataFrame = {
    val blobPath = blobStoreFor(spark, dir)
    val docs = t(spark, dir, "documents")
    val len = octet_length(col("text")).cast("long")
    val sized = docs.withColumn("n_bytes", len)
    // Two-phase byte offsets (same shape as e7's numbering): a bare
    // Window.orderBy(doc_id) running sum funnels the whole corpus through
    // ONE reducer. Instead doc_ids are range-bucketed with a monotone
    // function of broadcast min/max, so bucket-major + doc_id-minor order
    // equals global doc_id order; offset = broadcast cumulative bucket
    // byte-size + within-bucket running sum. Widest sort = 1/X4Buckets of
    // the corpus. The bucket prefix-sum is a triangular self-join over the
    // ≤X4Buckets-row aggregate (no global window — an unpartitioned
    // WindowExec would route through one partition, and a constant
    // partition key gets folded away by EliminateWindowPartitions).
    // same two-phase range-bucket numbering as e7BatchSlices (see the note
    // there): a change to the bucket formula applies in BOTH places
    val stats = sized.agg(min("doc_id").as("__lo"), max("doc_id").as("__hi"))
    val bucketed = sized.crossJoin(broadcast(stats))
      .withColumn("__b", least(lit(X4Buckets - 1).cast("long"),
        floor((col("doc_id") - col("__lo")) * X4Buckets / (col("__hi") - col("__lo") + 1))).cast("int"))
      .drop("__lo", "__hi")
    val sizes = bucketed.groupBy("__b").agg(sum("n_bytes").as("__c"))
    val offsets = sizes.select(col("__b"), col("__c"))
      .join(broadcast(sizes.select(col("__b").as("__b2"), col("__c").as("__c2"))),
        col("__b2") < col("__b"), "left")
      .groupBy("__b").agg(coalesce(sum("__c2"), lit(0L)).as("__off"))
    val ptrs = bucketed.join(broadcast(offsets), Seq("__b"))
      .withColumn("offset", col("__off") + coalesce(sum("n_bytes").over(
        Window.partitionBy("__b").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("__b", "__off")
    val media = Multimodal.asMediaPointers(ptrs, "doc_id",
      lit(blobPath), col("offset"), col("n_bytes"), "text/plain")
    // a genuine range-partition shuffle over the POINTER representation —
    // the payload bytes do not exist yet (OpsSpec asserts the exchange
    // output carries no binary column)
    val shuffled = media.repartitionByRange(8, col("doc_id"))
    Multimodal.materializePointers(shuffled, "doc_id")
      .select(col("id").as("doc_id"),
        length(col("media")).cast("long").as("n_bytes"),
        md5(base64(col("media"))).as("content_md5"),
        base64(col("media").substr(1, 12)).as("b64_head"))
      .orderBy("doc_id")
  }

  private def x4ByteFeatures(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.asMedia(t(spark, dir, "documents"), "doc_id", col("text"), "text/plain")
    Multimodal.byteFeatures(media, "doc_id", dim = 8)
      .select(col("id"), round(element_at(col("features"), 1), 6).as("f0"),
        round(element_at(col("features"), 8), 6).as("f7"))
      .orderBy("id")
  }

  /** X4 real decode: every document becomes a genuine binary PPM (P6)
    * image — header + RGB raster, dimensions varying per doc — and the
    * kernel PARSES the container: width/height/maxval come from the header
    * bytes, channel means and checksum from the raster. The oracle rebuilds
    * the identical payload byte-for-byte in DuckDB and recomputes the same
    * stats, so a header-parse or offset bug breaks the hash. Mean
    * denominators (w·h ∈ [12,48]) cannot produce exact half-way values at
    * 6 dp, so round() is engine-stable.
    */
  private def x4DecodePpm(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val w = (lit(4L) + col("doc_id") % 5).cast("int")
    val h = (lit(3L) + col("doc_id") % 4).cast("int")
    val media = docs.select(col("doc_id"),
      Multimodal.encodePpm(col("text"), w, h).as("media"))
    Multimodal.decodePpm(media, "doc_id")
      .select(col("id").as("doc_id"), col("width"), col("height"), col("maxval"),
        round(col("mean_r"), 6).as("mean_r"), round(col("mean_g"), 6).as("mean_g"),
        round(col("mean_b"), 6).as("mean_b"), col("px_checksum"))
      .orderBy("doc_id")
  }

  /** The shared X4d image fixture: every document becomes a genuine P6
    * payload whose raster cycles a per-GROUP base pattern (md5 of
    * doc_id÷25 — 25 docs per base image) except for a 78-byte trailing
    * patch (the last two pixel rows) cycled from the doc's text prefix —
    * "the same picture with a small local edit" within a group, unrelated
    * pictures across groups. The base is keyed by a BOUNDED id block, not
    * by `source`: cluster SIZE stays 25 at every sf while cluster COUNT
    * grows with the corpus, so the near-dup pair list scales linearly —
    * a source-keyed base (20 constant images forever) would make the
    * registered pair query quadratic-in-fixture, the exact anti-pattern
    * the r6 decon registration was flagged for. md5 decorrelates distinct
    * bases (raw block numbers differ by one byte per cycle). 13×9 pixels
    * so the 9×8 dHash grid exercises real nearest-neighbor downsampling
    * (13/9 and 9/8 are non-integral); the patch must reach row 7 — a row
    * the grid samples (py = gy·9/8 covers 0..7, never row 8) — so edits
    * are VISIBLE to the hash but confined to one grid row (≤ 8 of 64
    * bits).
    */
  private def dhashMedia(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(col("doc_id"),
      Multimodal.encodePpmPatch(md5(expr("CAST(doc_id DIV 25 AS STRING)").cast("binary")),
        substring(col("text"), 1, 12),
        w = 13, h = 9, patchBytes = 78).as("media"))

  /** X4d: perceptual dHash of every image — the decode kernel parses the
    * P6 header for real and the 64-bit hash is pure integer math (grid
    * sample, brightness sum, strict gradient sign), so the DuckDB twin
    * rebuilds it bit-for-bit and any header/offset/grid bug breaks the
    * hash gate.
    */
  private def x4DHash(spark: SparkSession, dir: String): DataFrame =
    Multimodal.ppmDHash(dhashMedia(spark, dir), "doc_id")
      .select(col("id").as("doc_id"), col("dhash"))
      .orderBy("doc_id")

  /** X4d: image near-dup pairs — dHash + the banded 64-bit Hamming
    * self-join shared with SimHash ([[Dedup.hamming64NearDupPairs]]):
    * pigeonhole chunking keeps recall exactly 1 at the bound while only
    * images agreeing on a full chunk ever meet, and `bit_count(xor)`
    * verification keeps precision exact — the corpus-scale visual-dedup
    * plan (16 bytes/image shuffles, pixels never do). Registered at
    * maxHamming = 3 — the 4×16-bit split (Manku et al., WWW '07), the
    * SCALE regime: a round-8 ×100 measurement caught the 9×7-bit
    * maxHamming = 8 form saturating its 128-value chunk space
    * (~10^10 candidates at 500 k images, >20-minute stage vs seconds) —
    * see the regime note on [[Dedup.hamming64NearDupPairs]]. The oracle
    * verifies via the all-pairs form at the same bound, so the hash gate
    * proves the banded plan loses nothing.
    */
  private def x4ImageNearDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.hamming64NearDupPairs(
        Multimodal.ppmDHash(dhashMedia(spark, dir), "doc_id"), "id", "dhash", maxHamming = 3)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy("id_a", "id_b")

  /** X4 real decode, audio flavor: every document becomes a genuine
    * RIFF/WAVE payload (44-byte canonical header + 16-bit LE PCM cycled
    * from the text bytes) and the kernel walks the chunk list for real:
    * sample rate comes from the parsed `fmt ` chunk, the sample count from
    * the parsed `data` size. The oracle recomputes the identical PCM stats
    * from the same byte construction, so endianness/offset bugs break the
    * hash. Sample-count denominators (50..81) cannot tie at 6 dp.
    */
  private def x4DecodeWav(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val media = docs.select(col("doc_id"),
      Multimodal.encodeWav(col("text"), lit(50L) + col("doc_id") % 32, lit(8000)).as("media"))
    Multimodal.decodeWav(media, "doc_id")
      .select(col("id").as("doc_id"), col("sample_rate"), col("n_samples"),
        round(col("mean_amp"), 6).as("mean_amp"), col("peak"), col("pcm_checksum"))
      .orderBy("doc_id")
  }

  /** X4f: frame-level audio features over the deterministic WAV fixture —
    * decode kernel hands the PCM array to pure column expressions (16-
    * sample frames, RMS + peak each); the frame-sample step of an audio
    * pipeline, map-side end to end.
    */
  private def x4WavFrames(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val media = docs.select(col("doc_id"),
      Multimodal.encodeWav(col("text"), lit(50L) + col("doc_id") % 32, lit(8000)).as("media"))
    Multimodal.wavFrameEnergy(media, "doc_id", frameLen = 16)
      .select(col("id").as("doc_id"), col("frame_idx"), col("n_in_frame"), col("rms"), col("peak"))
      .orderBy("doc_id", "frame_idx")
  }

  /** The shared X4g audio fixture, mirroring [[dhashMedia]]'s group
    * structure: every document becomes a genuine RIFF/WAVE payload whose
    * PCM cycles a per-GROUP base pattern (md5 of doc_id÷25 — 25 clips per
    * base recording) except for a 16-sample trailing patch cycled from the
    * doc's text prefix — "the same recording with a small local edit"
    * within a group, unrelated audio across groups. Group size stays 25 at
    * every sf while group count grows, so the near-dup pair list scales
    * linearly. The base is a 640-char md5 CHAIN (md5(g-0)‖…‖md5(g-19)) —
    * LONGER than the 634-byte base region, so the PCM never cycles: a
    * short repeated base (one 32-char md5) aliases against the ~5.12-
    * sample segments into near-periodic bit patterns that unrelated
    * groups share (measured: cross-group Hamming down to 0), while the
    * chain makes segment energies phase-free pseudorandom per group.
    * 333 samples: not a multiple of 65, so floor boundaries are genuinely
    * non-uniform (5–6 samples — exercising the mean normalization). The
    * patch covers samples 317..332 → segments 61..64 → at most 4 of 64
    * bits differ within a group.
    */
  private def awavMedia(spark: SparkSession, dir: String): DataFrame = {
    val g = expr("CAST(doc_id DIV 25 AS STRING)")
    val base = concat((0 until 20).map(k => md5(concat(g, lit(s"-$k")).cast("binary"))): _*)
    t(spark, dir, "documents").select(col("doc_id"),
      Multimodal.encodeWavPatch(base, substring(col("text"), 1, 12),
        nSamples = 333, sampleRate = 8000, patchSamples = 16).as("media"))
  }

  /** X4g: perceptual energy hash of every audio clip — the decode kernel
    * walks the RIFF chunks for real and the 64-bit hash is pure integer
    * math (65 floor-boundary spans, exact Σv² energies, strict gradient
    * sign), so the DuckDB twin rebuilds it bit-for-bit and any chunk-walk/
    * endianness/boundary bug breaks the hash gate.
    */
  private def x4AwavHash(spark: SparkSession, dir: String): DataFrame =
    Multimodal.wavEnergyHash(awavMedia(spark, dir), "doc_id")
      .select(col("id").as("doc_id"), col("ahash"))
      .orderBy("doc_id")

  /** X4g: audio near-dup pairs — energy hash + the SAME banded 64-bit
    * Hamming self-join images and SimHash use
    * ([[Dedup.hamming64NearDupPairs]]; recall exactly 1 at the bound by
    * pigeonhole, bit_count(xor) verification for exact precision).
    * Registered at maxHamming = 3 (4×16-bit chunks), the scale regime —
    * same round-8 finding as [[x4ImageNearDup]]: 7-bit chunks saturate at
    * corpus scale. The oracle verifies via the all-pairs form at the same
    * bound, so the hash gate proves the banded plan loses nothing.
    * Completes the dedup modality matrix: text (MinHash/SimHash),
    * embeddings (RHP/SemDeDup), images (dHash), audio (energy hash) all
    * feed the same scale-safe pair machinery.
    */
  private def x4AudioNearDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.hamming64NearDupPairs(
        Multimodal.wavEnergyHash(awavMedia(spark, dir), "doc_id"), "id", "ahash", maxHamming = 3)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy("id_a", "id_b")

  /** The shared X4h video fixture: every document becomes a genuine GV1
    * container whose frame stream cycles a per-GROUP base pattern (20
    * concatenated md5s of doc_id÷25, a 320-byte cycle that sweeps phases
    * across the 90-byte frames) except for the last TWO frames, cycled
    * from the doc's text prefix — "the same clip with a re-shot ending"
    * within a group, unrelated clips across groups. The frame count
    * 72 + (doc_id÷25) % 41 is constant WITHIN a group (near-dups must
    * share span geometry) and ≥ 65 so every one of the temporal hash's 65
    * spans is nonempty. Like the image/audio fixtures, the base is keyed
    * by a BOUNDED id block: cluster size stays 25 at every sf while
    * cluster count grows with the corpus, so the pair list scales
    * linearly. Both patch frames land in span 64 (for nf ≥ 66,
    * span(nf-2) = span(nf-1) = 64), so within-group hashes differ only in
    * bit 63 — comfortably inside the maxHamming = 3 bound while
    * cross-group distances sit near 32.
    */
  private def vidMedia(spark: SparkSession, dir: String): DataFrame = {
    val g = expr("CAST(doc_id DIV 25 AS STRING)")
    val base = concat((0 until 20).map(k => md5(concat(g, lit(s"-$k")).cast("binary"))): _*)
    t(spark, dir, "documents").select(col("doc_id"),
      Multimodal.encodeGvidPatch(base, substring(col("text"), 1, 12),
        expr("CAST(72 + (doc_id DIV 25) % 41 AS INT)"), w = 6, h = 5,
        patchFrames = 2).as("media"))
  }

  /** X4h: temporal brightness-envelope hash of every video — the decode
    * kernel parses the GV1 header for real and the 64-bit hash is pure
    * integer math (exact per-frame brightness, 65 floor-boundary spans,
    * cross-multiplied mean compare), so the DuckDB twin rebuilds it
    * bit-for-bit and any header/boundary/normalization bug breaks the
    * hash gate.
    */
  private def x4VHash(spark: SparkSession, dir: String): DataFrame =
    Multimodal.gvidTemporalHash(vidMedia(spark, dir), "doc_id")
      .select(col("id").as("doc_id"), col("vhash"))
      .orderBy("doc_id")

  /** X4h: video near-dup pairs — temporal hash + the SAME banded 64-bit
    * Hamming self-join as SimHash/images/audio
    * ([[Dedup.hamming64NearDupPairs]], maxHamming = 3: the 4×16-bit
    * scale regime; recall exactly 1 at the bound by pigeonhole,
    * bit_count(xor) verification for exact precision). The oracle
    * verifies via the all-pairs form at the same bound, so the hash gate
    * proves the banded plan loses nothing. Completes the dedup modality
    * matrix: text, embeddings, images, audio, and now video all feed the
    * same scale-safe pair machinery.
    */
  private def x4VideoNearDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.hamming64NearDupPairs(
        Multimodal.gvidTemporalHash(vidMedia(spark, dir), "doc_id"), "id", "vhash", maxHamming = 3)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy("id_a", "id_b")

  /** X4r: the image near-dup pair list written in the NAIVE declarative
    * form — a theta-join on `bit_count(dhash_a ^ dhash_b) <= 3` — which
    * Spark alone can only plan as a nested-loop pairing. The session's
    * [[graft.plans.HammingJoinRewrite]] optimizer rule turns it into the
    * banded pigeonhole equi-join, so this query puts the REWRITE itself
    * under the driver's hash gate: its output must equal
    * [[x4ImageNearDup]]'s hand-banded plan and the oracle's all-pairs SQL
    * bit-for-bit, and PlanAuditSpec pins the cartesian-free plan shape.
    */
  private def x4ImageNearDupSql(spark: SparkSession, dir: String): DataFrame = {
    val dh = Multimodal.ppmDHash(dhashMedia(spark, dir), "doc_id")
    val a = dh.select(col("id").as("id_a"), col("dhash").as("__ha"))
    val b = dh.select(col("id").as("id_b"), col("dhash").as("__hb"))
    a.join(b, bit_count(col("__ha").bitwiseXOR(col("__hb"))) <= lit(3) &&
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("__ha").bitwiseXOR(col("__hb"))).as("hamming"))
      .orderBy("id_a", "id_b")
  }

  /** X4e: nearest-neighbor resize of the patched image fixture to 8×8 —
    * the thumbnail step; 13→8 and 9→8 are non-integral, so the floor map
    * is genuinely exercised. /64 means are exact at 6 dp (1/64 =
    * 0.015625), so the rounding is engine-stable by construction.
    */
  private def x4Resize(spark: SparkSession, dir: String): DataFrame =
    Multimodal.ppmResizeStats(dhashMedia(spark, dir), "doc_id", w2 = 8, h2 = 8)
      .select(col("id").as("doc_id"), col("width"), col("height"),
        round(col("mean_r"), 6).as("mean_r"), round(col("mean_g"), 6).as("mean_g"),
        round(col("mean_b"), 6).as("mean_b"), col("px_checksum"))
      .orderBy("doc_id")

  /** X4v: video frame-sampling — every doc becomes a genuine GV1 container
    * (parsed header: frame count 3..5 varies per doc, 6×5 rasters cycled
    * from the text); the kernel strides every 2nd frame and folds each to
    * exact channel sums. k/30 means cannot tie at 6 dp (10·k mod 30 never
    * hits 15), so round() is engine-stable.
    */
  private def x4VideoFrames(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val media = docs.select(col("doc_id"),
      Multimodal.encodeGvid(col("text"), lit(3L) + col("doc_id") % 3, w = 6, h = 5).as("media"))
    Multimodal.gvidFrameStats(media, "doc_id", every = 2)
      .select(col("id").as("doc_id"), col("frame_idx"),
        round(col("mean_r"), 6).as("mean_r"), round(col("mean_g"), 6).as("mean_g"),
        round(col("mean_b"), 6).as("mean_b"), col("px_checksum"))
      .orderBy("doc_id", "frame_idx")
  }

  /** X7: deterministic train/val/test split — md5-hash interval
    * assignment, a pure projection (no shuffle at any scale; the orderBy
    * is output canonicalization only). Split fractions are interpolated
    * into the oracle at full double precision so interval boundaries are
    * bit-identical (see [[Oracles.SplitCuts]]).
    */
  private def x7Split(spark: SparkSession, dir: String): DataFrame =
    Sampling.assignSplit(t(spark, dir, "documents"), "doc_id")
      .select(col("doc_id"), col("split"))
      .orderBy("doc_id")

  /** X7sh: deterministic shuffle-shard export assignment — every doc's
    * (shard, pos) under seed "r8" across 16 shards. The oracle replays
    * the md5 permutation position-for-position (both engines emit
    * lowercase hex, so the within-shard hash order is portable).
    */
  private def x7ShuffleShards(spark: SparkSession, dir: String): DataFrame =
    Sampling.shuffleShards(t(spark, dir, "documents"), "doc_id", nShards = 16, seed = "r8")
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy("doc_id")

  /** X7pp: PPS Poisson sampling at expected size 60 — per-doc inclusion
    * with p ∝ token count, decided by an exact integer comparison (no
    * floating point anywhere), so the twin replays the weighted draw
    * bit-for-bit. The rate adapts to the corpus total W, so the expected
    * sample size stays 60 at every scale while the corpus grows under it
    * (long docs proportionally favored — the PPS property).
    */
  /** X7fk: exact fixed-k per-group sample — exactly min(k, |group|)
    * rows per event type, drawn by seeded id-hash rank
    * ([[Sampling.fixedKSample]]): the eval-set carve where "about 10%"
    * (the hash-fraction draw) is the wrong contract and "exactly 40 per
    * class" is the point. The shuffle ships k-capped TopKAgg heaps, not
    * rows; the twin replays the identical permutation via row_number
    * over the same md5 rank, so every (group, rank, id) triple is
    * hash-pinned.
    */
  private def x7FixedKSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.fixedKSample(t(spark, dir, "events"), "event_id",
      Seq("event_type"), k = 40, seed = "r11")
      .orderBy("event_type", "rank")

  private def x7PpsSample(spark: SparkSession, dir: String): DataFrame = {
    // weight staged as a named column so the filter and the output share
    // ONE tokenCount extraction per pass (the W aggregation pays its own)
    val docs = t(spark, dir, "documents")
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
    Sampling.ppsSample(docs, "doc_id", col("n_tokens"), expectedDocs = 60L)
      .select(col("doc_id"), col("n_tokens"))
      .orderBy("doc_id")
  }

  /** X7: exact stratified sample — 25% of each (lang, source) stratum,
    * selected by md5 rank so the sample is reproducible and nested
    * (a 50% sample would contain this one).
    */
  private def x7StratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedSample(t(spark, dir, "documents"), "doc_id",
      Seq("lang", "source"), fraction = 0.25)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")

  /** X7: mixture reweighting — sample the lang-skewed corpus (en is ~3×
    * fr) toward a UNIFORM five-language mix at 60% of corpus size. Long
    * languages are md5-thinned to quota, short ones pass whole — the
    * static domain-reweighting step of training-mix construction. One tiny
    * group-count agg broadcast back; the corpus pass is map-only.
    */
  private def x7MixtureSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.mixtureSample(t(spark, dir, "documents"), "doc_id", "lang",
      weights = Map("de" -> 0.2, "en" -> 0.2, "es" -> 0.2, "fr" -> 0.2, "zh" -> 0.2),
      targetFraction = 0.6)
      .orderBy("doc_id")

  /** X7tm: temperature-scaled mixture — rebalance the lang-skewed corpus
    * (en ~3× fr) toward the T=2 (sqrt-flattened) distribution at 50% of
    * corpus size. Unlike x7_mixture_sample the shares come from the corpus
    * itself, q_l ∝ √n_l — the XLM-R multilingual recipe; sqrt is the one
    * power IEEE guarantees correctly rounded, so the draw replays
    * bit-for-bit in the twin.
    */
  private def x7TemperatureMix(spark: SparkSession, dir: String): DataFrame =
    Sampling.temperatureMixtureSample(t(spark, dir, "documents"), "doc_id", "lang",
      temperature = 2.0, targetFraction = 0.5)
      .orderBy("doc_id")

  /** X2: SemDeDup-style semantic dedup — within each closed-form LSH cell,
    * drop every embedding with a ≥ 0.4-cosine neighbor of lower
    * centroid-similarity (keep the least-typical representative). The
    * quantizer is the md5 sign-LSH cell map, so cells, exact-decimal
    * centroids and the drop rule are all reproduced bit-exactly by the
    * DuckDB twin — semantic dedup under the hash gate, not rows-only.
    */
  private def x2Semdedup(spark: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedup(t(spark, dir, "embeddings"), threshold = 0.4, dim = 64)
      .orderBy("vec_id")

  /** X2 SemDeDup at its SCALE-form knob: `bitsPerCell = 8` (256 cells).
    * `bitsPerCell` plays the role of the paper's cluster count k (≈11k for
    * 400M rows): the within-cell pair term is quadratic in cell OCCUPANCY,
    * so cell count must grow with the corpus for the dedup pass to stay
    * ~linear — the 4-bit default's 16 cells are a toy parameterization
    * whose occupancy grows linearly with corpus size. Registered so the
    * scale-form cells, centroids and drop rule sit under the hash gate
    * exactly like x2_rhp_scale does for the RHP banding knobs; the ×10
    * rehearsal (SCALING.md) measures its scaling exponent.
    */
  private def x2SemdedupScale(spark: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedup(t(spark, dir, "embeddings"), threshold = 0.4, dim = 64,
      bitsPerCell = 8)
      .orderBy("vec_id")

  /** X7: token-budget quota — cap each source at 800 tokens (the fixture sources hold ~1300 each, so the quota genuinely cuts), admitting
    * docs in md5-priority order (strict prefix semantics: the
    * window-expressible form; the greedy skip-and-continue variant is
    * spec-tested in SamplingSpec).
    */
  private def x7TokenQuota(spark: SparkSession, dir: String): DataFrame =
    Sampling.tokenQuota(t(spark, dir, "documents"), "doc_id", col("text"),
      Seq("source"), budget = 800L, strict = true)
      .orderBy("source", "cum_tokens")

  /** X7: benchmark decontamination — training docs (doc_id % 20 != 0)
    * sharing any word trigram with the benchmark set (doc_id % 20 == 0).
    * The benchmark gram set is broadcast; the corpus side never shuffles
    * text — the scale contract for decontaminating 100 TB against a
    * fixed eval suite.
    */
  private def x7Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Contamination.contaminationReport(
      docs.where(col("doc_id") % 20 =!= 0),
      docs.where(col("doc_id") % 20 === 0),
      "doc_id", col("text"), n = 3)
      .orderBy("doc_id")
  }

  /** X7: near-dup clusters — connected components over the minhash-LSH
    * pair list, labeling every paired doc with its cluster (= min
    * reachable doc id) and whether it is the cluster's keeper. The DuckDB
    * twin recomputes the same pairs and closes them with a recursive CTE,
    * so the clustering itself is hash-checked, not just the pairs.
    */
  private def x7DedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashNearDupPairs(t(spark, dir, "documents"), "doc_id", col("text"),
      shingleLen = 3, numPerm = 64, bands = 16, threshold = 0.5)
    Components.dedupClusters(pairs).orderBy("id")
  }

  /** X7ds: cluster-size histogram over the same MinHash components as
    * x7_dedup_clusters — the dedup sizing report (pairs vs megaclusters)
    * read before approving the scrub.
    */
  private def x7DedupStats(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashNearDupPairs(t(spark, dir, "documents"), "doc_id", col("text"),
      shingleLen = 3, numPerm = 64, bands = 16, threshold = 0.5)
    Components.clusterSizeStats(pairs)
  }

  /** X7: the dedup APPLY step — the corpus anti-joined against non-keeper
    * cluster members, i.e. the surviving documents a training run would
    * actually read. Composes pairs → clusters → anti-join end to end under
    * one oracle.
    */
  private def x7DedupApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", col("text"),
      shingleLen = 3, numPerm = 64, bands = 16, threshold = 0.5)
    Components.applyDedup(docs, "doc_id", pairs)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** X7kb: dedup clusters under the KEEP-BEST policy — the same minhash
    * pair list as x7_dedup_clusters closed into components, but the keeper
    * is the member with the most tokens (ties → min id): "among the
    * near-duplicates keep the longest copy". The DuckDB twin recomputes
    * pairs, closes them with the recursive CTE, and replays the argmax
    * window, so the POLICY is hash-checked, not just the clustering.
    */
  private def x7DedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", col("text"),
      shingleLen = 3, numPerm = 64, bands = 16, threshold = 0.5)
    val scores = docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    Components.keepBestClusters(pairs, scores, "doc_id", "n_tokens").orderBy("id")
  }

  /** X6pm: PMI collocations — top-50 adjacent word pairs by pointwise
    * mutual information at min pair count 5. Bigrams are map-side
    * (transform over the word array, no window/self-join); PMI assembles
    * five 6-dp lns in exact DECIMAL (the x5_lm discipline) so the ranking
    * key is engine-portable.
    */
  private def x6Pmi(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.pmiCollocations(t(spark, dir, "documents"), col("text"),
      minCount = 5, topK = 50)

  /** X8f: composed pipeline v6 — the first MULTIMODAL composition: exact
    * visual dedup (dHash equality via the banded join at maxHamming 0 —
    * a pure hash equi-join) keeping the most-token copy per image cluster
    * ([[Components.keepBestClusters]]), then the Gopher rule gate at the
    * registered knobs, then the strict 800-token-per-source quota. The
    * oracle exploits that hamming-0 components are dhash equality classes
    * (equality is transitive — no recursive CTE needed), while the Spark
    * side runs the real pairs → union-find → argmax machinery, so the
    * gate also proves that machinery collapses to equality classes.
    */
  private def x8CurationV6(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val dh = Multimodal.ppmDHash(dhashMedia(spark, dir), "doc_id")
    val pairs = Dedup.hamming64NearDupPairs(dh, "id", "dhash", maxHamming = 0)
    val scores = docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("__ntk"))
    val drop = Components.keepBestClusters(pairs, scores, "doc_id", "__ntk")
      .where(!col("is_keeper")).select(col("id").as("doc_id"))
    val visKept = docs.join(drop, Seq("doc_id"), "left_anti")
    val gKept = TextAnalysis.gopherRules(visKept, "doc_id", col("text"),
        minWords = 30, minAlphaRatio = 0.8, maxTopWordFrac = 0.15)
      .where(col("keep")).select("doc_id")
    Sampling.tokenQuota(visKept.join(gKept, Seq("doc_id")), "doc_id", col("text"),
        Seq("source"), budget = 800L, strict = true)
      .orderBy("source", "cum_tokens")
  }

  /** X8g: composed pipeline v7 — CROSS-MODAL dedup curation, the first
    * composition requiring agreement between two modality dedups: a
    * document survives only if it is the keeper of BOTH its image cluster
    * (exact visual classes, hamming-0 dHash) and its audio cluster
    * (exact acoustic classes, hamming-0 energy hash) — keep-most-tokens,
    * min-id tiebreak in each modality — then a strict per-language token
    * quota. Spark runs the REAL pairs → union-find → argmax machinery
    * TWICE (one per modality) while the twin groups by the hash values
    * (hamming-0 components are equality classes by transitivity — the
    * same collapse x8_curation_v6 proves, now exercised on two
    * fingerprint kernels in one plan).
    */
  private def x8CurationV7(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    // pinned (r17, the x8_curation_v8 pattern): BOTH keeper gates rank
    // their clusters by the same token-count projection — unpinned, the
    // corpus tokenCount scan ran once per modality. Released by the
    // caller via OpCaches, like every pipeline pin.
    val scores = graft.ops.OpCaches.pin(docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("__ntk")))
    def dropNonKeepers(hashes: DataFrame, hashCol: String): DataFrame =
      Components.keepBestClusters(
          Dedup.hamming64NearDupPairs(hashes, "id", hashCol, maxHamming = 0),
          scores, "doc_id", "__ntk")
        .where(!col("is_keeper")).select(col("id").as("doc_id"))
    // the two modality gates are independent pipelines whose construction
    // runs bounded driver actions (component edge count + collect);
    // overlapped on futures like x8_curation_v8's three gates (guide §2.6)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val gates = Seq(
      Future(dropNonKeepers(
        Multimodal.ppmDHash(dhashMedia(spark, dir), "doc_id"), "dhash")),
      Future(dropNonKeepers(
        Multimodal.wavEnergyHash(awavMedia(spark, dir), "doc_id"), "ahash")))
      .map(Await.result(_, Duration.Inf))
    val Seq(dropVisual, dropAudio) = gates
    val kept = docs.join(dropVisual, Seq("doc_id"), "left_anti")
      .join(dropAudio, Seq("doc_id"), "left_anti")
    Sampling.tokenQuota(kept, "doc_id", col("text"),
        Seq("lang"), budget = 600L, strict = true)
      .orderBy("lang", "cum_tokens")
  }

  /** X8 v8: the full cross-modal keeper gate — v7's image∩audio keeper
    * condition extended with the VIDEO equality class
    * ([[graft.ops.Multimodal.gvidTemporalHash]] at hamming 0): a doc
    * survives only as the keeper (most tokens, min-id ties) of its image
    * class AND its audio class AND its video class, then the strict
    * per-lang token quota. All three modalities reduce to 8-byte
    * fingerprints before anything shuffles, so the composed plan's
    * exchange payload is independent of media size — the property that
    * makes a three-modality gate affordable at 100 TB.
    */
  private def x8CurationV8(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    // pinned (r17): all three keeper gates rank their clusters by the SAME
    // token-count projection — unpinned, the corpus tokenCount scan ran
    // once per modality (measured: the three scans were the query's
    // largest stage cluster, ~1.4 s each in the slow mode). Released by
    // the caller via OpCaches, like every pipeline pin.
    val scores = graft.ops.OpCaches.pin(docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("__ntk")))
    def dropNonKeepers(hashes: DataFrame, hashCol: String): DataFrame =
      Components.keepBestClusters(
          Dedup.hamming64NearDupPairs(hashes, "id", hashCol, maxHamming = 0),
          scores, "doc_id", "__ntk")
        .where(!col("is_keeper")).select(col("id").as("doc_id"))
    // The three modality gates are independent pipelines whose construction
    // each runs bounded driver actions (the component edge count + collect);
    // submitted from one thread they serialize, so they are overlapped on a
    // small thread pool (guide §2.6 — later jobs back-fill executors freed
    // by the current job's tail). Results are unaffected: the gates share
    // only the pinned `scores` scan, and OpCaches' registry is thread-safe.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val gates = Seq(
      Future(dropNonKeepers(
        Multimodal.ppmDHash(dhashMedia(spark, dir), "doc_id"), "dhash")),
      Future(dropNonKeepers(
        Multimodal.wavEnergyHash(awavMedia(spark, dir), "doc_id"), "ahash")),
      Future(dropNonKeepers(
        Multimodal.gvidTemporalHash(vidMedia(spark, dir), "doc_id"), "vhash")))
      .map(Await.result(_, Duration.Inf))
    val Seq(dropVisual, dropAudio, dropVideo) = gates
    val kept = docs.join(dropVisual, Seq("doc_id"), "left_anti")
      .join(dropAudio, Seq("doc_id"), "left_anti")
      .join(dropVideo, Seq("doc_id"), "left_anti")
    Sampling.tokenQuota(kept, "doc_id", col("text"),
        Seq("lang"), budget = 600L, strict = true)
      .orderBy("lang", "cum_tokens")
  }

  /** X8 v9: the complete training-set story end to end — the v8 survivors
    * (three-modality keeper gate + per-lang token quota) handed straight
    * to the shuffle-shard export assignment ([[Sampling.shuffleShards]],
    * seed "r8", 4 shards): curate, budget, then cut into reproducible
    * trainer shards — the pipeline a user actually ships. Every stage's
    * exchange payload is fingerprint- or tag-sized; the twin replays the
    * whole chain through the md5 permutation.
    */
  private def x8CurationV9(spark: SparkSession, dir: String): DataFrame =
    Sampling.shuffleShards(
        x8CurationV8(spark, dir).select(col("doc_id"), col("n_tokens")),
        "doc_id", nShards = 4, seed = "r8")
      .select(col("doc_id"), col("n_tokens"), col("shard"), col("pos"))
      .orderBy("doc_id")

  /** X8 v10: CALIBRATED curation — the quality floor is not a hand knob
    * but the output of the threshold-sweep report inside the same plan:
    * choose the HIGHEST candidate threshold that keeps >= 60% of corpus
    * tokens ([[TextAnalysis.thresholdSweep]] → max over the qualifying
    * rows, a one-row broadcast), gate the corpus on it (map-only — lang
    * rides the quality scan via `carry`, no corpus self-join),
    * temperature-mix the survivors toward the T=2 language distribution
    * at 50% ([[Sampling.temperatureMixtureSample]] — counts over
    * SURVIVORS, so the calibration feeds the mix), and cut the admitted
    * set into 4 reproducible shards. Data-driven knob selection is the
    * step human-tuned pipelines get wrong at scale; here the report, the
    * decision, and the gate sit under one oracle.
    */
  private def x8CurationV10(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val sweep = TextAnalysis.thresholdSweep(docs, "doc_id", col("text"),
      thresholds = Seq(0.0, 0.2, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9))
    val chosen = sweep.where(col("token_frac") >= 0.6)
      .agg(max(col("threshold")).as("threshold_used"))
    val gated = TextAnalysis.qualityMetrics(docs, "doc_id", col("text"), carry = Seq("lang"))
      .select(col("doc_id"), col("lang"), col("quality_score"))
      .crossJoin(broadcast(chosen))
      .where(col("quality_score") >= col("threshold_used"))
    val mixed = Sampling.temperatureMixtureSample(gated, "doc_id", "lang",
      temperature = 2.0, targetFraction = 0.5)
    Sampling.shuffleShards(mixed.select(col("doc_id"), col("lang")), "doc_id",
        nShards = 4, seed = "v10")
      .crossJoin(broadcast(chosen))
      .select(col("doc_id"), col("lang"), col("shard"), col("pos"), col("threshold_used"))
      .orderBy("doc_id")
  }

  /** X8v12: the governance release chain composed from the r10 pieces —
    * NFC canonicalization ([[graft.functions.NfcNormalize]], over the
    * same planted decomposed prefixes as x5_unicode_normalize so the
    * stage does real work on the ASCII corpus) → exact dedup on the
    * CANONICALIZED text (the order the two passes must run in: encoding
    * variance defeats dedup run first) → quality gate ≥ 0.5 → k-anonymity
    * release filter over (lang, source, length-bucket) with rows at risk
    * DROPPED (k=5) — each stage's arithmetic shared verbatim with its
    * standalone twin.
    */
  private def x8CurationV12(spark: SparkSession, dir: String): DataFrame = {
    val seqs = array(lit("Cafe\u0301"), lit("\u212B"),
      lit("\u1100\u1161\u11A8"), lit("e\u0302tre"), lit("A\u030A"),
      lit("\u2126"))
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        call_function("graft_nfc",
          concat(element_at(seqs, (col("doc_id") % 6 + 1).cast("int")),
            lit(" "), col("text"))).as("rawnt"))
    val kept = docs
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("rawnt")).orderBy(col("doc_id"))))
      .where(col("__rn") === 1).drop("__rn")
    val gated = TextAnalysis
      .qualityMetrics(kept, "doc_id", col("rawnt"),
        carry = Seq("lang", "source", "rawnt"))
      .select(col("doc_id"), col("lang"), col("source"), col("quality_score"),
        floor(length(graft.ops.Dedup.normalizeText(col("rawnt"))) / lit(500.0))
          .cast("long").as("len_bucket"))
      .where(col("quality_score") >= 0.5)
    gated
      .withColumn("class_size", count(lit(1)).over(
        Window.partitionBy(col("lang"), col("source"), col("len_bucket"))))
      .where(col("class_size") >= 5)
      .select(col("doc_id"), col("lang"), col("source"), col("quality_score"),
        col("class_size"))
      .orderBy("doc_id")
  }

  /** X7: sequence packing placement — concat-and-chunk into 512-token
    * sequences per source shard; every document's stream offset and
    * spanned sequence ids from pure window arithmetic.
    */
  private def x7PackSequences(spark: SparkSession, dir: String): DataFrame =
    Packing.concatChunkPack(t(spark, dir, "documents"), "doc_id", col("text"),
      seqLen = 512L, groupCols = Seq("source"))
      .orderBy("source", "start_offset")

  /** X7: per-sequence fill report over the same packing. */
  private def x7PackOccupancy(spark: SparkSession, dir: String): DataFrame = {
    val placed = Packing.concatChunkPack(t(spark, dir, "documents"), "doc_id", col("text"),
      seqLen = 512L, groupCols = Seq("source"))
    Packing.sequenceOccupancy(placed, seqLen = 512L, groupCols = Seq("source"))
      .orderBy("source", "seq_id")
  }

  /** Skew-mitigation path under the driver gate: revenue per supplier
    * nation through [[graft.ops.Skew.saltedJoin]] — the salted plan is
    * result-identical to the plain join BY CONTRACT, so the oracle is the
    * plain SQL join and any salting defect (dropped salt bucket, replica
    * duplication, wrong key composition) breaks the hash match. The
    * decimal-exact sum is order-independent, so the salt's partition
    * reshuffle cannot perturb it.
    */
  private def q8SaltedRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .select(col("l_suppkey").as("suppkey"), col("l_extendedprice"), col("l_discount"),
        col("l_orderkey"), col("l_linenumber"))
    val supp = t(spark, dir, "supplier").select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
    graft.ops.Skew.saltedJoin(li, supp, "suppkey", buckets = 8)
      .groupBy("s_nationkey")
      .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 18, 4).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("s_nationkey")
  }

  /** Q12: Bloom-pruned selective join ([[graft.ops.BloomPrune]]) — the
    * fact side dropped against a Bloom filter of the selective dimension
    * subset's keys BEFORE the shuffle; result-identical to the plain join
    * by the false-positives-only + re-verify contract, so the twin is the
    * plain SQL join (the saltedJoin gate style).
    */
  private def q12BloomRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
    val sup = t(spark, dir, "supplier").where(col("s_acctbal") > 9000.0)
      .select(col("s_suppkey"), col("s_name"))
    graft.ops.BloomPrune
      .prunedEquiJoin(li, sup, col("l_suppkey"), col("s_suppkey"),
        expectedItems = 1000000L, fpp = 0.01)
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 18, 4)
        .as("revenue"), count(lit(1)).as("n_items"))
      .orderBy("s_suppkey")
  }

  /** One planning-artifact catalog per sf dir for [[q13PlannedJoin]],
    * harvested once per JVM (the bpeMergePaths discipline): customer /
    * orders / lineitem join keys, one scan each, ~80 KB of CMS per key.
    */
  private val q13CatalogPaths = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def q13Catalog(spark: SparkSession, dir: String): String =
    q13CatalogPaths.computeIfAbsent(dir, { _ =>
      import graft.ops.SketchCatalog
      val cat = SketchCatalog.harvest(spark, s"$dir/customer.parquet", Seq("c_custkey"))
        .unionByName(SketchCatalog.harvest(spark, s"$dir/orders.parquet",
          Seq("o_orderkey", "o_custkey")))
        .unionByName(SketchCatalog.harvest(spark, s"$dir/lineitem.parquet",
          Seq("l_orderkey")))
      val path = scratch(dir, "q13_catalog")
      SketchCatalog.save(cat, path)
      path
    })

  /** Q13: sketch-PLANNED join — the stored-artifact planner loop closed
    * ([[graft.plans.SketchJoinPlanning]] consuming the
    * [[graft.ops.SketchCatalog]] this query harvests): the 3-table chain
    * is written WORST-first (lineitem ⋈ orders, then ⋈ customer) and
    * un-hinted, with Catalyst's own size-based broadcast disabled — so
    * any improvement is attributable to the artifacts alone. The rule
    * must (a) rotate the chain so the pair whose CMS inner product is
    * smaller (orders ⋈ customer) joins first, and (b) broadcast the side
    * whose catalogued bytes are small (customer). Both flips are probed
    * from the forced physical plans and ride the hash gate as pinned
    * booleans, alongside the naive-baseline control (no catalog → all
    * sort-merge); the revenue aggregate travels verbatim (the plain-join
    * twin — planning must be invisible to results).
    */
  private def q13PlannedJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.SketchCatalog
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    def chain(): DataFrame = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .join(spark.read.parquet(s"$dir/customer.parquet"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_items"),
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 18, 4)
          .as("revenue"))
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val (naiveAllMerge, artifactBroadcast, artifactReordered) = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      SketchCatalog.deactivate(spark)
      val naive = physicalJoins(chain())
      SketchCatalog.activate(spark, q13Catalog(spark, dir))
      val planned = physicalJoins(chain())
      // deepest join after the rotation must not touch the fact table
      val bottomScans = planned.lastOption.toSeq.flatMap(_.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.head.toString
      })
      (naive.size == 2 && naive.forall(_.isInstanceOf[SortMergeJoinExec]),
        planned.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        bottomScans.nonEmpty && bottomScans.forall(!_.contains("lineitem")))
    } finally {
      SketchCatalog.deactivate(spark)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    }
    chain()
      .select(col("c_mktsegment"), col("n_items"), col("revenue"),
        lit(naiveAllMerge).as("naive_all_merge"),
        lit(artifactBroadcast).as("artifact_broadcast"),
        lit(artifactReordered).as("artifact_reordered"))
      .orderBy("c_mktsegment")
  }

  /** Planning catalog for [[q15PlannedChain]]: all four chain tables,
    * one harvest scan each, built once per JVM per sf dir.
    */
  private val q15CatalogPaths = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def q15Catalog(spark: SparkSession, dir: String): String =
    q15CatalogPaths.computeIfAbsent(dir, { _ =>
      import graft.ops.SketchCatalog
      val cat = SketchCatalog.harvest(spark, s"$dir/customer.parquet",
          Seq("c_custkey", "c_nationkey"))
        .unionByName(SketchCatalog.harvest(spark, s"$dir/orders.parquet",
          Seq("o_orderkey", "o_custkey")))
        .unionByName(SketchCatalog.harvest(spark, s"$dir/lineitem.parquet",
          Seq("l_orderkey")))
        .unionByName(SketchCatalog.harvest(spark, s"$dir/nation.parquet",
          Seq("n_nationkey")))
      val path = scratch(dir, "q15_catalog")
      SketchCatalog.save(cat, path)
      path
    })

  /** Q15: greedy Selinger over a FOUR-table chain — pass 1 generalized
    * past the 3-chain rotation: the chain is written worst-first
    * (lineitem ⋈ orders first, customer ⋈ nation last) and the rule must
    * rebuild the whole left-deep order from the CMS edge estimates —
    * cheapest pair (customer ⋈ nation) at the bottom, the fact table
    * attached LAST, cost = Σ intermediate cardinalities strictly
    * improved. Both structural facts are probed from the forced physical
    * plan and ride the hash gate as pinned booleans; the revenue
    * aggregate is the plain-join twin (reordering must be invisible to
    * results).
    */
  private def q15PlannedChain(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.SketchCatalog
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    def chain(): DataFrame = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .join(spark.read.parquet(s"$dir/customer.parquet"),
        col("o_custkey") === col("c_custkey"))
      .join(spark.read.parquet(s"$dir/nation.parquet"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_items"),
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 18, 4)
          .as("revenue"))
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val (naiveAllMerge, factLast, bottomDims) = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      SketchCatalog.deactivate(spark)
      val naive = physicalJoins(chain())
      SketchCatalog.activate(spark, q15Catalog(spark, dir))
      val planned = physicalJoins(chain())
      val bottom = planned.lastOption.toSeq.flatMap(planScans)
      val mid = if (planned.size == 3) planScans(planned(1)) else Nil
      (naive.size == 3 && naive.forall(_.isInstanceOf[SortMergeJoinExec]),
        planned.size == 3 && mid.nonEmpty && mid.forall(!_.contains("lineitem")),
        bottom.nonEmpty && bottom.forall(s =>
          s.contains("customer") || s.contains("nation")))
    } finally {
      SketchCatalog.deactivate(spark)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    }
    chain()
      .select(col("n_name"), col("n_items"), col("revenue"),
        lit(naiveAllMerge).as("naive_all_merge"),
        lit(factLast).as("artifact_fact_last"),
        lit(bottomDims).as("artifact_bottom_dims"))
      .orderBy("n_name")
  }

  /** Q16: CMS point-selectivity broadcast — the filtered-side refinement
    * of [[graft.plans.SketchJoinPlanning]]'s pass 2: a fact table
    * filtered to ONE key is the classic broadcastable side whose FILE
    * size lies (100 GB on disk, dozens of surviving rows), and the
    * stored CMS prices the point predicate without touching data
    * (count upper bound — never an undercount, so the broadcast
    * contract holds). With the rule's broadcast threshold at 64 KB:
    * the UNFILTERED lineitem ⋈ orders chain must stay sort-merge (both
    * sides' bytes are honest and large), while the same chain with
    * `o_custkey = 7` on orders must flip the filtered side to a
    * broadcast — table bytes identical in both plans, so the flip is
    * attributable to the refinement alone. Hash gate: revenue of that
    * customer's orders, plain-join twin.
    */
  private def q16FilteredBroadcast(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.SketchCatalog
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    def filtered(): DataFrame = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/orders.parquet")
        .where(col("o_custkey") === 7L),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 18, 4)
          .as("revenue"))
    def unfiltered(): DataFrame = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"))
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevBb = spark.conf.getOption(SketchCatalog.BroadcastBytesKey)
    // threshold pinned RELATIVE to the catalogued orders bytes (half),
    // so the control holds at every scale: the unfiltered side is
    // always over it, the point-refined estimate (~a dozen rows) always
    // under it — the flip isolates the refinement at sf0.001 and sf10
    // alike
    val ordersBytes = spark.read.parquet(q15Catalog(spark, dir))
      .where(col("key") === "o_custkey")
      .select(col("n_bytes")).head().getLong(0)
    val (naiveBare, refinedBroadcast, unfilteredMerge) = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(SketchCatalog.BroadcastBytesKey,
        math.max(1L, ordersBytes / 2).toString)
      SketchCatalog.deactivate(spark)
      val naive = physicalJoins(filtered())
      SketchCatalog.activate(spark, q15Catalog(spark, dir))
      (naive.forall(_.isInstanceOf[SortMergeJoinExec]) && naive.nonEmpty,
        physicalJoins(filtered()).exists(_.isInstanceOf[BroadcastHashJoinExec]),
        physicalJoins(unfiltered()).forall(_.isInstanceOf[SortMergeJoinExec]))
    } finally {
      SketchCatalog.deactivate(spark)
      prevBb match { // restore, never blindly unset a user's setting
        case Some(v) => spark.conf.set(SketchCatalog.BroadcastBytesKey, v)
        case None    => spark.conf.unset(SketchCatalog.BroadcastBytesKey)
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    }
    filtered()
      .select(col("o_orderpriority"), col("n_items"), col("revenue"),
        lit(naiveBare).as("naive_bare_merge"),
        lit(refinedBroadcast).as("artifact_point_broadcast"),
        lit(unfilteredMerge).as("artifact_unfiltered_merge"))
      .orderBy("o_orderpriority")
  }

  /** Hot-dim scratch table + planning catalog for [[q14RuntimeFilter]],
    * built once per JVM per sf dir: the dim is customers of three
    * nations — its KEY SET is a ~11% subset of the custkeys orders
    * carries, which is exactly what the stored HLL sketches must detect.
    */
  private val q14CatalogPaths = new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private def q14Catalog(spark: SparkSession, dir: String): (String, String) =
    q14CatalogPaths.computeIfAbsent(dir, { _ =>
      import graft.ops.SketchCatalog
      val hotPath = scratch(dir, "q14_hot_customer")
      spark.read.parquet(s"$dir/customer.parquet")
        .where(col("c_nationkey") < 3)
        .write.mode("overwrite").parquet(hotPath)
      val cat = SketchCatalog.harvest(spark, s"$dir/orders.parquet", Seq("o_custkey"))
        .unionByName(SketchCatalog.harvest(spark, hotPath, Seq("c_custkey")))
      val catPath = scratch(dir, "q14_catalog")
      SketchCatalog.save(cat, catPath)
      (hotPath, catPath)
    })

  /** Q14: sketch-driven RUNTIME FILTER — pass 3 of
    * [[graft.plans.SketchJoinPlanning]] closing the loop on the stored
    * HLL key sketches: a shuffle join of orders against a hot-customer
    * dim whose key set covers ~11% of the probe's custkeys (both
    * broadcast paths disabled — Catalyst's by threshold −1, the rule's
    * pass 2 by `broadcastBytes 0` — pinning the large-large shuffle
    * scenario the operator exists for). With no catalog the plan must be
    * a bare sort-merge join; with the catalog active the rule must
    * inject exactly one Bloom probe-side Filter (scalar-subquery build
    * over the dim keys, [[graft.functions.BloomContains]] above the
    * ORDERS scan — shuffle now carries candidates, not the table). Both
    * facts ride the hash gate as pinned booleans; the revenue aggregate
    * is the plain-join twin (a filter defect — e.g. a false negative
    * from cross-class hashing — breaks the hash, not just the plan).
    */
  private def q14RuntimeFilter(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.SketchCatalog
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val (hotPath, catPath) = q14Catalog(spark, dir)
    def chain(): DataFrame = spark.read.parquet(s"$dir/orders.parquet")
      .join(spark.read.parquet(hotPath),
        col("o_custkey") === col("c_custkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        decSum(col("o_totalprice"), 18, 2).as("hot_revenue"))
    def bloomFilters(df: DataFrame): Seq[FilterExec] =
      executedRoot(df).collect {
        case f: FilterExec
            if f.condition.exists(_.isInstanceOf[graft.functions.BloomContains]) => f
      }
    def smj(df: DataFrame): Boolean =
      physicalJoins(df).exists(_.isInstanceOf[SortMergeJoinExec])
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevBb = spark.conf.getOption(SketchCatalog.BroadcastBytesKey)
    val (naiveBare, artifactFiltered) = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(SketchCatalog.BroadcastBytesKey, "0")
      SketchCatalog.deactivate(spark)
      val naive = chain()
      val naiveOk = smj(naive) && bloomFilters(naive).isEmpty
      SketchCatalog.activate(spark, catPath)
      val planned = chain()
      val fs = bloomFilters(planned)
      val overProbe = fs.flatMap(_.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.rootPaths.head.toString
      })
      (naiveOk,
        smj(planned) && fs.size == 1 && overProbe.exists(_.contains("orders")))
    } finally {
      SketchCatalog.deactivate(spark)
      prevBb match { // restore, never blindly unset a user's setting
        case Some(v) => spark.conf.set(SketchCatalog.BroadcastBytesKey, v)
        case None    => spark.conf.unset(SketchCatalog.BroadcastBytesKey)
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    }
    chain()
      .select(col("o_orderpriority"), col("n_orders"), col("hot_revenue"),
        lit(naiveBare).as("naive_bare_shuffle"),
        lit(artifactFiltered).as("artifact_bloom_filtered"))
      .orderBy("o_orderpriority")
  }

  /** Q19: greedy reorder past an UNCATALOGUED table — the generalized
    * pass 1 ([[graft.plans.SketchJoinPlanning]].estimablePrefix): the
    * q15 chain extended with a fifth table, region, that the catalog has
    * never seen. The written order is still worst-first; the rule must
    * reorder the four-table estimable PREFIX exactly as q15 pins
    * (cheapest pair at the bottom, fact attached last within the
    * prefix) while the region join keeps its written position on top —
    * one unknown table no longer disables the whole chain. All three
    * structural facts ride the hash gate as pinned booleans; the revenue
    * aggregate is the plain-join twin.
    */
  private def q19PlannedMixedChain(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.SketchCatalog
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    def chain(): DataFrame = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .join(spark.read.parquet(s"$dir/customer.parquet"),
        col("o_custkey") === col("c_custkey"))
      .join(spark.read.parquet(s"$dir/nation.parquet"),
        col("c_nationkey") === col("n_nationkey"))
      .join(spark.read.parquet(s"$dir/region.parquet"),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_items"),
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 18, 4)
          .as("revenue"))
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val (naiveAllMerge, prefixReordered, regionOnTop) = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      SketchCatalog.deactivate(spark)
      val naive = physicalJoins(chain())
      SketchCatalog.activate(spark, q15Catalog(spark, dir)) // region ABSENT
      val planned = physicalJoins(chain())
      val bottom = planned.lastOption.toSeq.flatMap(planScans)
      // pre-order: the FIRST join is the topmost — region must sit there,
      // in its written position, while the prefix below reordered
      val top = planned.headOption.toSeq.flatMap(planScans)
      (naive.size == 4 && naive.forall(_.isInstanceOf[SortMergeJoinExec]),
        bottom.nonEmpty && bottom.forall(s =>
          s.contains("customer") || s.contains("nation")),
        planned.size == 4 && top.exists(_.contains("region")))
    } finally {
      SketchCatalog.deactivate(spark)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    }
    chain()
      .select(col("r_name"), col("n_name"), col("n_items"), col("revenue"),
        lit(naiveAllMerge).as("naive_all_merge"),
        lit(prefixReordered).as("artifact_prefix_reordered"),
        lit(regionOnTop).as("uncatalogued_kept_on_top"))
      .orderBy("r_name", "n_name")
  }

  /** Filter dims + catalog for [[q20PlannedSemi]], built once per JVM
    * per sf dir: three customer-key subsets with distinct retained
    * fractions — hot (nations 0–2, ~12%), wide (19 of 20 keys, ~95%),
    * and the anti-filter set (every 7th key, anti retains ~86%).
    */
  private val q20Paths = new java.util.concurrent.ConcurrentHashMap[String, (String, String, String, String)]()
  private def q20Fixture(spark: SparkSession, dir: String): (String, String, String, String) =
    q20Paths.computeIfAbsent(dir, { _ =>
      import graft.ops.SketchCatalog
      val cust = t(spark, dir, "customer")
      val hotPath = scratch(dir, "q20_dim_hot")
      cust.where(col("c_nationkey") < 3).select(col("c_custkey").as("hk"))
        .coalesce(1).write.mode("overwrite").parquet(hotPath)
      val widePath = scratch(dir, "q20_dim_wide")
      cust.where(col("c_custkey") % 20 =!= 0).select(col("c_custkey").as("wk"))
        .coalesce(1).write.mode("overwrite").parquet(widePath)
      val antiPath = scratch(dir, "q20_dim_anti")
      cust.where(col("c_custkey") % 7 === 0).select(col("c_custkey").as("ak"))
        .coalesce(1).write.mode("overwrite").parquet(antiPath)
      val cat = SketchCatalog.harvest(spark, s"$dir/orders.parquet", Seq("o_custkey"))
        .unionByName(SketchCatalog.harvest(spark, hotPath, Seq("hk")))
        .unionByName(SketchCatalog.harvest(spark, widePath, Seq("wk")))
        .unionByName(SketchCatalog.harvest(spark, antiPath, Seq("ak")))
      val catPath = scratch(dir, "q20_catalog")
      SketchCatalog.save(cat, catPath)
      (hotPath, widePath, antiPath, catPath)
    })

  /** Q20: semi/anti stack REORDER by the stored HLL key-overlap
    * selectivity (pass 1b — the X6jk statistic finally picking a plan):
    * orders filtered by three commuting semi/anti equi-filters written
    * WORST-first (the ~95% semi, then the ~86% anti, then the ~12%
    * semi). With no catalog the executed stack must keep the written
    * order (wide dim at the bottom); with it the rule must sink the
    * most selective filter (the hot dim) to the bottom, so every later
    * filter scans an eighth of the rows. Both structural facts ride the
    * hash gate as pinned booleans; the aggregate is the plain twin
    * (semi/anti filters on one base commute EXACTLY, so reordering is
    * invisible to results — EXISTS/NOT EXISTS replay in the oracle).
    */
  private def q20PlannedSemi(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.SketchCatalog
    val (hotPath, widePath, antiPath, catPath) = q20Fixture(spark, dir)
    def chain(): DataFrame = spark.read.parquet(s"$dir/orders.parquet")
      .join(spark.read.parquet(widePath),
        col("o_custkey") === col("wk"), "left_semi")
      .join(spark.read.parquet(antiPath),
        col("o_custkey") === col("ak"), "left_anti")
      .join(spark.read.parquet(hotPath),
        col("o_custkey") === col("hk"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        decSum(col("o_totalprice"), 18, 2).as("revenue"))
      .orderBy("o_orderpriority")
    def bottomScan(df: DataFrame): Seq[String] = {
      val js = physicalJoins(df)
      js.lastOption.toSeq.flatMap(planScans)
    }
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val (naiveWritten, artifactSelectiveFirst) = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      SketchCatalog.deactivate(spark)
      val naive = bottomScan(chain())
      SketchCatalog.activate(spark, catPath)
      val planned = bottomScan(chain())
      (naive.exists(_.contains("q20_dim_wide")),
        planned.exists(_.contains("q20_dim_hot")))
    } finally {
      SketchCatalog.deactivate(spark)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    }
    chain()
      .select(col("o_orderpriority"), col("n_orders"), col("revenue"),
        lit(naiveWritten).as("naive_written_order"),
        lit(artifactSelectiveFirst).as("artifact_selective_first"))
      .orderBy("o_orderpriority")
  }

  /** Skewed fact + dim + planning catalog for [[q18PlannedSkew]], built
    * once per JVM per sf dir: every third event collapses onto key 7
    * (~33% of fact rows — far past the pass's 20% threshold), the rest
    * spread over user-derived keys; the dim is the distinct key set, so
    * the join is lossless and the oracle can replay it.
    */
  private val q18Paths = new java.util.concurrent.ConcurrentHashMap[String, (String, String, String)]()
  private def q18Fixture(spark: SparkSession, dir: String): (String, String, String) =
    q18Paths.computeIfAbsent(dir, { _ =>
      import graft.ops.SketchCatalog
      val ev = t(spark, dir, "events")
      val fact = ev.select(
        when(col("event_id") % 3 === 0, 7L)
          .otherwise(col("user_id") + 1000L).as("key"),
        col("value").as("val"), col("event_id"))
      val factPath = scratch(dir, "q18_fact")
      fact.write.mode("overwrite").parquet(factPath)
      val dimPath = scratch(dir, "q18_dim")
      spark.read.parquet(factPath).select(col("key")).distinct()
        .select(col("key").as("m_key"), (col("key") % 5).as("grp"))
        .coalesce(1).write.mode("overwrite").parquet(dimPath)
      val cat = SketchCatalog.harvest(spark, factPath, Seq("key"))
        .unionByName(SketchCatalog.harvest(spark, dimPath, Seq("m_key")))
      val catPath = scratch(dir, "q18_catalog")
      SketchCatalog.save(cat, catPath)
      (factPath, dimPath, catPath)
    })

  /** Q18: artifact-driven SKEW mitigation — pass 4 of
    * [[graft.plans.SketchJoinPlanning]] closing the loop on the stored
    * Misra–Gries heavy-key candidates (re-priced by the stored CMS,
    * never understated): an un-hinted shuffle join of a fact whose top
    * key holds ~33% of its rows (both broadcast paths disabled, the q14
    * pinning) must rewrite to the salted form — a Generate replicating
    * the dim across salt buckets, the join keyed on (key, salt) — while
    * the plain control without a catalog stays a bare sort-merge join.
    * Both plan facts ride the hash gate as pinned booleans probed from
    * EXECUTED plans, plus `salted_equals_plain`: the salted run's rows
    * collected DURING activation and compared to the plain join's (the
    * salted plan is result-identical BY CONTRACT — a dropped salt
    * bucket, replica duplication, or wrong key composition breaks this
    * boolean and the hash). The aggregate travels verbatim; the twin
    * replays fact/dim derivation from raw events.
    */
  private def q18PlannedSkew(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.SketchCatalog
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val (factPath, dimPath, catPath) = q18Fixture(spark, dir)
    def chain(): DataFrame = spark.read.parquet(factPath)
      .join(spark.read.parquet(dimPath), col("key") === col("m_key"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_rows"),
        decSum(round(col("val"), 6), 18, 6).as("sum_val"))
      .orderBy("grp")
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevBb = spark.conf.getOption(SketchCatalog.BroadcastBytesKey)
    val (naiveBare, artifactSalted, saltedEqualsPlain) = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(SketchCatalog.BroadcastBytesKey, "0")
      SketchCatalog.deactivate(spark)
      val naive = chain()
      val naiveOk = physicalJoins(naive).exists(_.isInstanceOf[SortMergeJoinExec]) &&
        generateCount(naive) == 0
      val plainRows = naive.collect().map(_.toString).sorted.toSeq
      SketchCatalog.activate(spark, catPath)
      val planned = chain()
      val saltedOk = generateCount(planned) == 1 && physicalJoins(planned).nonEmpty
      val same = planned.collect().map(_.toString).sorted.toSeq == plainRows
      (naiveOk, saltedOk, same)
    } finally {
      SketchCatalog.deactivate(spark)
      prevBb match { // restore, never blindly unset a user's setting
        case Some(v) => spark.conf.set(SketchCatalog.BroadcastBytesKey, v)
        case None    => spark.conf.unset(SketchCatalog.BroadcastBytesKey)
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    }
    chain()
      .select(col("grp"), col("n_rows"), col("sum_val"),
        lit(naiveBare).as("naive_bare_merge"),
        lit(artifactSalted).as("artifact_salted"),
        lit(saltedEqualsPlain).as("salted_equals_plain"))
      .orderBy("grp")
  }

  /** Scratch table for [[q17PlannedScan]]: events z-clustered on
    * (user_id, ts_ms), written once per JVM per sf dir (the q13Catalog
    * discipline).
    */
  private val q17TablePaths = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def q17Table(spark: SparkSession, dir: String): String =
    q17TablePaths.computeIfAbsent(dir, { _ =>
      val ev = t(spark, dir, "events")
      val et = evTime(ev)
      val path = scratch(dir, "q17_scan_table")
      graft.ops.Layout.zorderWrite(
        ev.select(col("event_id"), col("user_id"), et.ms.as("ts_ms"),
          col("value")),
        "user_id", "ts_ms", path, numFiles = 32)
      path
    })

  /** Q17: PLANNED scan pruning — the scan side of the artifact-driven
    * planner loop closed ([[graft.plans.ScanPruneRewrite]] consuming an
    * activated [[graft.ops.ScanPrune]] manifest): a PLAIN
    * `spark.read.parquet(t).where(box)` — no hand-invoked prunedRead at
    * the call site — must open only candidate files once the table's
    * stats manifest is activated. The naive control (no activation) must
    * execute with the ordinary full FileIndex; the activated run's
    * executed plan must carry the pruned location opening strictly fewer
    * files. Both facts ride the hash gate as pinned booleans, probed
    * from EXECUTED plans (the q14 discipline). The box aggregates are
    * collected WHILE the manifest is active — the hashed values are the
    * pruned read's own output — and the twin replays the box over raw
    * events: file pruning must be invisible to results.
    */
  private def q17PlannedScan(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.{DataSkipping, ScanPrune}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val path = q17Table(spark, dir)
    val ev = t(spark, dir, "events")
    val et = evTime(ev)
    val base = ev.select(col("event_id"), col("user_id"), et.ms.as("ts_ms"),
      col("value"))
    val bb = base.agg(min("user_id"), max("user_id")).head()
    val (umin, umax) = (bb.getLong(0), bb.getLong(1))
    val (ulo, uhi) = (umin + (umax - umin) / 4, umin + (umax - umin) / 2)
    val (tlo, thi) = (Jan15, Jan20 - 1)
    val box = col("user_id").between(ulo, uhi) && col("ts_ms").between(tlo, thi)
    def boxRead(): DataFrame = spark.read.parquet(path).where(box)
    ScanPrune.deactivate(spark, path)
    val naiveFull = scanPruneProbe(boxRead()).isEmpty
    ScanPrune.activateManifest(spark, path,
      DataSkipping.statsManifest(spark, path, Seq("user_id", "ts_ms")))
    val (filesPruned, prunedRow) = try {
      val probe = scanPruneProbe(boxRead())
      (probe.exists { case (k, total) => k > 0 && k < total },
        skipSummary(boxRead(), "").head())
    } finally ScanPrune.deactivate(spark, path)
    val fullRow = skipSummary(base.where(box), "").head()
    spark.range(1).select(
      lit(prunedRow.getLong(0)).as("n_rows"),
      lit(prunedRow.getLong(1)).as("sum_ids"),
      lit(prunedRow.getDecimal(2)).cast("double").as("sum_value"),
      lit(prunedRow == fullRow).as("pruned_equals_full"),
      lit(naiveFull).as("naive_full_scan"),
      lit(filesPruned).as("artifact_files_pruned"))
  }

  /** Per-file Bloom index over q17's z-ordered scratch table for
    * [[q21PlannedPoint]], built once per JVM per sf dir (one
    * column-pruned scan — the write-time cost class).
    */
  private val q21IndexPaths = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def q21Index(spark: SparkSession, dir: String, tablePath: String): String =
    q21IndexPaths.computeIfAbsent(dir, { _ =>
      import graft.ops.DataSkipping
      val n = spark.read.parquet(tablePath).count()
      val idxPath = scratch(dir, "q21_bloom_index")
      DataSkipping.bloomIndex(spark, tablePath, "event_id",
          expectedItemsPerFile = math.max(1000L, n / 16), fpp = 0.01)
        .write.mode("overwrite").parquet(idxPath)
      idxPath
    })

  /** Q21: planner-side BLOOM point lookup — the EQUALITY modality of
    * [[graft.plans.ScanPruneRewrite]] ([[graft.ops.ScanPrune.activateBloomIndex]]):
    * the z-order on (user_id, ts_ms) scatters event_id, so every file's
    * event_id range is near-full-width and the activated min/max
    * manifest must prune NOTHING for a point predicate on it (the
    * manifest-blind control, probed from the executed plan) — while the
    * activated per-file Bloom index must cut the same plain
    * `.where(event_id = k)` read to the filter-positive files (false
    * positives only — the key's own file always survives). The point
    * row's aggregates are collected DURING activation; the twin replays
    * the key derivation (exact integer midpoint seek) over raw events.
    */
  private def q21PlannedPoint(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.{DataSkipping, ScanPrune}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val path = q17Table(spark, dir)
    val idxPath = q21Index(spark, dir, path)
    val ev = t(spark, dir, "events")
    val et = evTime(ev)
    val base = ev.select(col("event_id"), col("user_id"), et.ms.as("ts_ms"),
      col("value"))
    // deterministic existing key: the smallest event_id at or above the
    // integer midpoint of the id domain (engine-replayable)
    val bb = base.agg(min("event_id"), max("event_id")).head()
    val mid = bb.getLong(0) + (bb.getLong(1) - bb.getLong(0)) / 2
    val k = base.where(col("event_id") >= mid).agg(min("event_id")).head().getLong(0)
    def pointRead(): DataFrame = spark.read.parquet(path)
      .where(col("event_id") === k)
    ScanPrune.deactivate(spark, path)
    ScanPrune.activateManifest(spark, path,
      DataSkipping.statsManifest(spark, path, Seq("user_id", "ts_ms")))
    val (manifestBlind, bloomPruned, prunedRow) = try {
      // manifest carries no event_id stats: the point predicate must not
      // rewrite the scan at all
      val blind = scanPruneProbe(pointRead()).isEmpty
      ScanPrune.activateBloomIndex(spark, path, "event_id",
        spark.read.parquet(idxPath))
      val probe = scanPruneProbe(pointRead())
      (blind,
        probe.exists { case (kept, total) => kept > 0 && kept < total },
        skipSummary(pointRead(), "").head())
    } finally ScanPrune.deactivate(spark, path)
    val fullRow = skipSummary(base.where(col("event_id") === k), "").head()
    spark.range(1).select(
      lit(prunedRow.getLong(0)).as("n_rows"),
      lit(prunedRow.getLong(1)).as("sum_ids"),
      lit(prunedRow.getDecimal(2)).cast("double").as("sum_value"),
      lit(prunedRow == fullRow).as("pruned_equals_full"),
      lit(manifestBlind).as("manifest_blind"),
      lit(bloomPruned).as("bloom_pruned"))
  }

  /** Q22: scan pruning composing with Spark's OWN planner — the payoff
    * of [[graft.plans.PrunedFileIndex]] reporting the KEPT files' real
    * bytes as `sizeInBytes`: a box-filtered side of a self-join that is
    * 100%-of-table bytes to Catalyst's size estimator (default stats do
    * not shrink through Filters) becomes few-files bytes once the
    * manifest prunes its listing, and Catalyst's native size-based
    * broadcast — no graft planner rule, no SketchCatalog — flips the
    * join. The threshold is pinned scale-relative (half the table's
    * on-disk bytes), so the naive control is always sort-merge and the
    * pruned side always under it. Probes from EXECUTED plans; the box
    * aggregates are collected DURING activation; the twin replays the
    * self-join over raw events.
    */
  private def q22PrunedBroadcast(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.{DataSkipping, ScanPrune}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val path = q17Table(spark, dir)
    val ev = t(spark, dir, "events")
    val et = evTime(ev)
    val base = ev.select(col("event_id"), col("user_id"), et.ms.as("ts_ms"),
      col("value"))
    val bb = base.agg(min("user_id"), max("user_id")).head()
    val (umin, umax) = (bb.getLong(0), bb.getLong(1))
    val (ulo, uhi) = (umin + (umax - umin) / 4, umin + (umax - umin) / 2)
    val (tlo, thi) = (Jan15, Jan20 - 1)
    def boxJoin(): DataFrame = {
      val box = spark.read.parquet(path)
        .where(col("user_id").between(ulo, uhi) && col("ts_ms").between(tlo, thi))
        .select(col("user_id").as("b_user"), col("event_id").as("b_id"))
      spark.read.parquet(path)
        .join(box, col("user_id") === col("b_user"))
        .agg(count(lit(1)).as("n_pairs"),
          coalesce(sum(col("b_id")), lit(0L)).as("sum_box_ids"),
          coalesce(sum(round(col("value"), 6).cast(DecimalType(18, 6))),
            lit(0).cast(DecimalType(18, 6))).cast("double").as("sum_value"))
    }
    val tableBytes = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      fs.listStatus(p).filter(_.isFile).map(_.getLen).sum
    }
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqeThr = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    ScanPrune.deactivate(spark, path)
    val (naiveMerge, prunedBroadcast, row) = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        math.max(1L, tableBytes / 2).toString)
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold",
        math.max(1L, tableBytes / 2).toString)
      val naive = physicalJoins(boxJoin())
      ScanPrune.activateManifest(spark, path,
        DataSkipping.statsManifest(spark, path, Seq("user_id", "ts_ms")))
      val planned = physicalJoins(boxJoin())
      (naive.nonEmpty && naive.forall(_.isInstanceOf[SortMergeJoinExec]),
        planned.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        boxJoin().head())
    } finally {
      ScanPrune.deactivate(spark, path)
      prevAqeThr match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None    => spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    }
    spark.range(1).select(
      lit(row.getLong(0)).as("n_pairs"),
      lit(row.getLong(1)).as("sum_box_ids"),
      lit(row.getDouble(2)).as("sum_value"),
      lit(naiveMerge).as("naive_sort_merge"),
      lit(prunedBroadcast).as("pruned_native_broadcast"))
  }

  /** Selective-dim fixture for [[q23DynamicPrune]], built once per JVM
    * per sf dir: the distinct user_ids of the BOTTOM eighth of the user
    * domain (engine-replayable derivation) plus a planning-catalog
    * harvest of the dim's key — the build-side artifact the dynamic
    * prune gates on.
    */
  private val q23Paths = new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private def q23Fixture(spark: SparkSession, dir: String): (String, String) =
    q23Paths.computeIfAbsent(dir, { _ =>
      import graft.ops.SketchCatalog
      val ev = t(spark, dir, "events")
      val et = evTime(ev)
      val base = ev.select(col("user_id"))
      val bb = base.agg(min("user_id"), max("user_id")).head()
      val cut = bb.getLong(0) + (bb.getLong(1) - bb.getLong(0)) / 8
      val dimPath = scratch(dir, "q23_dim")
      base.where(col("user_id") <= cut).distinct()
        .select(col("user_id").as("m_user"))
        .coalesce(1).write.mode("overwrite").parquet(dimPath)
      val catPath = scratch(dir, "q23_catalog")
      SketchCatalog.save(
        SketchCatalog.harvest(spark, dimPath, Seq("m_user")), catPath)
      (dimPath, catPath)
    })

  /** Q23: DYNAMIC file pruning — the composition gate for
    * [[graft.plans.DynamicFilePruning]]: a selective dim joined to the
    * z-ordered fact must prune the fact's FILE LISTING from the dim's
    * actual keys (collected once at plan time, bounded by the catalogued
    * distinct estimate) against the activated stats manifest — the scan
    * work Spark's own runtime filter leaves on the table, because a
    * Bloom filter drops probe ROWS only after every file has already
    * become a task. The naive control (nothing activated) must execute
    * with the ordinary full FileIndex; the activated run's executed plan
    * must carry a [[graft.plans.PrunedFileIndex]] opening strictly fewer
    * files (the q17 executed-plan probe discipline). The join aggregates
    * are collected WHILE the artifacts are active — the hashed values
    * are the dynamically-pruned read's own output — and the twin replays
    * the bottom-eighth user box over raw events (each fact row matches
    * exactly one distinct-user dim row): listing surgery must be
    * invisible to results.
    */
  private def q23DynamicPrune(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.{DataSkipping, ScanPrune, SketchCatalog}
    val path = q17Table(spark, dir)
    val (dimPath, catPath) = q23Fixture(spark, dir)
    def joined(): DataFrame = spark.read.parquet(path)
      .join(spark.read.parquet(dimPath), col("user_id") === col("m_user"))
    ScanPrune.deactivate(spark, path)
    SketchCatalog.deactivate(spark)
    val naiveFull = scanPruneProbe(joined()).isEmpty
    ScanPrune.activateManifest(spark, path,
      DataSkipping.statsManifest(spark, path, Seq("user_id", "ts_ms")))
    SketchCatalog.activate(spark, catPath)
    val (filesPruned, prunedRow) = try {
      val probe = scanPruneProbe(joined())
      (probe.exists { case (k, total) => k > 0 && k < total },
        skipSummary(joined(), "").head())
    } finally {
      ScanPrune.deactivate(spark, path)
      SketchCatalog.deactivate(spark)
    }
    val fullRow = skipSummary(joined(), "").head()
    spark.range(1).select(
      lit(prunedRow.getLong(0)).as("n_rows"),
      lit(prunedRow.getLong(1)).as("sum_ids"),
      lit(prunedRow.getDecimal(2)).cast("double").as("sum_value"),
      lit(prunedRow == fullRow).as("pruned_equals_full"),
      lit(naiveFull).as("naive_full_scan"),
      lit(filesPruned).as("dynamic_files_pruned"))
  }

  /** Star-schema fixture for [[q24PlannedStar]], built once per JVM per
    * sf dir: three dims of wildly different join selectivity over the
    * SAME fact key (events.user_id) — hot: every distinct user ×4
    * (est 4·|fact|), med: users with even ids (est |fact|/2), sel: users
    * divisible by 16 (est |fact|/16) — plus a planning catalog over all
    * four key columns.
    */
  private val q24Paths = new java.util.concurrent.ConcurrentHashMap[String, (String, String, String, String)]()
  private def q24Fixture(spark: SparkSession, dir: String): (String, String, String, String) =
    q24Paths.computeIfAbsent(dir, { _ =>
      import graft.ops.SketchCatalog
      val users = t(spark, dir, "events").select(col("user_id")).distinct()
      val hotPath = scratch(dir, "q24_hot")
      users.crossJoin(spark.range(1L, 5L).select(col("id").as("h_w")))
        .select(col("user_id").as("h_key"), col("h_w"))
        .write.mode("overwrite").parquet(hotPath)
      val medPath = scratch(dir, "q24_med")
      users.where(col("user_id") % 2 === 0)
        .select(col("user_id").as("m_key"))
        .write.mode("overwrite").parquet(medPath)
      val selPath = scratch(dir, "q24_sel")
      users.where(col("user_id") % 16 === 0)
        .select(col("user_id").as("s_key"),
          expr("(user_id div 16) % 4").as("s_grp"))
        .write.mode("overwrite").parquet(selPath)
      val cat = SketchCatalog.harvest(spark, s"$dir/events.parquet", Seq("user_id"))
        .unionByName(SketchCatalog.harvest(spark, hotPath, Seq("h_key")))
        .unionByName(SketchCatalog.harvest(spark, medPath, Seq("m_key")))
        .unionByName(SketchCatalog.harvest(spark, selPath, Seq("s_key")))
      val catPath = scratch(dir, "q24_catalog")
      SketchCatalog.save(cat, catPath)
      (hotPath, medPath, selPath, catPath)
    })

  /** Q24: STAR-schema reorder — pass 1 on the fact ⋈ {dim_i} shape: all
    * three edges hang off the SAME fact key, so the dims commute freely
    * and the only question is attach order. Written worst-first
    * (hot ×4 fan-out, then med 1/2, then sel 1/16); with the catalog
    * active the greedy Selinger pass must rebuild the star
    * most-selective-first — sel at the bottom against the fact, hot
    * attached last — because each dim's CMS edge estimate prices its
    * fan-out (4·|F| vs |F|/16) where file sizes see three similar dims.
    * Both structural facts (naive control keeps written order; activated
    * bottom join touches sel and not hot/med, hot on top) are probed from
    * forced physical plans and ride the hash gate as pinned booleans;
    * the aggregate is the plain-join twin (reordering must be invisible
    * to results).
    */
  private def q24PlannedStar(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.SketchCatalog
    val (hotPath, medPath, selPath, catPath) = q24Fixture(spark, dir)
    def star(): DataFrame = {
      val f = spark.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("value"))
      f.join(spark.read.parquet(hotPath), col("user_id") === col("h_key"))
        .join(spark.read.parquet(medPath), col("user_id") === col("m_key"))
        .join(spark.read.parquet(selPath), col("user_id") === col("s_key"))
        .groupBy("s_grp")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("h_w")).as("sum_w"),
          decSum(round(col("value"), 6), 18, 6).as("sum_value"))
    }
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevBb = spark.conf.getOption(SketchCatalog.BroadcastBytesKey)
    val (naiveWritten, selectiveFirst) = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(SketchCatalog.BroadcastBytesKey, "0")
      SketchCatalog.deactivate(spark)
      val naive = physicalJoins(star())
      SketchCatalog.activate(spark, catPath)
      val planned = physicalJoins(star())
      val bottom = planned.lastOption.toSeq.flatMap(planScans)
      val mid = if (planned.size == 3) planScans(planned(1)) else Nil
      (naive.size == 3 &&
        naive.lastOption.toSeq.flatMap(planScans).exists(_.contains("q24_hot")),
        planned.size == 3 &&
          bottom.exists(_.contains("q24_sel")) &&
          !bottom.exists(s => s.contains("q24_hot") || s.contains("q24_med")) &&
          mid.nonEmpty && !mid.exists(_.contains("q24_hot")))
    } finally {
      SketchCatalog.deactivate(spark)
      prevBb match {
        case Some(v) => spark.conf.set(SketchCatalog.BroadcastBytesKey, v)
        case None    => spark.conf.unset(SketchCatalog.BroadcastBytesKey)
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    }
    star()
      .select(col("s_grp"), col("n_rows"), col("sum_w"), col("sum_value"),
        lit(naiveWritten).as("naive_written_order"),
        lit(selectiveFirst).as("artifact_selective_first"))
      .orderBy("s_grp")
  }

  /** Q26: LEFT-OUTER artifact broadcast — the r13 VERDICT's missing #2
    * closed: dim-enrichment LEFT joins are the most common 100 TB shape
    * after inner, and until r14 every [[graft.plans.SketchJoinPlanning]]
    * pass skipped them. The hot-customer dim (the q14 fixture) is
    * LEFT-joined onto orders; with Catalyst's own broadcast off and the
    * rule's threshold pinned relative to the catalogued orders bytes
    * (hot dim always under, orders always over — scale-free), the naive
    * run must stay sort-merge and the activated run must broadcast the
    * NON-PRESERVED side only (a preserved-side broadcast has no valid
    * physical form; the rule never hints it). The aggregate groups on
    * `coalesce(c_nationkey, -1)` so the null-extended (unmatched) rows
    * ride the hash — a LeftOuter that silently turned inner would lose
    * the −1 group and break the gate.
    */
  private def q26PlannedOuter(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.SketchCatalog
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val (hotPath, catPath) = q14Catalog(spark, dir)
    def chain(): DataFrame = spark.read.parquet(s"$dir/orders.parquet")
      .join(spark.read.parquet(hotPath).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"), "left")
      .groupBy(coalesce(col("c_nationkey"), lit(-1L)).as("nation_grp"))
      .agg(count(lit(1)).as("n_orders"),
        decSum(col("o_totalprice"), 18, 2).as("revenue"))
    val ordersBytes = spark.read.parquet(catPath)
      .where(col("key") === "o_custkey")
      .select(col("n_bytes")).head().getLong(0)
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevBb = spark.conf.getOption(SketchCatalog.BroadcastBytesKey)
    val (naiveMerge, outerBroadcast) = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(SketchCatalog.BroadcastBytesKey,
        math.max(1L, ordersBytes / 2).toString)
      SketchCatalog.deactivate(spark)
      val naive = physicalJoins(chain())
      SketchCatalog.activate(spark, catPath)
      val planned = physicalJoins(chain())
      (naive.nonEmpty && naive.forall(_.isInstanceOf[SortMergeJoinExec]),
        planned.exists(_.isInstanceOf[BroadcastHashJoinExec]))
    } finally {
      SketchCatalog.deactivate(spark)
      prevBb match {
        case Some(v) => spark.conf.set(SketchCatalog.BroadcastBytesKey, v)
        case None    => spark.conf.unset(SketchCatalog.BroadcastBytesKey)
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    }
    chain()
      .select(col("nation_grp"), col("n_orders"), col("revenue"),
        lit(naiveMerge).as("naive_outer_merge"),
        lit(outerBroadcast).as("artifact_outer_broadcast"))
      .orderBy("nation_grp")
  }

  /** Q27: ROW-GROUP grain in the PLANNER path — the r13 VERDICT's
    * missing #3 closed: [[graft.ops.ScanPrune.activateManifest]] now
    * accepts a [[graft.ops.DataSkipping.rowGroupManifest]], and the
    * rewrite drops a file when EVERY row group is excluded (the shared
    * `fileSurvives` rule, also consumed by DynamicFilePruning).
    *
    * Fixture discipline: a sorted file's straddling row group makes any
    * fixed in-gap box land inside SOME group's range (the
    * x9_skipping_rg gap-straddler lesson), so the probe box here is
    * derived from an ACTUAL group boundary of the rg manifest: class A
    * rows carry u = event_id·1000 (distinct, multiples of 1000), the box
    * is (X, X+1000) exclusive where X = the first file's first-group
    * max — provably row-free globally (every u is a multiple of 1000)
    * and provably missed by EVERY group of that file (sorted distinct
    * values ⇒ the next group's min is the next multiple, ≥ X+1000).
    * The second predicate branch covers class B (odd event_ids, written
    * above the A range), so the surviving aggregate is non-trivial and
    * the twin replays it as a plain odd-event filter — the box branch
    * matches nothing by construction. Booleans: naive full listing,
    * file grain provably no-drop (the box sits inside the chosen file's
    * folded range), rg grain strictly fewer files opened, pruned ≡ full.
    */
  private def q27PlannedRg(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.{DataSkipping, ScanPrune}
    val ev = t(spark, dir, "events").select(col("event_id"), col("user_id"), col("value"))
    val em = ev.agg(max("event_id")).head().getLong(0)
    val path = scratch(dir, "q27_rg_table")
    // class A (even event_id): u = event_id * 1000 — distinct multiples
    // of 1000, so every inter-group interval is a guaranteed empty gap
    ev.where(col("event_id") % 2 === 0)
      .select(col("event_id"), (col("event_id") * 1000L).as("u"), col("value"))
      .repartition(2, col("event_id")).sortWithinPartitions("u")
      .write.mode("overwrite")
      .option("parquet.block.size", "2048").option("parquet.page.size", "512")
      .parquet(path)
    // class B (odd event_id): strictly above the whole A range
    ev.where(col("event_id") % 2 === 1)
      .select(col("event_id"), ((lit(em + 1L) + col("event_id")) * 1000L).as("u"),
        col("value"))
      .repartition(2, col("event_id")).sortWithinPartitions("u")
      .write.mode("append")
      .option("parquet.block.size", "2048").option("parquet.page.size", "512")
      .parquet(path)
    val rg = DataSkipping.rowGroupManifest(spark, path, Seq("u")).cache()
    val multiRg = rg.groupBy("file").count()
      .agg(min("count")).head().getLong(0) >= 2L
    // X = first group's max of the lowest-starting (class A) file: its
    // groups are sorted distinct multiples of 1000, so (X, X+1000) is
    // missed by every group of THAT file and contains no row globally
    val first = rg.orderBy(col("u_min").asc, col("file").asc, col("row_group").asc)
      .select(col("file"), col("u_max")).head()
    val x = first.getLong(1)
    val (lo1, hi1) = (x + 1L, x + 999L)
    val (lo2, hi2) = ((em + 1L) * 1000L, (2L * em + 2L) * 1000L)
    def q(): DataFrame = skipSummary(
      spark.read.parquet(path).where(
        col("u").between(lo1, hi1) || col("u").between(lo2, hi2)), "")
    ScanPrune.deactivate(spark, path)
    val naiveFull = scanPruneProbe(q()).isEmpty
    val (fileNoDrop, rgFewer, prunedRow) = try {
      ScanPrune.activateManifest(spark, path,
        DataSkipping.statsManifest(spark, path, Seq("u")))
      val fileProbe = scanPruneProbe(q())
      ScanPrune.activateManifest(spark, path, rg)
      val rgProbe = scanPruneProbe(q())
      (fileProbe.isEmpty,
        rgProbe.exists { case (k, total) => k > 0 && k < total },
        q().head())
    } finally ScanPrune.deactivate(spark, path)
    rg.unpersist()
    val fullRow = q().head()
    spark.range(1).select(
      lit(prunedRow.getLong(0)).as("n_rows"),
      lit(prunedRow.getLong(1)).as("sum_ids"),
      lit(prunedRow.getDecimal(2)).cast("double").as("sum_value"),
      lit(naiveFull).as("naive_full_listing"),
      lit(fileNoDrop).as("file_grain_no_drop"),
      lit(rgFewer).as("rg_fewer_files"),
      lit(prunedRow == fullRow).as("pruned_equals_full"),
      lit(multiRg).as("multi_rg_layout"))
  }

  /** Snowflake fixture for [[q28PlannedSnowflake]], built once per JVM
    * per sf dir: a fan-out dim (every distinct user ×2) whose sub-dim
    * amplifies it ×4 (the dim-of-dim), plus a 1/16-selective flat dim —
    * so the written-worst chain (fact ⋈ snowflake first) is ~128×
    * costlier than selective-first, and only subtree-composite pricing
    * can see it (file sizes say the dims are all small).
    */
  private val q28Paths = new java.util.concurrent.ConcurrentHashMap[String, (String, String, String, String)]()
  private def q28Fixture(spark: SparkSession, dir: String): (String, String, String, String) =
    q28Paths.computeIfAbsent(dir, { _ =>
      import graft.ops.SketchCatalog
      val users = t(spark, dir, "events").select(col("user_id")).distinct()
      val dimPath = scratch(dir, "q28_dim")
      users.crossJoin(spark.range(0L, 2L).select(col("id").as("__r")))
        .select(col("user_id").as("d_key"),
          ((col("user_id") * 2 + col("__r")) % 8).as("d_sub"))
        .write.mode("overwrite").parquet(dimPath)
      val subPath = scratch(dir, "q28_sub")
      spark.range(0L, 8L).crossJoin(spark.range(0L, 4L).select(col("id").as("__w")))
        .select(col("id").as("s_sub"), (col("id") * 4 + col("__w")).as("s_weight"))
        .write.mode("overwrite").parquet(subPath)
      val selPath = scratch(dir, "q28_sel")
      users.where(col("user_id") % 16 === 0)
        .select(col("user_id").as("sel_key"),
          expr("(user_id div 16) % 4").as("sel_grp"))
        .write.mode("overwrite").parquet(selPath)
      val cat = SketchCatalog.harvest(spark, s"$dir/events.parquet", Seq("user_id"))
        .unionByName(SketchCatalog.harvest(spark, dimPath, Seq("d_key", "d_sub")))
        .unionByName(SketchCatalog.harvest(spark, subPath, Seq("s_sub")))
        .unionByName(SketchCatalog.harvest(spark, selPath, Seq("sel_key")))
      val catPath = scratch(dir, "q28_catalog")
      SketchCatalog.save(cat, catPath)
      (dimPath, subPath, selPath, catPath)
    })

  /** Q28: SNOWFLAKE reorder — the r13 VERDICT's missing #4 prototype:
    * a dim-of-dim subtree (dim ⋈ sub-dim) joined to the fact is priced
    * as a COMPOSITE edge (SketchJoinPlanning.snowSubtree — constituent
    * CMS estimate × subtree fan-out) instead of an opaque leaf that
    * disabled the whole chain's reorder. Written worst-first: the fact
    * joins the ×8-fan-out snowflake FIRST and the 1/16-selective flat
    * dim last; with the catalog active the greedy pass must rebuild
    * selective-first — the bottom join touches ONLY fact + sel (probed
    * from the forced plan: in the written order no join's subtree scans
    * are exactly {fact, sel}) while the snowflake subtree reattaches
    * INTACT above. Inner joins commute, so the aggregate is the
    * plain-join twin.
    */
  private def q28PlannedSnowflake(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.SketchCatalog
    val (dimPath, subPath, selPath, catPath) = q28Fixture(spark, dir)
    def chain(): DataFrame = {
      val dimSub = spark.read.parquet(dimPath)
        .join(spark.read.parquet(subPath), col("d_sub") === col("s_sub"))
      spark.read.parquet(s"$dir/events.parquet").select(col("user_id"), col("value"))
        .join(dimSub, col("user_id") === col("d_key"))
        .join(spark.read.parquet(selPath), col("user_id") === col("sel_key"))
        .groupBy("sel_grp")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("s_weight")).as("sum_w"),
          decSum(round(col("value"), 6), 18, 6).as("sum_value"))
    }
    def bottomFactSel(df: DataFrame): Boolean =
      physicalJoins(df).exists { j =>
        val scans = planScans(j).toSet
        scans.nonEmpty && scans.forall(s =>
          s.contains("events") || s.contains("q28_sel")) &&
          scans.exists(_.contains("events")) && scans.exists(_.contains("q28_sel"))
      }
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevBb = spark.conf.getOption(SketchCatalog.BroadcastBytesKey)
    val (naiveWritten, selectiveBottom) = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(SketchCatalog.BroadcastBytesKey, "0")
      SketchCatalog.deactivate(spark)
      val naiveOk = physicalJoins(chain()).size == 3 && !bottomFactSel(chain())
      SketchCatalog.activate(spark, catPath)
      (naiveOk, bottomFactSel(chain()))
    } finally {
      SketchCatalog.deactivate(spark)
      prevBb match {
        case Some(v) => spark.conf.set(SketchCatalog.BroadcastBytesKey, v)
        case None    => spark.conf.unset(SketchCatalog.BroadcastBytesKey)
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    }
    chain()
      .select(col("sel_grp"), col("n_rows"), col("sum_w"), col("sum_value"),
        lit(naiveWritten).as("naive_written_order"),
        lit(selectiveBottom).as("artifact_selective_bottom"))
      .orderBy("sel_grp")
  }

  /** Bushy-subtree fixture for [[q29PlannedBushy]], built once per JVM
    * per sf dir: the q28 snowflake taken one level deeper AND bushy —
    * dim ⋈ (sub ⋈ sub-sub), where the dim's join partner is ITSELF a
    * join (right-nested), so 2-table subtree pricing (the q28 form)
    * declines the leaf and only the recursive composite pricing can
    * place it. Fan-outs: dim ×2 per user, sub-sub ×2 per sub row → the
    * snowflake arm amplifies the fact ×4 while the flat sel dim keeps
    * 1/16 of it.
    */
  private val q29Paths = new java.util.concurrent.ConcurrentHashMap[String, (String, String, String, String, String)]()
  private def q29Fixture(spark: SparkSession, dir: String): (String, String, String, String, String) =
    q29Paths.computeIfAbsent(dir, { _ =>
      import graft.ops.SketchCatalog
      val users = t(spark, dir, "events").select(col("user_id")).distinct()
      val dimPath = scratch(dir, "q29_dim")
      users.crossJoin(spark.range(0L, 2L).select(col("id").as("__r")))
        .select(col("user_id").as("d_key"),
          ((col("user_id") * 2 + col("__r")) % 8).as("d_sub"))
        .write.mode("overwrite").parquet(dimPath)
      val subPath = scratch(dir, "q29_sub")
      spark.range(0L, 8L)
        .select(col("id").as("s_sub"), (col("id") % 4).as("s_cat"))
        .write.mode("overwrite").parquet(subPath)
      val subsubPath = scratch(dir, "q29_subsub")
      spark.range(0L, 4L).crossJoin(spark.range(0L, 2L).select(col("id").as("__w")))
        .select(col("id").as("c_cat"), (col("id") * 2 + col("__w")).as("c_weight"))
        .write.mode("overwrite").parquet(subsubPath)
      val selPath = scratch(dir, "q29_sel")
      users.where(col("user_id") % 16 === 0)
        .select(col("user_id").as("sel_key"),
          expr("(user_id div 16) % 4").as("sel_grp"))
        .write.mode("overwrite").parquet(selPath)
      val cat = SketchCatalog.harvest(spark, s"$dir/events.parquet", Seq("user_id"))
        .unionByName(SketchCatalog.harvest(spark, dimPath, Seq("d_key", "d_sub")))
        .unionByName(SketchCatalog.harvest(spark, subPath, Seq("s_sub", "s_cat")))
        .unionByName(SketchCatalog.harvest(spark, subsubPath, Seq("c_cat")))
        .unionByName(SketchCatalog.harvest(spark, selPath, Seq("sel_key")))
      val catPath = scratch(dir, "q29_catalog")
      SketchCatalog.save(cat, catPath)
      (dimPath, subPath, subsubPath, selPath, catPath)
    })

  /** Q29: BUSHY/deep-snowflake reorder — the recursive generalization of
    * q28 (r14): the chain leaf is dim ⋈ (sub ⋈ sub-sub), a right-NESTED
    * join the 2-table subtree pricing declined, so before the recursion
    * the whole chain kept its written-worst order even with every edge
    * catalogued. `SketchJoinPlanning.subTree` now prices the leaf by
    * composing its internal CMS estimates (each join's pair estimate ×
    * both children's fan-outs over their joining constituents, depth ≤
    * 3), and the greedy pass sinks the 1/16-selective flat dim to the
    * bottom — probed from the forced plan exactly as q28: in the
    * written order no join's subtree scans are exactly {fact, sel};
    * with the catalog active the bottom join touches ONLY fact + sel
    * while the bushy subtree reattaches INTACT above. Inner joins
    * commute, so the aggregate is the plain-join twin.
    */
  private def q29PlannedBushy(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.SketchCatalog
    val (dimPath, subPath, subsubPath, selPath, catPath) = q29Fixture(spark, dir)
    def chain(): DataFrame = {
      val bushy = spark.read.parquet(dimPath)
        .join(spark.read.parquet(subPath)
            .join(spark.read.parquet(subsubPath), col("s_cat") === col("c_cat")),
          col("d_sub") === col("s_sub"))
      spark.read.parquet(s"$dir/events.parquet").select(col("user_id"), col("value"))
        .join(bushy, col("user_id") === col("d_key"))
        .join(spark.read.parquet(selPath), col("user_id") === col("sel_key"))
        .groupBy("sel_grp")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("c_weight")).as("sum_w"),
          decSum(round(col("value"), 6), 18, 6).as("sum_value"))
    }
    def bottomFactSel(df: DataFrame): Boolean =
      physicalJoins(df).exists { j =>
        val scans = planScans(j).toSet
        scans.nonEmpty && scans.forall(s =>
          s.contains("events") || s.contains("q29_sel")) &&
          scans.exists(_.contains("events")) && scans.exists(_.contains("q29_sel"))
      }
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevBb = spark.conf.getOption(SketchCatalog.BroadcastBytesKey)
    val (naiveWritten, selectiveBottom) = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(SketchCatalog.BroadcastBytesKey, "0")
      SketchCatalog.deactivate(spark)
      val naiveOk = physicalJoins(chain()).size == 4 && !bottomFactSel(chain())
      SketchCatalog.activate(spark, catPath)
      (naiveOk, bottomFactSel(chain()))
    } finally {
      SketchCatalog.deactivate(spark)
      prevBb match {
        case Some(v) => spark.conf.set(SketchCatalog.BroadcastBytesKey, v)
        case None    => spark.conf.unset(SketchCatalog.BroadcastBytesKey)
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    }
    chain()
      .select(col("sel_grp"), col("n_rows"), col("sum_w"), col("sum_value"),
        lit(naiveWritten).as("naive_written_order"),
        lit(selectiveBottom).as("artifact_selective_bottom"))
      .orderBy("sel_grp")
  }

  /** Catalog fixture for [[q30PlannedAgg]], built once per JVM per sf
    * dir: the events table harvested on `user_id` — the one entry whose
    * HLL distinct bounds the per-user rollup's output rows.
    */
  private val q30Paths = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def q30Catalog(spark: SparkSession, dir: String): String =
    q30Paths.computeIfAbsent(dir, { _ =>
      import graft.ops.SketchCatalog
      val cat = SketchCatalog.harvest(spark, s"$dir/events.parquet", Seq("user_id"))
      val catPath = scratch(dir, "q30_catalog")
      SketchCatalog.save(cat, catPath)
      catPath
    })

  /** Q30: AGGREGATE-leaf pricing — the r14 VERDICT's missing #3 closed:
    * a grouped subquery under a join (the "pre-aggregated dim" shape
    * rollup-feeding pipelines put there) was an opaque leaf to every
    * pricing path, even though the catalog already stores the one
    * number that bounds its output — the HLL distinct of its grouping
    * keys. [[graft.plans.SketchJoinPlanning]] `estBytes` now prices
    * `Aggregate(groupingKeys, catalogued-base)` as HLL-bounded rows ×
    * (base per-row bytes + output schema width), so the per-user rollup
    * of events earns a broadcast under the fact join. This is exactly
    * where Catalyst's own size-only estimator is blind: it scales the
    * CHILD's bytes by column-width ratio, so a group-by over a big fact
    * always looks big, and the conservative-deployment posture pins
    * `autoBroadcastJoinThreshold = -1` besides. Threshold pinned
    * relative to the catalogued events bytes (half — the 150-user
    * rollup prices orders of magnitude under it at every sf, the fact
    * always over: scale-free). Booleans: the control (deactivated) run
    * is sort-merge everywhere — the no-flip pin; the activated run
    * broadcasts, and the BUILD side of the broadcast join contains the
    * hash aggregate (the rollup side, not the fact). Broadcast hints
    * are semantics-preserving, so the result replays as the plain
    * rollup-join twin.
    */
  private def q30PlannedAgg(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.SketchCatalog
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val catPath = q30Catalog(spark, dir)
    def chain(): DataFrame = {
      val per = spark.read.parquet(s"$dir/events.parquet")
        .groupBy("user_id")
        .agg(sum(round(col("value"), 6).cast(DecimalType(18, 6))).as("user_total"),
          count(lit(1)).as("user_events"))
        .withColumnRenamed("user_id", "agg_user")
      spark.read.parquet(s"$dir/events.parquet").select("user_id", "value")
        .join(per, col("user_id") === col("agg_user"))
        .groupBy((col("user_id") % 8).as("grp"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("user_events")).as("sum_events"),
          sum(col("user_total")).cast("double").as("sum_total"))
    }
    val evBytes = spark.read.parquet(catPath)
      .where(col("key") === "user_id")
      .select(col("n_bytes")).head().getLong(0)
    def aggOnBuildSide(df: DataFrame): Boolean =
      executedRoot(df).collect { case b: BroadcastHashJoinExec => b }.exists { b =>
        val build = b.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => b.left
          case _                                                 => b.right
        }
        build.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.aggregate.BaseAggregateExec])
      }
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevBb = spark.conf.getOption(SketchCatalog.BroadcastBytesKey)
    val (naiveMerge, aggBroadcast) = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(SketchCatalog.BroadcastBytesKey,
        math.max(1L, evBytes / 2).toString)
      SketchCatalog.deactivate(spark)
      val naive = physicalJoins(chain())
      SketchCatalog.activate(spark, catPath)
      (naive.nonEmpty && naive.forall(_.isInstanceOf[SortMergeJoinExec]),
        aggOnBuildSide(chain()))
    } finally {
      SketchCatalog.deactivate(spark)
      prevBb match {
        case Some(v) => spark.conf.set(SketchCatalog.BroadcastBytesKey, v)
        case None    => spark.conf.unset(SketchCatalog.BroadcastBytesKey)
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    }
    chain()
      .select(col("grp"), col("n_rows"), col("sum_events"), col("sum_total"),
        lit(naiveMerge).as("naive_merge"),
        lit(aggBroadcast).as("artifact_agg_broadcast"))
      .orderBy("grp")
  }

  /** Range-clustered fixture + artifacts for [[q31PlannedRange]], built
    * once per JVM per sf dir: events re-written range-partitioned by
    * event_id into 8 files (so a window predicate provably excludes
    * files), a stats manifest over event_id, and a catalog over both
    * join sides' user_id.
    */
  private val q31Paths = new java.util.concurrent.ConcurrentHashMap[String, (String, String, String)]()
  private def q31Fixture(spark: SparkSession, dir: String): (String, String, String) =
    q31Paths.computeIfAbsent(dir, { _ =>
      import graft.ops.{DataSkipping, SketchCatalog}
      val factPath = scratch(dir, "q31_fact")
      t(spark, dir, "events").select(col("event_id"), col("user_id"), col("value"))
        .repartitionByRange(8, col("event_id")).sortWithinPartitions("event_id")
        .write.mode("overwrite").parquet(factPath)
      val manPath = scratch(dir, "q31_manifest")
      DataSkipping.statsManifest(spark, factPath, Seq("event_id"))
        .write.mode("overwrite").parquet(manPath)
      val cat = SketchCatalog.harvest(spark, factPath, Seq("user_id"))
        .unionByName(SketchCatalog.harvest(spark, s"$dir/events.parquet", Seq("user_id")))
      val catPath = scratch(dir, "q31_catalog")
      SketchCatalog.save(cat, catPath)
      (factPath, manPath, catPath)
    })

  /** Q31: MANIFEST-refined RANGE pricing — the X9 scan artifact feeding
    * the X6 broadcast decision: a fact filtered to a narrow id/time
    * WINDOW is THE dim-sized side file bytes never reveal, and the CMS
    * point bounds ([[graft.plans.SketchJoinPlanning]] `filterRowBound`)
    * cannot price a range. With a stats manifest activated
    * ([[graft.ops.ScanPrune]]), `estBytes` now sums `n_rows` over the
    * manifested files the predicate cannot exclude — compiled with the
    * SAME `atomTest`s the scan rewrite drops files with — so the
    * lowest-eighth window of the range-clustered fixture prices at ~1/8
    * of the table and earns its broadcast. Three pinned plan facts:
    * naive (nothing active) sort-merge; CATALOG-ONLY still sort-merge —
    * the differential control proving the manifest is the enabling
    * artifact, not the catalog bytes; catalog+manifest broadcasts. The
    * window bound `lo = emin + (emax − emin)/8` is integer arithmetic
    * replayed verbatim by the twin, and hints are semantics-preserving,
    * so the aggregate replays as the plain filtered join.
    */
  private def q31PlannedRange(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.{ScanPrune, SketchCatalog}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val (factPath, manPath, catPath) = q31Fixture(spark, dir)
    val b = t(spark, dir, "events")
      .agg(min(col("event_id")).as("lo"), max(col("event_id")).as("hi")).head()
    val cut = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 8L
    def chain(): DataFrame =
      spark.read.parquet(factPath).where(col("event_id") <= cut)
        .join(spark.read.parquet(s"$dir/events.parquet")
            .select(col("user_id").as("e_user"), col("event_type")),
          col("user_id") === col("e_user"))
        .groupBy((col("user_id") % 8).as("ugrp"))
        .agg(count(lit(1)).as("n_rows"),
          decSum(round(col("value"), 6), 18, 6).as("sum_value"))
    val factBytes = spark.read.parquet(catPath)
      .where(col("table").endsWith("q31_fact") && col("key") === "user_id")
      .select("n_bytes").head().getLong(0)
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevBb = spark.conf.getOption(SketchCatalog.BroadcastBytesKey)
    val (naiveMerge, catalogOnlyMerge, manifestBroadcast) = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(SketchCatalog.BroadcastBytesKey,
        math.max(1L, factBytes / 4).toString)
      ScanPrune.deactivate(spark, factPath)
      SketchCatalog.deactivate(spark)
      val naive = physicalJoins(chain())
      SketchCatalog.activate(spark, catPath)
      val catOnly = physicalJoins(chain())
      ScanPrune.activateManifest(spark, factPath,
        spark.read.parquet(manPath))
      val planned = physicalJoins(chain())
      (naive.nonEmpty && naive.forall(_.isInstanceOf[SortMergeJoinExec]),
        catOnly.nonEmpty && catOnly.forall(_.isInstanceOf[SortMergeJoinExec]),
        planned.exists(_.isInstanceOf[BroadcastHashJoinExec]))
    } finally {
      ScanPrune.deactivate(spark, factPath)
      SketchCatalog.deactivate(spark)
      prevBb match {
        case Some(v) => spark.conf.set(SketchCatalog.BroadcastBytesKey, v)
        case None    => spark.conf.unset(SketchCatalog.BroadcastBytesKey)
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    }
    chain()
      .select(col("ugrp"), col("n_rows"), col("sum_value"),
        lit(naiveMerge).as("naive_merge"),
        lit(catalogOnlyMerge).as("catalog_only_merge"),
        lit(manifestBroadcast).as("manifest_range_broadcast"))
      .orderBy("ugrp")
  }

  /** Composite-key fixture for [[q25PlannedComposite]], built once per
    * JVM per sf dir: a fact and a dim joined on a 2-COLUMN key
    * (k1, k2) engineered so each single column is 40-ways shared
    * (single-column CMS products overcount the join ~40×) while the
    * composite tuples are near-unique — the event/fact-schema norm the
    * r13 VERDICT named (missing #1). Two catalogs over the same
    * harvests: `singles` (per-column rows only — the pre-r14 planner's
    * view) and `tuple` (plus the (k1,k2) composite rows).
    */
  private val q25Paths = new java.util.concurrent.ConcurrentHashMap[String, (String, String, String, String)]()
  private def q25Fixture(spark: SparkSession, dir: String): (String, String, String, String) =
    q25Paths.computeIfAbsent(dir, { _ =>
      import graft.ops.SketchCatalog
      val orders = spark.read.parquet(s"$dir/orders.parquet")
      val factPath = scratch(dir, "q25_fact")
      orders.select((col("o_custkey") % 40).as("k1"),
          (col("o_orderkey") % 40).as("k2"),
          col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(factPath)
      val dimPath = scratch(dir, "q25_dim")
      orders.where(col("o_orderkey") % 173 === 0)
        .select((col("o_custkey") % 40).as("k1"),
          (col("o_orderkey") % 40).as("k2"))
        .distinct()
        .select(col("k1"), col("k2"), ((col("k1") * 40 + col("k2")) % 5).as("grp"))
        .write.mode("overwrite").parquet(dimPath)
      def harvestBoth(tuples: Seq[Seq[String]]) =
        SketchCatalog.harvest(spark, factPath, Seq("k1", "k2", "o_orderkey"),
            tuples = tuples)
          .unionByName(SketchCatalog.harvest(spark, dimPath, Seq("k1", "k2"),
            tuples = tuples))
          .unionByName(SketchCatalog.harvest(spark, s"$dir/lineitem.parquet",
            Seq("l_orderkey")))
      val singlesPath = scratch(dir, "q25_catalog_singles")
      SketchCatalog.save(harvestBoth(Nil), singlesPath)
      val tuplePath = scratch(dir, "q25_catalog_tuple")
      SketchCatalog.save(harvestBoth(Seq(Seq("k1", "k2"))), tuplePath)
      (factPath, dimPath, singlesPath, tuplePath)
    })

  /** Q25: COMPOSITE-KEY join pricing — the tuple-artifact leg of
    * [[graft.plans.SketchJoinPlanning]] ([[graft.ops.SketchCatalog]]
    * `tuples` harvests): the intermediate (fact ⋈ dim ON k1 AND k2) is
    * the candidate broadcast side of an outer lineitem join, and the
    * broadcast byte threshold is pinned at the GEOMETRIC MEAN of the
    * single-column and tuple byte estimates (computed from the stored
    * artifacts themselves, so the pin is scale-free). Three runs:
    * naive (no catalog, Catalyst broadcast off) — all sort-merge;
    * singles catalog — the min-over-pairs single-column estimate still
    * overprices the composite join ~40× (each column is 40-ways
    * shared), sits ABOVE the threshold, top join stays sort-merge: the
    * pre-r14 planner provably misses this broadcast; tuple catalog —
    * the composite artifact prices the actual key, lands BELOW, and
    * the intermediate broadcasts. A fourth boolean pins the ≥10×
    * overpricing directly from the CMS inner products. The aggregate
    * is the plain-join twin (planning must be invisible to results).
    */
  private def q25PlannedComposite(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.SketchCatalog
    import graft.functions.CmsCodec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val (factPath, dimPath, singlesPath, tuplePath) = q25Fixture(spark, dir)
    def chain(): DataFrame = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(factPath)
          .join(spark.read.parquet(dimPath), Seq("k1", "k2")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_items"),
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 18, 4)
          .as("revenue"))
    // estimates recomputed from the stored artifacts (the same
    // CmsCodec.innerProduct the rule runs), so the threshold pin and
    // the overpricing boolean are exactly what the planner sees
    val cat = spark.read.parquet(tuplePath).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getAs[Array[Byte]](5))).toMap
    val factTable = SketchCatalog.normalizePath(spark, factPath)
    val dimTable = SketchCatalog.normalizePath(spark, dimPath)
    def inner(key: String): Long = CmsCodec.innerProduct(
      CmsCodec.parse(cat((factTable, key))._3),
      CmsCodec.parse(cat((dimTable, key))._3))
    val tupleEst = inner("k1,k2")
    val singleEst = math.min(inner("k1"), inner("k2"))
    val perRow = {
      val (fr, fb, _) = cat((factTable, "k1")); val (dr, db, _) = cat((dimTable, "k1"))
      math.max(1L, fb / math.max(1L, fr)) + math.max(1L, db / math.max(1L, dr))
    }
    val thr = math.max(1L,
      (math.sqrt(tupleEst.toDouble * singleEst.toDouble) * perRow).toLong)
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevBb = spark.conf.getOption(SketchCatalog.BroadcastBytesKey)
    val (naiveAllMerge, singlesNoFlip, tupleBroadcast) = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(SketchCatalog.BroadcastBytesKey, thr.toString)
      SketchCatalog.deactivate(spark)
      val naive = physicalJoins(chain())
      SketchCatalog.activate(spark, singlesPath)
      val singles = physicalJoins(chain())
      SketchCatalog.activate(spark, tuplePath)
      val tuple = physicalJoins(chain())
      // head = the TOP (lineitem ⋈ intermediate) join in pre-order
      (naive.nonEmpty && naive.forall(_.isInstanceOf[SortMergeJoinExec]),
        singles.headOption.exists(_.isInstanceOf[SortMergeJoinExec]),
        tuple.headOption.exists(_.isInstanceOf[BroadcastHashJoinExec]))
    } finally {
      SketchCatalog.deactivate(spark)
      prevBb match {
        case Some(v) => spark.conf.set(SketchCatalog.BroadcastBytesKey, v)
        case None    => spark.conf.unset(SketchCatalog.BroadcastBytesKey)
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    }
    chain()
      .select(col("grp"), col("n_items"), col("revenue"),
        lit(naiveAllMerge).as("naive_all_merge"),
        lit(singlesNoFlip).as("single_col_no_flip"),
        lit(tupleBroadcast).as("tuple_broadcast"),
        lit(singleEst >= 10L * math.max(1L, tupleEst)).as("single_overprices_10x"))
      .orderBy("grp")
  }

  /** Poisoned-catalog + audit-store fixture for [[x6AuditDemotion]],
    * built once per JVM per sf dir: the q15 catalog with the CUSTOMER
    * key's CMS swapped for a sketch of the same keys replicated ×64
    * (a 64× overcounting artifact — ×64 because the flip condition is
    * est'(o⋈c) > est(o⋈l) and the honest o⋈l estimate carries CMS noise
    * ≈ ε·N_o·N_l that grows with scale²; multiplying the honest o⋈c
    * ESTIMATE (noise included) by 64 keeps a ≥3× margin at every sf — the stale-sketch signature: honest
    * n_rows/n_bytes/hll, lying counts), plus three recorded
    * [[graft.ops.PlannerAudit]] executions of the orders ⋈ customer join
    * against it — each violating `overcount_bounded` (est ≈ 64×actual,
    * far past the ε·n_a·n_b slack).
    */
  private val x6DemotePaths = new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private def x6DemoteFixture(spark: SparkSession, dir: String): (String, String) =
    x6DemotePaths.computeIfAbsent(dir, { _ =>
      import graft.ops.{PlannerAudit, SketchCatalog}
      val fatPath = scratch(dir, "x6_demote_fat")
      spark.read.parquet(s"$dir/customer.parquet").select(col("c_custkey"))
        .crossJoin(spark.range(64))
        .select(col("c_custkey"))
        .write.mode("overwrite").parquet(fatPath)
      val fatCms = SketchCatalog.harvest(spark, fatPath, Seq("c_custkey"))
        .select(col("cms")).head().getAs[Array[Byte]](0)
      val poisonedPath = scratch(dir, "x6_demote_catalog")
      SketchCatalog.save(
        spark.read.parquet(q15Catalog(spark, dir))
          .withColumn("cms",
            when(col("key") === "c_custkey", lit(fatCms)).otherwise(col("cms"))),
        poisonedPath)
      val pcat = SketchCatalog.activate(spark, poisonedPath)
      SketchCatalog.deactivate(spark)
      val auditPath = scratch(dir, "x6_demote_audit")
      val rows = (1 to 3).map { _ =>
        PlannerAudit.auditEquiJoin(spark, pcat, s"$dir/orders.parquet",
          "o_custkey", s"$dir/customer.parquet", "c_custkey")
      }
      PlannerAudit.record(spark, auditPath, rows, append = false)
      (poisonedPath, auditPath)
    })

  /** X6ad: the planner-audit FEEDBACK loop closed —
    * [[graft.ops.SketchCatalog.activate]] consulting the recorded
    * [[graft.ops.PlannerAudit]] store: an artifact whose CMS fingerprint
    * sits on ≥ 3 contract-violating audits is DEMOTED from reorder/
    * broadcast/skew decisions (runtime filters stay allowed — they are
    * result-safe). The fixture chain is written GOOD-first
    * (orders ⋈ customer, then lineitem): the honest catalog leaves it
    * alone; the poisoned ×64 customer sketch flips it fact-first (a
    * genuinely worse plan chosen by a lying artifact — the failure mode
    * the loop exists to stop); with the audit store named in the session
    * conf the SAME poisoned activation is demoted and the good written
    * order survives. Recovery is fingerprint-keyed: activating the
    * honest catalog against the same store exonerates the re-harvested
    * customer sketch (new bytes, clean record) while the o_custkey
    * sketch that participated in every bad estimate stays conservatively
    * demoted. All four facts are probed from forced physical plans /
    * the activation registry and ride the hash gate as pinned booleans;
    * the revenue aggregate is computed DURING the demoted activation
    * (demotion must be invisible to results).
    */
  private def x6AuditDemotion(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.{PlannerAudit, SketchCatalog}
    def chain(): DataFrame = spark.read.parquet(s"$dir/orders.parquet")
      .join(spark.read.parquet(s"$dir/customer.parquet"),
        col("o_custkey") === col("c_custkey"))
      .join(spark.read.parquet(s"$dir/lineitem.parquet"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 18, 4)
          .as("revenue"))
    def bottomHasLineitem(df: DataFrame): Boolean =
      physicalJoins(df).lastOption.toSeq.flatMap(planScans)
        .exists(_.contains("lineitem"))
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevBb = spark.conf.getOption(SketchCatalog.BroadcastBytesKey)
    val prevAudit = spark.conf.getOption(SketchCatalog.AuditStoreKey)
    val (violations, poisonedFlipped, demotedKept, customerRecovered, row) = try {
      // unset + fixture build INSIDE the restore scope: a fixture-build
      // failure must not leave a previously-set audit-store conf unset
      // for the rest of the session (ADVICE r13)
      spark.conf.unset(SketchCatalog.AuditStoreKey) // fixture builds un-audited
      val (poisonedPath, auditPath) = x6DemoteFixture(spark, dir)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(SketchCatalog.BroadcastBytesKey, "0")
      SketchCatalog.deactivate(spark)
      val nViol = PlannerAudit.report(spark, auditPath)
        .where(!col("overcount_bounded")).count()
      SketchCatalog.activate(spark, poisonedPath)
      val flipped = bottomHasLineitem(chain())
      spark.conf.set(SketchCatalog.AuditStoreKey, auditPath)
      val demotedCat = SketchCatalog.activate(spark, poisonedPath)
      val kept = !bottomHasLineitem(chain()) &&
        demotedCat.demoted.exists(_._2 == "c_custkey")
      val r = chain().orderBy("o_orderpriority").collect()
      val honestCat = SketchCatalog.activate(spark, q15Catalog(spark, dir))
      val recovered = !honestCat.demoted.exists(_._2 == "c_custkey") &&
        honestCat.demoted.exists(_._2 == "o_custkey")
      (nViol >= 3L, flipped, kept, recovered, r)
    } finally {
      SketchCatalog.deactivate(spark)
      prevAudit match {
        case Some(v) => spark.conf.set(SketchCatalog.AuditStoreKey, v)
        case None    => spark.conf.unset(SketchCatalog.AuditStoreKey)
      }
      prevBb match {
        case Some(v) => spark.conf.set(SketchCatalog.BroadcastBytesKey, v)
        case None    => spark.conf.unset(SketchCatalog.BroadcastBytesKey)
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    }
    import spark.implicits._
    row.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq.toDF("o_orderpriority", "n_items", "revenue")
      .select(col("o_orderpriority"), col("n_items"), col("revenue"),
        lit(violations).as("audit_violations"),
        lit(poisonedFlipped).as("poisoned_flipped"),
        lit(demotedKept).as("demoted_kept_order"),
        lit(customerRecovered).as("customer_recovered"))
      .orderBy("o_orderpriority")
  }

  /** X8: the COMPOSED curation pipeline — what a user of this library
    * actually runs end to end over a raw corpus: quality/language clean +
    * exact dedup (x6) → benchmark decontamination (x7d; benchmark =
    * doc_id % 20 == 0 of the raw corpus) → near-dup dedup via minhash
    * pairs + connected components (x7c) → deterministic train split
    * (x7s) → sequence packing per source (x7p). Every stage is
    * individually oracle-checked; this query checks their COMPOSITION —
    * ordering, column flow, and filter interactions — under one oracle.
    */
  private def x8CurationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val cleanIds = TextAnalysis.cleanCorpus(docs, "doc_id", col("text"))
      .select(col("keeper_id").as("doc_id"))
    val bench = docs.where(col("doc_id") % 20 === 0)
    val train0 = docs.join(cleanIds, "doc_id").where(col("doc_id") % 20 =!= 0)
    // the decontaminated corpus feeds BOTH the pair mining and the final
    // anti-join/split/pack chain — pin it so the clean+decontaminate
    // stages run once (released by the caller via OpCaches, as with every
    // operator-internal persist). minOverlap = 10: in this fixture's
    // dense shared vocabulary a single common trigram is noise (at sf0.1
    // it flags 4748/4750 docs); a copied passage shows up as a RUN of
    // shared grams, which is the leakage the composed pipeline screens
    val train1 = graft.ops.OpCaches.pin(
      Contamination.decontaminate(train0, bench, "doc_id", col("text"), n = 3, minOverlap = 10))
    val pairs = Dedup.minhashNearDupPairs(train1, "doc_id", col("text"),
      shingleLen = 3, numPerm = 64, bands = 16, threshold = 0.5)
    val train2 = Components.applyDedup(train1, "doc_id", pairs)
    val train3 = Sampling.assignSplit(train2, "doc_id").where(col("split") === "train")
    Packing.concatChunkPack(train3, "doc_id", col("text"), seqLen = 512L, Seq("source"))
      .orderBy("source", "start_offset")
  }

  /** X8b: the round-5 composed pipeline — the same "what a user actually
    * runs" check as [[x8CurationPipeline]], but chaining the NEW signal
    * family: Gopher rule filter → LM familiarity floor (model fit on the
    * raw corpus's 20% md5 sample) → uniform-language mixture reweighting
    * at 80% of the filtered corpus → train split → sequence packing. Every
    * stage is individually oracle-checked; this query pins their
    * composition (filter interactions, fraction bases, column flow) under
    * one hash.
    */
  private def x8CurationV2(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val keepIds = TextAnalysis.gopherRules(docs, "doc_id", col("text"),
      minWords = 30, minAlphaRatio = 0.8, maxTopWordFrac = 0.15)
      .where(col("keep")).select("doc_id")
    val lm = TextAnalysis.charTrigramLmFit(docs, "doc_id", col("text"), sampleFraction = 0.2)
    // LM scoring restricted to the gopher-kept docs (r17): `filtered` is
    // the INTERSECTION of the two gates and lmScore is per-doc (the fitted
    // `lm` is unchanged — still the full-corpus 20% sample), so scoring
    // gopher-dropped docs was pure discarded work — the score stage was
    // this query's largest (11.4 s CPU over the full corpus per rep).
    // Result-identical by construction; oracle re-verified.
    val familiar = TextAnalysis.lmScore(docs.join(keepIds, "doc_id"),
        "doc_id", col("text"), lm)
      .where(col("lm_score") >= -5.43).select("doc_id")
    // pinned: the filtered corpus feeds BOTH mixtureSample's group-count
    // aggregate and its selection join — unpinned, the whole gopher+LM
    // chain runs twice (released by the caller via OpCaches, like every
    // pipeline pin). `familiar` ⊆ `keepIds` since the r17 restriction, so
    // the former second join against keepIds is redundant — dropping it
    // keeps the gopher pass at ONE evaluation (it now sits inside
    // familiar's lineage).
    val filtered = graft.ops.OpCaches.pin(docs.join(familiar, "doc_id"))
    // mixture fractions are computed on the FILTERED corpus — the base a
    // real mix targets after cleaning, not the raw doc counts
    val mixed = Sampling.mixtureSample(filtered, "doc_id", "lang",
      weights = Map("de" -> 0.2, "en" -> 0.2, "es" -> 0.2, "fr" -> 0.2, "zh" -> 0.2),
      targetFraction = 0.8)
      .select("doc_id")
    val train = Sampling.assignSplit(docs.join(mixed, "doc_id"), "doc_id")
      .where(col("split") === "train")
    Packing.concatChunkPack(train, "doc_id", col("text"), seqLen = 512L, Seq("source"))
      .orderBy("source", "start_offset")
  }

  /** X1sub: exact substring-span dedup (Lee et al. arXiv:2107.06499, k-gram
    * form) — every maximal duplicated token span of >= 10 tokens, positions
    * 1-based over the normalized token sequence.
    */
  private def x1SubstringSpans(spark: SparkSession, dir: String): DataFrame =
    Dedup.substringSpans(t(spark, dir, "documents"), "doc_id", col("text"), k = 10)
      .orderBy("doc_id", "span_start")

  /** X1sub apply: the scrub — duplicated spans dropped from every doc,
    * certified by counts + the md5 of the surviving tokens.
    */
  private def x1SubstringScrub(spark: SparkSession, dir: String): DataFrame =
    Dedup.substringScrub(t(spark, dir, "documents"), "doc_id", col("text"), k = 10)
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        md5(col("clean_text")).as("clean_md5"))
      .orderBy("doc_id")

  /** X2co: corpus-level overlap report — the even-id corpus vs the odd-id
    * shard (the x2_incremental_admit split) compared as WHOLE shingle
    * sets: a corpus-level MinHash signature agreement estimate next to
    * the exact hash-set Jaccard, one row. The pre-screening number an
    * ingest pipeline reads before deciding whether per-doc admission is
    * worth running.
    */
  private def x2CorpusOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Dedup.corpusOverlapEstimate(
      docs.where(col("doc_id") % 2 === 0), docs.where(col("doc_id") % 2 =!= 0),
      "doc_id", col("text"))
  }

  /** X1df: per-doc duplicated-gram fraction — the sizing report for the
    * substring scrub (same duplicate definition as x1_substring_spans, so
    * the numbers agree with what the scrub would touch).
    */
  private def x1DupGramFraction(spark: SparkSession, dir: String): DataFrame =
    Dedup.dupGramFraction(t(spark, dir, "documents"), "doc_id", col("text"), k = 10)
      .orderBy("doc_id")

  /** X7i: DSIR importance scores — target domain = the benchmark slice
    * (doc_id % 20 == 0, the decontamination convention), source = the
    * rest; every source doc scored by its hashed-ngram target/source
    * log-likelihood ratio.
    */
  private def x7DsirScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val target = docs.where(col("doc_id") % 20 === 0)
    val source = docs.where(col("doc_id") % 20 =!= 0)
    // fitAndScore ≡ score(source, fitLogRatios(target, source)) with the
    // source gram pass shared between fit and scoring (r16, bit-identical)
    Dsir.fitAndScore(target, source, "doc_id", col("text"), buckets = 4096)
      .orderBy("doc_id")
  }

  /** X7i selection: the 100 source docs most like the target domain —
    * TakeOrderedAndProject, never a global sort.
    */
  private def x7DsirTopk(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val target = docs.where(col("doc_id") % 20 === 0)
    val source = docs.where(col("doc_id") % 20 =!= 0)
    val scored = Dsir.fitAndScore(target, source, "doc_id", col("text"), buckets = 4096)
    Dsir.topK(scored, "doc_id", k = 100)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("dsir_score").desc, col("doc_id"))).cast("long"))
      .select("rank", "doc_id", "n_grams", "dsir_score")
      .orderBy("rank")
  }

  /** X3p: first-principal-component projection by distributed power
    * iteration (5 passes, engine-portable by the k-means discipline).
    */
  private def x3PcaProject(spark: SparkSession, dir: String): DataFrame =
    Similarity.pcaProject(t(spark, dir, "embeddings"), "vec_id", "embedding",
      dim = 64, iters = 5)
      .orderBy("vec_id")

  /** X8c: the round-6 composed pipeline — substring-span scrub over the
    * whole corpus (hollowed-out docs dropped at a 15-surviving-token
    * floor) → DSIR selection toward the benchmark slice of the SCRUBBED
    * corpus (fit and scoring both downstream of the scrub, the order a
    * real pipeline uses: dedup before domain selection so duplicated
    * boilerplate can't dominate the feature ratios) → train split →
    * sequence packing. Stage chains shared verbatim with the per-stage
    * twins, composition pinned under one hash.
    */
  private def x8CurationV3(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    // pinned: the scrubbed corpus feeds the DSIR target side, the DSIR
    // source side (fit + scoring) and the final select/split/pack chain —
    // unpinned, the whole span-mine + scrub chain runs three times
    // (released by the caller via OpCaches, like every pipeline pin)
    val scrubbed = graft.ops.OpCaches.pin(
      Dedup.substringScrub(docs, "doc_id", col("text"), k = 10)
        .where(col("n_tokens") - col("n_removed") >= 15)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select(col("doc_id"), col("source"), col("clean_text").as("text")))
    val target = scrubbed.where(col("doc_id") % 20 === 0)
    val source = scrubbed.where(col("doc_id") % 20 =!= 0)
    val selected = Dsir.topK(
      Dsir.fitAndScore(target, source, "doc_id", col("text"), buckets = 4096),
      "doc_id", k = 300)
      .select("doc_id")
    val train = Sampling.assignSplit(scrubbed.join(selected, "doc_id"), "doc_id")
      .where(col("split") === "train")
    Packing.concatChunkPack(train, "doc_id", col("text"), seqLen = 512L, Seq("source"))
      .orderBy("source", "start_offset")
  }

  /** X8d: composed pipeline v4 over the round-6 family — domain-trust
    * filter (fit on the FULL corpus) → incremental near-dup admission of
    * the odd-id shard against the frozen even-id corpus → overlapping
    * 32/16 chunking of the admitted docs → curriculum ordering of the
    * chunks by token count. Stage chains shared verbatim with the
    * per-stage twins; composition pinned under one hash.
    */
  private def x8CurationV4(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    // the trusted corpus feeds both admission sides and the kept join —
    // pinned so the trust fit runs once (released via OpCaches)
    val trusted = graft.ops.OpCaches.pin(
      graft.ops.Domains.filterByDomainTrust(docs, "doc_id", "source", col("text"), untrustedK = 4)
        .select("doc_id", "text"))
    val incoming = trusted.where(col("doc_id") % 2 === 1)
    val frozen = trusted.where(col("doc_id") % 2 === 0)
    val admitted = Dedup.incrementalNearDupAdmit(incoming, frozen, "doc_id", col("text"))
      .where(col("admitted")).select("doc_id")
    // Composite id in the high/low halves of a LONG: chunk_idx is an INT
    // (< 2^32 by construction), so shiftLeft(doc_id, 32) + chunk_idx never
    // collides — the old *1024 form aliased ids past 1024 chunks/doc.
    val chunks = Chunking.chunkOverlap(incoming.join(admitted, "doc_id"),
        "doc_id", col("text"), chunkSize = 32, stride = 16)
      .select((shiftleft(col("doc_id"), 32) + col("chunk_idx")).as("chunk_id"), col("n_tokens_chunk"))
    Sampling.curriculumOrder(chunks, "chunk_id", col("n_tokens_chunk").cast("double"), buckets = 6)
  }

  /** X6z: Zipf fit of the corpus token spectrum — one closed-form OLS row
    * (alpha, intercept, r2) from six exact-decimal sums; a corpus-health
    * gate whose only corpus-scale stage is one token-count agg.
    */
  private def x6ZipfFit(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.zipfFit(t(spark, dir, "documents"), col("text"))

  /** X8e: composed pipeline v5 — the round's classifier + diversity family
    * chained: NB quality gate (fit on domain-trust weak labels over the
    * FULL corpus) → survivors' embeddings → cluster-balanced diversity
    * sample (64 cells, quota 8) → classifier scores ride along. The kept
    * set is pinned once: it feeds the semi-join AND the final score join.
    */
  private def x8CurationV5(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val embeds = t(spark, dir, "embeddings")
    val model = Classify.nbFitOnDomainTrust(docs, "doc_id", "source", col("text"))
    val kept = graft.ops.OpCaches.pin(
      Classify.nbScore(docs, "doc_id", col("text"), model)
        .where(col("pred"))
        .select(col("doc_id").as("vec_id"), col("n_tokens"), col("llr")))
    val sample = Sampling.clusterBalancedSample(
      embeds.join(kept.select("vec_id"), Seq("vec_id"), "left_semi"),
      dim = 64, bitsPerCell = 6, quota = 8)
    sample.join(kept, Seq("vec_id"))
      .select(col("vec_id"), col("cell"), col("cell_rank"), col("n_tokens"), col("llr"))
      .orderBy("cell", "cell_rank")
  }

  /** X7cs: cluster-balanced diversity sampling — 64 closed-form sign-LSH
    * cells, at most 16 members each in md5-priority order. The sample
    * covers embedding-space modes instead of corpus mass.
    */
  private def x7ClusterSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.clusterBalancedSample(t(spark, dir, "embeddings"),
        dim = 64, bitsPerCell = 6, quota = 16)
      .orderBy("cell", "cell_rank")

  /** X6hy: hybrid BM25 + cosine retrieval fused with reciprocal rank
    * fusion — rank-only fusion (no score calibration), 20-deep pools per
    * retriever, document-id tiebreak. Probe vectors stand in for query
    * embeddings (query-by-exemplar).
    */
  private def x6HybridRrf(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Retrieval.hybridRrf(
        t(spark, dir, "documents"), t(spark, dir, "embeddings"),
        queries = Seq(
          ("q_join", "spark join filter", 0L),
          ("q_scan", "table scan fast", 100L),
          ("q_window", "window order batch", 200L)),
        topK = 10, poolK = 20, rrfK = 60)
      .orderBy("query_id", "rank")

  /** X5nb: Naive Bayes quality classifier — fit on domain-trust weak
    * labels (trusted domains = positive class), then score every document
    * with the per-token log-odds sum. The fastText-style "looks like the
    * reference corpus" filter, closed-form and hash-checkable.
    */
  private def x5NbQuality(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val model = Classify.nbFitOnDomainTrust(docs, "doc_id", "source", col("text"))
    Classify.nbScore(docs, "doc_id", col("text"), model).orderBy("doc_id")
  }

  /** X5lr: logistic-regression quality filter — the ITERATIVE in-engine
    * optimizer complement to [[x5NbQuality]]'s closed-form fit. Trains
    * [[Classify.LogregIters]] full-batch GD iterations on domain-trust weak
    * labels (each iteration one ungrouped d+1-number aggregate over a
    * pinned 4-wide feature projection), then scores the corpus map-only.
    */
  private def x5LogregQuality(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    // shared-scan split (r16): fit and score read ONE pinned feature pass,
    // trust derives from the same scan — bit-identical to fit-then-score
    val (feats, trust) = Classify.featuresWithTrust(docs, "doc_id", "source", col("text"))
    val w = Classify.logregFitWithFeats(feats, trust, "source")
    Classify.logregScoreWithFeats(feats, "doc_id", w).orderBy("doc_id")
  }

  /** X11: the model DEPLOYMENT loop end-to-end — fit the logreg gate,
    * persist the weight vector through [[graft.ops.ModelStore]], RELOAD it
    * from the artifact, and score the corpus under the reloaded weights.
    * The oracle is the FRESH-FIT scoring chain (the x5_logreg_quality
    * twin verbatim), so the hash gate proves the parquet round-trip is
    * bit-exact at the query level: a scoring fleet loading yesterday's
    * artifact produces byte-identical verdicts to the fit it came from.
    * (Artifact size: d+1 = 4 doubles — one parquet footer; the corpus
    * never reruns the K training passes.)
    */
  private def x11ModelReload(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    // shared feature scan between fit and scoring (r16) — the reload gate
    // is the WEIGHT artifact round-trip, which is untouched
    val (feats, trust) = Classify.featuresWithTrust(docs, "doc_id", "source", col("text"))
    val w = Classify.logregFitWithFeats(feats, trust, "source")
    val path = scratch(dir, "x11_model_reload") + "/weights"
    graft.ops.ModelStore.saveVector(spark, w, path)
    val reloaded = graft.ops.ModelStore.loadVector(spark, path)
    Classify.logregScoreWithFeats(feats, "doc_id", reloaded)
      .orderBy("doc_id")
  }

  /** X11a: the ANN-index deployment loop — fit the PQ codebooks once,
    * persist the m×2^bits×subDim tensor through [[graft.ops.ModelStore]],
    * RELOAD it from the artifact, and serve IVF-PQ top-k under the
    * reloaded codebooks ([[Similarity.ivfPqTopKWith]] — the serving half,
    * no refit corpus pass). Anchors and the coarse-cell regime are the
    * x3_ivfpq_topk gate's (md5-rank K = 200; bitsPerCell corpus-derived).
    * The oracle is the FRESH-FIT chain (the
    * x3_ivfpq_topk twin verbatim, same parameters), so the hash gate
    * proves the parquet round-trip reproduces every ADC score bit-exactly:
    * a query fleet loading yesterday's index artifact returns the
    * identical neighbors and cosines the fit session computed.
    */
  private def x11AnnReload(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val books = Similarity.pqFitCodebooks(emb, dim = 64, m = 32, bitsPerCode = 4)
    val path = scratch(dir, "x11_ann_reload") + "/codebooks"
    graft.ops.ModelStore.saveTensor3(spark, books, path)
    val reloaded = graft.ops.ModelStore.loadTensor3(spark, path)
    Similarity.ivfPqTopKWith(annAnchors(emb), emb, reloaded,
        k = 5, nProbe = 3, dim = 64,
        bitsPerCell = Similarity.ivfBitsFor(emb.count()), m = 32, bitsPerCode = 4)
      .orderBy("query_id", "rank")
  }

  /** X8g: composed pipeline v11 — this round's additions composed:
    * near-dup clusters keep their highest-PAGERANK member (canonical copy
    * by centrality, [[Components.pageRank]]), then the survivors pass the
    * LEARNED logreg gate ([[Classify.logregFitOnDomainTrust]]). The pair
    * list is pinned once and feeds both the rank and the component stage.
    */
  private def x8CurationV11(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val pairs = graft.ops.OpCaches.pin(
      Dedup.minhashNearDupPairs(docs, "doc_id", col("text"),
        shingleLen = 3, numPerm = 64, bands = 16, threshold = 0.5))
    val pr = Components.pageRank(pairs)
    val comp = Components.connectedComponents(pairs)
    val keepers = comp.join(pr, Seq("id"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("component")
          .orderBy(col("pagerank_micros").desc, col("id").asc)))
      .where(col("__rn") === 1).select(col("id").as("doc_id"))
    val kept = docs
      .join(comp.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
      .unionByName(keepers)
    // shared feature scan between the gate's fit and scoring (r16)
    val (feats, trust) = Classify.featuresWithTrust(docs, "doc_id", "source", col("text"))
    val w = Classify.logregFitWithFeats(feats, trust, "source")
    val scores = Classify.logregScoreWithFeats(feats, "doc_id", w)
    kept.join(scores, Seq("doc_id")).where(col("pred"))
      .select(col("doc_id"), col("score"))
      .orderBy("doc_id")
  }

  /** X5ev: classifier evaluation report — confusion matrices and
    * fixed-point micro-metrics for BOTH trained quality filters (NB and
    * logreg) against their own domain-trust labels ([[Classify
    * .confusionEval]]): the train → persist → EVALUATE leg of the ML
    * loop, one scalar aggregate per model.
    */
  private def x5ClassifierEval(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    // shared-scan split (r16): ONE pinned quality/feature pass feeds the
    // trust table, the labels, the logreg fit AND the logreg scoring;
    // the NB fit consumes the same trust instead of re-deriving it —
    // bit-identical to the independent-operator form (one aggregate
    // definition, Domains.domainTrustFromQuality)
    val (feats, trustFull) = Classify.featuresWithTrust(docs, "doc_id", "source", col("text"))
    val trust = broadcast(trustFull.select(col("source"), col("trusted")))
    val labels = docs.join(trust, Seq("source"))
      .select(col("doc_id"), col("trusted").as("label"))
    val nbPred = Classify.nbScore(docs, "doc_id", col("text"),
        Classify.nbFitWithTrust(docs, "source", col("text"), trust))
      .select(col("doc_id"), col("pred"))
    val w = Classify.logregFitWithFeats(feats, trust, "source")
    val lrPred = Classify.logregScoreWithFeats(feats, "doc_id", w)
      .select(col("doc_id"), col("pred"))
    Classify.confusionEval("nb", labels.join(nbPred, Seq("doc_id")), "pred", "label")
      .unionByName(
        Classify.confusionEval("logreg", labels.join(lrPred, Seq("doc_id")), "pred", "label"))
      .orderBy("model")
  }

  /** X5dr: feature-drift report — PSI of the quality-score distribution
    * between the even- and odd-id corpus halves ([[graft.ops.Drift
    * .psiReport]]): the retrain-alarm statistic a deployed filter fleet
    * watches. On the synthetic corpus the halves are exchangeable, so the
    * gate exercises the near-zero regime (every bin still contributes a
    * smoothed term).
    */
  private def x5FeatureDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    def half(r: Int) =
      TextAnalysis.qualityMetrics(docs.where(col("doc_id") % 2 === r), "doc_id", col("text"))
        .select(col("quality_score"))
    graft.ops.Drift.psiReport(half(0), half(1), "quality_score")
  }

  /** X5d: per-domain trust report — exact-decimal mean quality per source,
    * bottom-4 domains marked untrusted (rank with full tiebreak). The
    * domain window runs over the aggregated domain table only.
    */
  private def x5DomainStats(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Domains.domainStats(t(spark, dir, "documents"), "doc_id", "source",
        col("text"), untrustedK = 4)
      .orderBy("source")

  /** X5d apply: the corpus restricted to trusted domains (broadcast
    * semi-join — the corpus side never shuffles).
    */
  private def x5DomainFilter(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Domains.filterByDomainTrust(t(spark, dir, "documents"), "doc_id",
        "source", col("text"), untrustedK = 4)
      .select("doc_id", "source", "lang")
      .orderBy("doc_id")

  /** X5c: overlapping chunking — 32-token windows every 16 tokens, tail
    * kept; pure map-side explode.
    */
  private def x5ChunkOverlap(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Chunking.chunkOverlap(t(spark, dir, "documents"), "doc_id",
        col("text"), chunkSize = 32, stride = 16)
      .orderBy("doc_id", "chunk_idx")

  /** X7cu: curriculum ordering over the blended quality score — 6 quantile
    * buckets from the distinct-score spine (no corpus-scale sort),
    * round-robin interleaved training key.
    */
  private def x7Curriculum(spark: SparkSession, dir: String): DataFrame = {
    val q = TextAnalysis.qualityMetrics(t(spark, dir, "documents"), "doc_id", col("text"))
      .select(col("doc_id"), col("quality_score"))
    Sampling.curriculumOrder(q, "doc_id", col("quality_score"), buckets = 6)
  }

  /** X2sc: semantic decontamination report — corpus vectors (vec_id >= 80)
    * within cosine 0.3 of any benchmark vector (vec_id < 80), via
    * broadcast banded sign-LSH + exact verification. The benchmark side is
    * a FIXED 80-vector slice — constant at every sf, exactly like a real
    * eval suite — so the registered plan's candidate product scales
    * linearly in the corpus (the r6 registration's `% 25` benchmark grew
    * with the fixture, making the registered form quadratic-in-fixture;
    * the deployment contract was only measured out-of-band, in
    * SCALING.md "Probe-side operators: fixed probe set"). Knobs: 16
    * bands × 8 bits — the high-bit regime
    * (background collision rate 2^-8 per band) with the band count
    * supplying recall, which is the axis that matters for a contamination
    * GUARD (a missed near-benchmark doc leaks into training; a spurious
    * candidate just costs one exact cosine).
    */
  private def x2SemanticDecon(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Similarity.semanticContaminationReport(
        emb.where(col("vec_id") >= 80), emb.where(col("vec_id") < 80),
        threshold = 0.3, dim = 64, bands = 16, bitsPerBand = 8)
      .orderBy("vec_id")
  }

  // ==================================================================
  // Registry
  // ==================================================================

  /** Session confs the queries depend on, all runtime-settable — applied
    * defensively in case the harness passes a session it built itself:
    * nanos parquet reads (events.ts) and unchunked base64 (x4 digests).
    */
  private def ensureSessionConfs(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.chunkBase64String.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  private val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s2_incremental_scan" -> (s2IncrementalScan _),
    "f2_cdc_filter" -> (f2CdcFilter _),
    "f3_missing_id_drop" -> (f3MissingIdDrop _),
    "f4_ttl_expiry" -> (f4TtlExpiry _),
    "a1_checkpoint_max" -> (a1CheckpointMax _),
    "k2_upsert_lww" -> (k2UpsertLww _),
    "t1_template_render" -> (t1TemplateRender _),
    "e7_batch_slices" -> (e7BatchSlices _),
    "q1_agg" -> (q1Agg _),
    "q3_top_orders" -> (q3TopOrders _),
    "q5_region_revenue" -> (q5RegionRevenue _),
    "w_topk_orders" -> (wTopkOrders _),
    "q4_late_orders" -> (q4LateOrders _),
    "cube_orders" -> (cubeOrders _),
    "set_intersect_users" -> (setIntersectUsers _),
    "set_except_users" -> (setExceptUsers _),
    "rollup_customers" -> (rollupCustomers _),
    "j_anti_no_orders" -> (jAntiNoOrders _),
    "j_semi_suppliers" -> (jSemiSuppliers _),
    "w_tumbling_hourly" -> (wTumblingHourly _),
    "w_sessionize" -> (wSessionize _),
    "x1_exact_dedup" -> (x1ExactDedup _),
    "x2_ngram_jaccard" -> (x2NgramJaccard _),
    "x2_minhash_lsh" -> (x2MinhashLsh _),
    "x2_simhash" -> (x2Simhash _),
    "x2_simhash128" -> (x2Simhash128 _),
    "x2_simhash128_pairs" -> (x2Simhash128Pairs _),
    "x2_embedding_near_dup" -> (x2EmbeddingNearDup _),
    "x2_rhp_near_dup" -> (x2RhpNearDup _),
    "x3_knn_cosine" -> (x3KnnCosine _),
    "x3_ivf_topk" -> (x3IvfTopk _),
    "x3_ivf_recall" -> (x3IvfRecall _),
    "x3_ivf_recall_gate" -> (x3IvfRecallGate _),
    "x3_ivf_lsh_topk" -> (x3IvfLshTopk _),
    "x2_rhp_recall" -> (x2RhpRecall _),
    "x2_rhp_multiprobe" -> (x2RhpMultiprobe _),
    "x2_rhp_scale" -> (x2RhpScale _),
    "q9_approx_sketches" -> (q9ApproxSketches _),
    "x5_quality" -> (x5Quality _),
    "x5_lang_id" -> (x5LangId _),
    "x5_fingerprint" -> (x5Fingerprint _),
    "x4_multimodal_meta" -> (x4MultimodalMeta _),
    "x4_lazy_pointer" -> (x4LazyPointer _),
    "x4_byte_features" -> (x4ByteFeatures _),
    "x4_decode_ppm" -> (x4DecodePpm _),
    "x4_decode_wav" -> (x4DecodeWav _),
    "x4_dhash" -> (x4DHash _),
    "x4_image_near_dup" -> (x4ImageNearDup _),
    "x4_awav_hash" -> (x4AwavHash _),
    "x4_audio_near_dup" -> (x4AudioNearDup _),
    "x4_resize" -> (x4Resize _),
    "x4_video_frames" -> (x4VideoFrames _),
    "x4_vhash" -> (x4VHash _),
    "x4_video_near_dup" -> (x4VideoNearDup _),
    "x4_image_near_dup_sql" -> (x4ImageNearDupSql _),
    "x6_clean_corpus" -> (x6CleanCorpus _),
    "x6_vocab_topk" -> (x6VocabTopk _),
    "j_asof_attribution" -> (jAsofAttribution _),
    "j_interval_errors" -> (jIntervalErrors _),
    "pivot_user_events" -> (pivotUserEvents _),
    "q6_percentiles" -> (q6Percentiles _),
    "q7_promo_by_brand" -> (q7PromoByBrand _),
    "x7_split" -> (x7Split _),
    "x7_shuffle_shards" -> (x7ShuffleShards _),
    "x7_pps_sample" -> (x7PpsSample _),
    "x7_fixed_k_sample" -> (x7FixedKSample _),
    "x7_stratified_sample" -> (x7StratifiedSample _),
    "x7_token_quota" -> (x7TokenQuota _),
    "x7_decontaminate" -> (x7Decontaminate _),
    "x7_dedup_clusters" -> (x7DedupClusters _),
    "x7_dedup_apply" -> (x7DedupApply _),
    "x7_dedup_keep_best" -> (x7DedupKeepBest _),
    "x6_pmi" -> (x6Pmi _),
    "x8_curation_v6" -> (x8CurationV6 _),
    "x8_curation_v7" -> (x8CurationV7 _),
    "x8_curation_v8" -> (x8CurationV8 _),
    "x8_curation_v9" -> (x8CurationV9 _),
    "x5_pii_scrub" -> (x5PiiScrub _),
    "x5_repetition" -> (x5Repetition _),
    "x5_collapse_repeats" -> (x5CollapseRepeats _),
    "x7_pack_sequences" -> (x7PackSequences _),
    "x7_pack_occupancy" -> (x7PackOccupancy _),
    "x8_curation_pipeline" -> (x8CurationPipeline _),
    "x3_quantize_int8" -> (x3QuantizeInt8 _),
    "x6_bpe_merges" -> (x6BpeMerges _),
    "x6_bpe_tokens" -> (x6BpeTokens _),
    "q8_salted_revenue" -> (q8SaltedRevenue _),
    "q12_bloom_revenue" -> (q12BloomRevenue _),
    "x7_mixture_sample" -> (x7MixtureSample _),
    "x2_semdedup" -> (x2Semdedup _),
    "x2_semdedup_scale" -> (x2SemdedupScale _),
    "x5_gopher_rules" -> (x5GopherRules _),
    "x5_lm_score" -> (x5LmScore _),
    "x6_tfidf_keywords" -> (x6TfidfKeywords _),
    "x6_bm25_search" -> (x6Bm25Search _),
    "x8_curation_v2" -> (x8CurationV2 _),
    "x1_substring_spans" -> (x1SubstringSpans _),
    "x1_substring_scrub" -> (x1SubstringScrub _),
    "x7_dsir_score" -> (x7DsirScore _),
    "x7_dsir_topk" -> (x7DsirTopk _),
    "x3_pca_project" -> (x3PcaProject _),
    "x8_curation_v3" -> (x8CurationV3 _),
    "x5_domain_stats" -> (x5DomainStats _),
    "x5_domain_filter" -> (x5DomainFilter _),
    "x5_chunk_overlap" -> (x5ChunkOverlap _),
    "x7_curriculum" -> (x7Curriculum _),
    "x2_semantic_decon" -> (x2SemanticDecon _),
    "x3_pq_topk" -> (x3PqTopk _),
    "x3_pq_recall" -> (x3PqRecall _),
    "x3_ivfpq_topk" -> (x3IvfPqTopk _),
    "x3_ivfpq_recall" -> (x3IvfPqRecall _),
    "x2_incremental_admit" -> (x2IncrementalAdmit _),
    "x8_curation_v4" -> (x8CurationV4 _),
    "x6_zipf_fit" -> (x6ZipfFit _),
    "x4_wav_frames" -> (x4WavFrames _),
    "x5_nb_quality" -> (x5NbQuality _),
    "x6_hybrid_rrf" -> (x6HybridRrf _),
    "x7_cluster_sample" -> (x7ClusterSample _),
    "x8_curation_v5" -> (x8CurationV5 _),
    "x7_temperature_mix" -> (x7TemperatureMix _),
    "x5_threshold_sweep" -> (x5ThresholdSweep _),
    "x1_dup_gram_fraction" -> (x1DupGramFraction _),
    "x7_dedup_stats" -> (x7DedupStats _),
    "x8_curation_v10" -> (x8CurationV10 _),
    "x2_corpus_overlap" -> (x2CorpusOverlap _),
    "x6_bpe_fertility" -> (x6BpeFertility _),
    "w_sliding_hourly" -> (wSlidingHourly _),
    "j_asof_tolerance" -> (jAsofTolerance _),
    "q10_funnel" -> (q10Funnel _),
    "q11_retention" -> (q11Retention _),
    "x5_logreg_quality" -> (x5LogregQuality _),
    "k3_scd2_history" -> (k3Scd2History _),
    "k4_time_travel" -> (k4TimeTravel _),
    "x9_zorder" -> (x9Zorder _),
    "x10_dq_profile" -> (x10DqProfile _),
    "x10_dq_profile_approx" -> (x10DqProfileApprox _),
    "x10_dq_constraints" -> (x10DqConstraints _),
    "a2_incremental_rollup" -> (a2IncrementalRollup _),
    "x7_dedup_pagerank" -> (x7DedupPagerank _),
    "x8_curation_v11" -> (x8CurationV11 _),
    "x8_curation_v12" -> (x8CurationV12 _),
    "x5_classifier_eval" -> (x5ClassifierEval _),
    "x5_feature_drift" -> (x5FeatureDrift _),
    "x11_model_reload" -> (x11ModelReload _),
    "x2_fuzzy_names" -> (x2FuzzyNames _),
    "x10_table_diff" -> (x10TableDiff _),
    "x10_anomaly_mad" -> (x10AnomalyMad _),
    "x2_fuzzy_names_sql" -> (x2FuzzyNamesSql _),
    "x7_build_sequences" -> (x7BuildSequences _),
    "x8_entity_resolution" -> (x8EntityResolution _),
    "x2_allpairs_jaccard" -> (x2AllpairsJaccard _),
    "x6_heavy_hitters" -> (x6HeavyHitters _),
    "x10_anomaly_mad_approx" -> (x10AnomalyMadApprox _),
    "x11_ann_reload" -> (x11AnnReload _),
    "x2_jw_rerank" -> (x2JwRerank _),
    "x10_hll_incremental" -> (x10HllIncremental _),
    "x6_cms_heavy_hitters" -> (x6CmsHeavyHitters _),
    "x5_unicode_normalize" -> (x5UnicodeNormalize _),
    "x5_k_anonymity" -> (x5KAnonymity _),
    "x5_k_anonymity_audit" -> (x5KAnonymityAudit _),
    "x10_hll_overlap" -> (x10HllOverlap _),
    "x10_quantile_store" -> (x10QuantileStore _),
    "x9_skipping" -> (x9Skipping _),
    "x9_meta_count" -> (x9MetaCount _),
    "x9_hilbert" -> (x9Hilbert _),
    "x9_point_lookup" -> (x9PointLookup _),
    "x9_compact" -> (x9Compact _),
    "x7_topk_agg" -> (x7TopkAgg _),
    "x9_manifest_incremental" -> (x9ManifestIncremental _),
    "x5_percentile_rank" -> (x5PercentileRank _),
    "x6_hll_join_keys" -> (x6HllJoinKeys _),
    "x6_catalog_incremental" -> (x6CatalogIncremental _),
    "x6_planner_audit" -> (x6PlannerAudit _),
    "x5_drift_quantile" -> (x5DriftQuantile _),
    "x5_winsorize" -> (x5Winsorize _),
    "x6_hard_negatives" -> (x6HardNegatives _),
    "x8_curation_v13" -> (x8CurationV13 _),
    "x6_cms_join_card" -> (x6CmsJoinCard _),
    "q13_planned_join" -> (q13PlannedJoin _),
    "q14_runtime_filter" -> (q14RuntimeFilter _),
    "q15_planned_chain" -> (q15PlannedChain _),
    "q16_filtered_broadcast" -> (q16FilteredBroadcast _),
    "q17_planned_scan" -> (q17PlannedScan _),
    "q18_planned_skew" -> (q18PlannedSkew _),
    "q19_planned_mixed_chain" -> (q19PlannedMixedChain _),
    "q20_planned_semi" -> (q20PlannedSemi _),
    "q21_planned_point" -> (q21PlannedPoint _),
    "q22_pruned_broadcast" -> (q22PrunedBroadcast _),
    "q23_dynamic_prune" -> (q23DynamicPrune _),
    "x6_audit_demotion" -> (x6AuditDemotion _),
    "q24_planned_star" -> (q24PlannedStar _),
    "q25_planned_composite" -> (q25PlannedComposite _),
    "q26_planned_outer" -> (q26PlannedOuter _),
    "q27_planned_rg" -> (q27PlannedRg _),
    "q28_planned_snowflake" -> (q28PlannedSnowflake _),
    "q29_planned_bushy" -> (q29PlannedBushy _),
    "q30_planned_agg" -> (q30PlannedAgg _),
    "q31_planned_range" -> (q31PlannedRange _),
    "x9_skipping_str" -> (x9SkippingStr _),
    "x9_skipping_ts" -> (x9SkippingTs _),
    "x9_skipping_null" -> (x9SkippingNull _),
    "x9_skipping_in" -> (x9SkippingIn _),
    "x9_skipping_dec" -> (x9SkippingDec _),
    "x9_skipping_rg" -> (x9SkippingRg _),
    "x9_schema_evolution" -> (x9SchemaEvolution _),
    "x9_manifest_compact" -> (x9ManifestCompact _),
    "x9_bloom_compact" -> (x9BloomCompact _),
    "x9_compact_ordered" -> (x9CompactOrdered _),
    "x9_hilbert3" -> (x9Hilbert3 _),
    "x2_weighted_jaccard" -> (x2WeightedJaccard _),
    "k5_merge" -> (k5Merge _)
  )

  val all: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, fn) =>
      name -> ((spark: SparkSession, dir: String) => { ensureSessionConfs(spark); fn(spark, dir) })
    }
}
