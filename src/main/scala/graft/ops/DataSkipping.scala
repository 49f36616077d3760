package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** File-level data skipping: a min/max stats manifest over a parquet
  * table, and reads that open only the files a range predicate can
  * possibly touch — the read-side payoff that justifies the z-order
  * write ([[Layout.zorderWrite]]).
  *
  * At 100 TB the scan IS the query: parquet prunes row groups inside a
  * file only after the task has been scheduled and the footer fetched,
  * so a 1M-file table still pays a task per file. The lakehouse answer
  * (Delta/Iceberg data skipping) moves min/max up a level: a manifest
  * TABLE holds per-file column ranges, the planner intersects the
  * predicate with the manifest (a scan of file-count-sized metadata,
  * not data), and only surviving files become tasks. Z-order makes the
  * ranges TIGHT in every interleaved dimension; this operator is what
  * cashes that in.
  *
  * Spark-first shape: the manifest is built from parquet FOOTERS alone —
  * a `mapPartitions` over the file LIST (the genuine per-partition
  * imperative case: footer I/O, no row data touched, cost ∝ files not
  * bytes) — and is itself a DataFrame, so candidate selection is a
  * declarative filter the optimizer handles like any other. The
  * candidate file list is collected to the driver: a deliberate,
  * bounded driver artifact of the same class as Delta's — file-count
  * sized, never row-count sized (1M files ≈ tens of MB of paths).
  *
  * Stats honesty: a column chunk without statistics keeps its file a
  * candidate (skipping must be sound, never lucky); a file whose chunks
  * are ALL nulls for a predicate column is skippable for any range
  * predicate (NULL satisfies no range). Row-group stats aggregate to
  * file grain by min-of-mins / max-of-maxs / sum-of-null-counts.
  */
object DataSkipping {

  /** Hadoop conf as a serializable bag (the task side rebuilds it):
    * Configuration itself is not serializable, and Spark's own wrapper
    * is private[spark].
    */
  private final class ConfBag(conf: Configuration) extends Serializable {
    private val props: Array[(String, String)] = {
      val it = conf.iterator()
      val b = Array.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); b += ((e.getKey, e.getValue)) }
      b.result()
    }
    @transient private lazy val rebuilt: Configuration = {
      val c = new Configuration(false)
      props.foreach { case (k, v) => c.set(k, v) }
      c
    }
    def value: Configuration = rebuilt
  }

  /** Data files of a parquet table directory, listed through the Hadoop
    * FileSystem of the path (works on any Spark-supported store, the
    * StreamingZorder lesson — java.io.File would silently see nothing
    * on HDFS/S3).
    */
  def listDataFiles(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString)
      .sorted
  }

  /** Manifest schema for `cols`: one row per file —
    * (file, n_rows, <c>_min, <c>_max, <c>_nulls per column), min/max
    * typed LONG for integral columns, DOUBLE for floating ones, STRING
    * for string columns and the column's own type for timestamp / date
    * columns, NULL when any chunk of the file lacks stats
    * (unknown ≠ skippable).
    */
  def manifestSchema(cols: Seq[(String, DataType)]): StructType =
    StructType(
      StructField("file", StringType, nullable = false) +:
      StructField("n_rows", LongType, nullable = false) +:
      cols.flatMap { case (c, t) =>
        Seq(StructField(s"${c}_min", t, nullable = true),
          StructField(s"${c}_max", t, nullable = true),
          StructField(s"${c}_nulls", LongType, nullable = true))
      })

  /** Per-file min/max/null-count manifest for `cols` (integral or
    * floating columns of the table at `dir`), from footers only. The
    * file list distributes over the cluster — at 1M files the footer
    * reads are the parallel work, and no task reads a data page.
    *
    * Schema comes from `mergeSchema=true` inference: default inference
    * reads ONE arbitrary footer, and on a schema-evolved table with
    * mixed batches that nondeterministically picks whichever batch's
    * schema wins (the x9_schema_evolution hazard, commit 1336373) —
    * the merged schema is the union, so every column any batch carries
    * resolves to its declared type and retyped chunks degrade honestly
    * in [[chunkStat]]. Caveat: Spark's merge does NOT widen CONFLICTING
    * primitive types (a long batch + a string batch on one name makes
    * the merge THROW), so [[inferredSchema]] falls back to one-footer
    * inference there — the pre-merge behavior, still sound because
    * [[chunkStat]]'s physical-type guards degrade mismatched chunks to
    * unknown. Callers that already KNOW the declared schema should use
    * [[statsManifestFiles]] and pass it.
    */
  def statsManifest(spark: SparkSession, dir: String, cols: Seq[String]): DataFrame =
    statsManifestFiles(spark, listDataFiles(spark, dir),
      inferredSchema(spark, dir), cols)

  /** Union-schema inference with the honest fallback: `mergeSchema=true`
    * when the batches merge, one-footer default inference when they
    * CONFLICT on a primitive type (Spark's StructType.merge throws
    * there — a retyped table must still get a manifest, just a
    * degraded-honest one instead of a crash).
    */
  private def inferredSchema(spark: SparkSession, dir: String): StructType =
    try spark.read.option("mergeSchema", "true").parquet(dir).schema
    catch {
      // ONLY the merge-conflict condition degrades to one-footer
      // inference: Spark wraps StructType.merge's type conflict as
      // CANNOT_MERGE_SCHEMAS (cause: CANNOT_MERGE_INCOMPATIBLE_DATA_TYPE).
      // Any other SparkException here (a task failure footer-reading a
      // partially corrupt table, an FS error) is a REAL read failure and
      // must surface, not silently produce a one-footer manifest.
      case e: org.apache.spark.SparkException if isSchemaMergeConflict(e) =>
        spark.read.parquet(dir).schema
    }

  /** True when the exception (or any cause within 8 links) carries the
    * schema-merge-conflict error condition.
    */
  private def isSchemaMergeConflict(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).exists {
      case st: org.apache.spark.SparkThrowable =>
        val c = st.getCondition
        c == "CANNOT_MERGE_SCHEMAS" || c == "CANNOT_MERGE_INCOMPATIBLE_DATA_TYPE"
      case _ => false
    }

  /** Manifest kinds resolved from the table schema (shared by the file
    * and row-group builders — ONE definition of what is manifest-able).
    */
  private def typedCols(schema: StructType, cols: Seq[String]): Seq[(String, DataType)] =
    cols.map { c =>
      schema(c).dataType match {
        case LongType | IntegerType | ShortType | ByteType => (c, LongType)
        case DoubleType | FloatType                        => (c, DoubleType)
        case StringType                                    => (c, StringType)
        case TimestampType                                 => (c, TimestampType)
        case TimestampNTZType                              => (c, TimestampNTZType)
        case DateType                                      => (c, DateType)
        case d: DecimalType                                => (c, d)
        case t => throw new IllegalArgumentException(
          s"DataSkipping.statsManifest: $c has unsupported type $t " +
            "(integral, floating, string, timestamp, date and decimal columns only)")
      }
    }

  // string stats live in BYTE space end to end: parquet orders UTF8
  // stats by unsigned lexicographic bytes — the SAME order Spark's
  // UTF8String comparisons use — while Java String.compareTo orders
  // by UTF-16 code unit (diverges above the BMP), so min-of-mins /
  // max-of-maxs must compare the raw bytes, not decoded Strings.
  // Truncated stats stay sound by parquet's own contract: a
  // truncated min is a PREFIX (≤ true min, valid lower bound) and a
  // truncated max is byte-incremented (≥ true max, valid upper
  // bound) — candidate selection only widens.
  private def ucmp(a: Array[Byte], b: Array[Byte]): Int =
    java.util.Arrays.compareUnsigned(a, b)

  // timestamp chunk bounds normalized to MICROS (the unit both
  // Spark timestamp types carry internally), read honestly from
  // the chunk's own logical annotation: MILLIS scale exactly,
  // NANOS floor the min / ceil the max (a widened interval is a
  // sound bound; a truncated one is not). INT96 — the deprecated
  // encoding with undefined stats ordering — and any non-timestamp
  // annotation degrade to unknown, never to a guess.
  private def tsMicrosBounds(
      cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
      lo: Long, hi: Long): Option[(Long, Long)] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val pt = cc.getPrimitiveType
    if (pt.getPrimitiveTypeName != PrimitiveTypeName.INT64) None
    else pt.getLogicalTypeAnnotation match {
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        t.getUnit match {
          case LogicalTypeAnnotation.TimeUnit.MILLIS =>
            Some((Math.multiplyExact(lo, 1000L), Math.multiplyExact(hi, 1000L)))
          case LogicalTypeAnnotation.TimeUnit.MICROS => Some((lo, hi))
          case LogicalTypeAnnotation.TimeUnit.NANOS =>
            Some((Math.floorDiv(lo, 1000L), -Math.floorDiv(-hi, 1000L)))
          case _ => None
        }
      case _ => None
    }
  }

  private def isDateChunk(
      cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData): Boolean = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val pt = cc.getPrimitiveType
    pt.getPrimitiveTypeName == PrimitiveTypeName.INT32 &&
      pt.getLogicalTypeAnnotation
        .isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation]
  }

  // DECIMAL chunk bounds as exact unscaled values at the TABLE
  // schema's scale, honestly per encoding: INT32/INT64 carry the
  // unscaled long directly, FLBA/BINARY the big-endian
  // two's-complement unscaled integer (the comparator parquet-mr
  // defines for decimal stats is SIGNED, matching). A chunk whose
  // own decimal annotation disagrees with the declared scale, or
  // whose precision exceeds it, degrades to unknown — a rescaled
  // bound would be a guess, and skipping must be sound, never
  // lucky.
  private def decBounds(
      cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
      dt: DecimalType): Option[(java.math.BigDecimal, java.math.BigDecimal)] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val pt = cc.getPrimitiveType
    pt.getLogicalTypeAnnotation match {
      case a: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation
          if a.getScale == dt.scale && a.getPrecision <= dt.precision =>
        val st = cc.getStatistics
        pt.getPrimitiveTypeName match {
          case INT32 | INT64 =>
            val lo = st.genericGetMin.asInstanceOf[Number].longValue()
            val hi = st.genericGetMax.asInstanceOf[Number].longValue()
            Some((java.math.BigDecimal.valueOf(lo, a.getScale),
              java.math.BigDecimal.valueOf(hi, a.getScale)))
          case FIXED_LEN_BYTE_ARRAY | BINARY =>
            val lo = new java.math.BigInteger(st.genericGetMin
              .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
            val hi = new java.math.BigInteger(st.genericGetMax
              .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
            Some((new java.math.BigDecimal(lo, a.getScale),
              new java.math.BigDecimal(hi, a.getScale)))
          case _ => None
        }
      case _ => None
    }
  }

  /** One column chunk's (min, max, nulls, statsKnown) in the manifest's
    * internal representation (Long / Double / Array[Byte] / BigDecimal
    * per kind; min/max null for an all-null chunk). `None` for the
    * chunk = absent column — unknown, never a guess. Shared by the
    * file-grain fold and the per-row-group rows, so the honesty rules
    * (missing stats, all-null counts, annotation mismatches) cannot
    * diverge between the two grains.
    */
  private def chunkStat(
      cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
      kind: DataType): (Any, Any, Long, Boolean) = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val st = cc.getStatistics
    // Every kind checks the chunk's PHYSICAL type before casting its
    // stats: a schema-evolved table can hold a retyped chunk (a string
    // batch under an integral declared schema, or vice versa) and the
    // soundness contract is DEGRADE to unknown, never throw mid-manifest
    // — the same posture tsMicrosBounds / isDateChunk / decBounds already
    // take for their annotations. DoubleType deliberately excludes
    // INT32/INT64 chunks: longValue→double rounds past 2^53, and a
    // rounded min can sit ABOVE the true min — an unsound bound.
    val phys = cc.getPrimitiveType.getPrimitiveTypeName
    if (st == null || !st.isNumNullsSet) (null, null, 0L, false)
    else if (st.getNumNulls == cc.getValueCount)
      (null, null, st.getNumNulls, true) // all-null chunk: count exact
    else if (!st.hasNonNullValue)
      (null, null, st.getNumNulls, false) // values exist, stats don't
    else kind match {
      case LongType if phys == INT32 || phys == INT64 =>
        (st.genericGetMin.asInstanceOf[Number].longValue(),
          st.genericGetMax.asInstanceOf[Number].longValue(), st.getNumNulls, true)
      case DoubleType if phys == FLOAT || phys == DOUBLE =>
        (st.genericGetMin.asInstanceOf[Number].doubleValue(),
          st.genericGetMax.asInstanceOf[Number].doubleValue(), st.getNumNulls, true)
      case TimestampType | TimestampNTZType if phys == INT64 =>
        tsMicrosBounds(cc,
          st.genericGetMin.asInstanceOf[Number].longValue(),
          st.genericGetMax.asInstanceOf[Number].longValue()) match {
          case None           => (null, null, st.getNumNulls, false)
          case Some((lo, hi)) => (lo, hi, st.getNumNulls, true)
        }
      case DateType if isDateChunk(cc) =>
        (st.genericGetMin.asInstanceOf[Number].longValue(),
          st.genericGetMax.asInstanceOf[Number].longValue(), st.getNumNulls, true)
      case dt: DecimalType =>
        decBounds(cc, dt) match {
          case None           => (null, null, st.getNumNulls, false)
          case Some((lo, hi)) => (lo, hi, st.getNumNulls, true)
        }
      case StringType if phys == BINARY || phys == FIXED_LEN_BYTE_ARRAY =>
        (st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes,
          st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes,
          st.getNumNulls, true)
      case _ => // physical/declared mismatch (retyped chunk): unknown
        (null, null, st.getNumNulls, false)
    }
  }

  /** Merge a chunk's stat into a running accumulator of the same kind:
    * min-of-mins / max-of-maxs / sum nulls / AND statsKnown.
    */
  private def mergeStat(kind: DataType, acc: (Any, Any, Long, Boolean),
                        add: (Any, Any, Long, Boolean)): (Any, Any, Long, Boolean) = {
    val (mn, mx, nu, ok) = acc
    val (lo, hi, anu, aok) = add
    val nulls = nu + anu
    val known = ok && aok
    if (lo == null) (mn, mx, nulls, known)
    else {
      val nmn: Any =
        if (mn == null) lo
        else kind match {
          case LongType | TimestampType | TimestampNTZType | DateType =>
            math.min(mn.asInstanceOf[Long], lo.asInstanceOf[Long])
          case DoubleType => math.min(mn.asInstanceOf[Double], lo.asInstanceOf[Double])
          case _: DecimalType =>
            if (lo.asInstanceOf[java.math.BigDecimal]
                .compareTo(mn.asInstanceOf[java.math.BigDecimal]) < 0) lo else mn
          case _ =>
            if (ucmp(lo.asInstanceOf[Array[Byte]], mn.asInstanceOf[Array[Byte]]) < 0) lo else mn
        }
      val nmx: Any =
        if (mx == null) hi
        else kind match {
          case LongType | TimestampType | TimestampNTZType | DateType =>
            math.max(mx.asInstanceOf[Long], hi.asInstanceOf[Long])
          case DoubleType => math.max(mx.asInstanceOf[Double], hi.asInstanceOf[Double])
          case _: DecimalType =>
            if (hi.asInstanceOf[java.math.BigDecimal]
                .compareTo(mx.asInstanceOf[java.math.BigDecimal]) > 0) hi else mx
          case _ =>
            if (ucmp(hi.asInstanceOf[Array[Byte]], mx.asInstanceOf[Array[Byte]]) > 0) hi else mx
        }
      (nmn, nmx, nulls, known)
    }
  }

  /** One column's accumulated stat formatted for the output Row:
    * (min, max, nulls) in manifest-schema types, all-null triple when
    * stats are unknown. String bounds must round-trip UTF-8 exactly —
    * an incremented truncated max can land outside valid UTF-8, and
    * decoding with replacement chars could REORDER it below the true
    * max (EF BF BD sorts under high bytes) — unsound — so a
    * non-round-tripping bound degrades to unknown (sound, never lucky).
    */
  private def formatStat(kind: DataType, s: (Any, Any, Long, Boolean)): Seq[Any] = {
    val (mn, mx, nu, ok) = s
    def usMicros(v: Any): java.time.Instant = {
      val us = v.asInstanceOf[Long]
      java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
        Math.floorMod(us, 1000000L) * 1000L)
    }
    if (!ok) Seq(null, null, null)
    else if (mn == null) Seq(mn, mx, nu)
    else if (kind == TimestampType) Seq(usMicros(mn), usMicros(mx), nu)
    else if (kind == TimestampNTZType)
      Seq(java.time.LocalDateTime.ofInstant(usMicros(mn), java.time.ZoneOffset.UTC),
        java.time.LocalDateTime.ofInstant(usMicros(mx), java.time.ZoneOffset.UTC), nu)
    else if (kind == DateType)
      Seq(java.time.LocalDate.ofEpochDay(mn.asInstanceOf[Long]),
        java.time.LocalDate.ofEpochDay(mx.asInstanceOf[Long]), nu)
    else if (kind != StringType) Seq(mn, mx, nu)
    else {
      val cs = java.nio.charset.StandardCharsets.UTF_8
      val mnB = mn.asInstanceOf[Array[Byte]]
      val mxB = mx.asInstanceOf[Array[Byte]]
      val mnS = new String(mnB, cs); val mxS = new String(mxB, cs)
      if (java.util.Arrays.equals(mnS.getBytes(cs), mnB) &&
          java.util.Arrays.equals(mxS.getBytes(cs), mxB))
        Seq(mnS, mxS, nu)
      else Seq(null, null, null)
    }
  }

  /** Per-block stat array for the requested columns (absent column →
    * unknown).
    */
  private def blockStats(b: org.apache.parquet.hadoop.metadata.BlockMetaData,
                         typed: Seq[(String, DataType)]): Array[(Any, Any, Long, Boolean)] = {
    val byName = {
      val m = scala.collection.mutable.HashMap
        .empty[String, org.apache.parquet.hadoop.metadata.ColumnChunkMetaData]
      val ci = b.getColumns.iterator()
      while (ci.hasNext) { val cc = ci.next(); m(cc.getPath.toDotString) = cc }
      m
    }
    typed.map { case (c, kind) =>
      byName.get(c) match {
        case Some(cc) => chunkStat(cc, kind)
        case None     => (null: Any, null: Any, 0L, false)
      }
    }.toArray
  }

  /** [[statsManifest]] over an EXPLICIT file list — the incremental
    * maintenance path: after an append, harvest footers for the NEW
    * files only and union with the stored manifest; per-file rows are
    * independent, so incremental ≡ full rebuild row-for-row (the
    * `x9_manifest_incremental` gate) and history is never re-listed at
    * manifest-build cost (the a2_incremental_rollup discipline applied
    * to table METADATA).
    */
  def statsManifestFiles(spark: SparkSession, files: Seq[String],
                         schema: StructType, cols: Seq[String]): DataFrame = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val typed = typedCols(schema, cols)
    val out = manifestSchema(typed)
    val bag = new ConfBag(spark.sessionState.newHadoopConf())
    val parallelism = math.max(1, math.min(files.size, 32))
    val rows = spark.sparkContext
      .parallelize(files, parallelism)
      .mapPartitions { paths =>
        val conf = bag.value
        paths.map { f =>
          val reader = ParquetFileReader.open(
            HadoopInputFile.fromPath(new Path(f), conf))
          try {
            val blocks = reader.getFooter.getBlocks
            var nRows = 0L
            // per requested column: (min, max, nulls, statsKnown) — the
            // file row is the fold of its blocks' chunk stats
            val acc = Array.fill[(Any, Any, Long, Boolean)](typed.size)((null, null, 0L, true))
            val it = blocks.iterator()
            while (it.hasNext) {
              val b = it.next()
              nRows += b.getRowCount
              val bs = blockStats(b, typed)
              typed.indices.foreach { i =>
                acc(i) = mergeStat(typed(i)._2, acc(i), bs(i))
              }
            }
            val fields: Seq[Any] = f +: nRows +: typed.zipWithIndex.flatMap {
              case ((_, kind), i) => formatStat(kind, acc(i))
            }
            Row.fromSeq(fields)
          } finally reader.close()
        }
      }
    spark.createDataFrame(rows, out)
  }

  /** Manifest schema one level DOWN: one row per (file, row group). */
  def rowGroupManifestSchema(cols: Seq[(String, DataType)]): StructType =
    StructType(
      StructField("file", StringType, nullable = false) +:
      StructField("row_group", LongType, nullable = false) +:
      StructField("n_rows", LongType, nullable = false) +:
      cols.flatMap { case (c, t) =>
        Seq(StructField(s"${c}_min", t, nullable = true),
          StructField(s"${c}_max", t, nullable = true),
          StructField(s"${c}_nulls", LongType, nullable = true))
      })

  /** Per-ROW-GROUP min/max/null-count manifest — [[statsManifest]] one
    * level down, from the same footers at the same cost (footer I/O is
    * per FILE; the blocks are already in it). Why the level matters at
    * 100 TB: compaction ([[Compaction]]) pushes file sizes UP — a 1 GB
    * compacted file with one hot row group is fully scheduled under
    * file-grain stats, and parquet prunes its row groups only after the
    * task launched and fetched the footer. Per-row-group manifest rows
    * price the predicate at the grain the reader actually skips:
    * [[candidateFiles]] / [[candidateFilesAny]] / [[nullCandidates]]
    * work on this frame unchanged (same stats columns), a file is
    * opened only when ≥ 1 of ITS row groups survives (strictly stronger
    * than the file-grain test: a file's range is the UNION of its row
    * groups' ranges, so a box can overlap the file while missing every
    * row group — the band-gap case), and [[metadataBoxCountRg]] counts
    * provably-interior row groups from metadata without scanning their
    * files. File-grain rows remain derivable exactly: fold rows per
    * file with min/max/sum — [[chunkStat]]/[[mergeStat]] are shared, so
    * the two grains cannot disagree on honesty rules.
    */
  def rowGroupManifest(spark: SparkSession, dir: String, cols: Seq[String]): DataFrame =
    // inferredSchema for the same reason as [[statsManifest]]: one
    // arbitrary footer must not pick the declared types on an evolved
    // table (and a retype-CONFLICTED table must degrade, not throw);
    // pass an explicit schema via [[rowGroupManifestFiles]] when the
    // caller knows it.
    rowGroupManifestFiles(spark, listDataFiles(spark, dir),
      inferredSchema(spark, dir), cols)

  /** [[rowGroupManifest]] over an explicit file list (the incremental
    * leg, same contract as [[statsManifestFiles]]).
    */
  def rowGroupManifestFiles(spark: SparkSession, files: Seq[String],
                            schema: StructType, cols: Seq[String]): DataFrame = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val typed = typedCols(schema, cols)
    val out = rowGroupManifestSchema(typed)
    val bag = new ConfBag(spark.sessionState.newHadoopConf())
    val parallelism = math.max(1, math.min(files.size, 32))
    val rows = spark.sparkContext
      .parallelize(files, parallelism)
      .mapPartitions { paths =>
        val conf = bag.value
        paths.flatMap { f =>
          val reader = ParquetFileReader.open(
            HadoopInputFile.fromPath(new Path(f), conf))
          try {
            val blocks = reader.getFooter.getBlocks
            val b = Seq.newBuilder[Row]
            val it = blocks.iterator()
            var ordinal = 0L
            while (it.hasNext) {
              val blk = it.next()
              val bs = blockStats(blk, typed)
              val fields: Seq[Any] = f +: ordinal +: blk.getRowCount +:
                typed.zipWithIndex.flatMap { case ((_, kind), i) =>
                  formatStat(kind, bs(i))
                }
              b += Row.fromSeq(fields)
              ordinal += 1L
            }
            b.result()
          } finally reader.close()
        }
      }
    spark.createDataFrame(rows, out)
  }

  /** Expected row-group survivors of a range predicate, per file:
    * (file, rgs_total, rgs_candidate, rows_total, rows_candidate) —
    * the accounting [[prunedRead]] callers use to report scan work at
    * the grain the reader skips. A file with `rgs_candidate = 0` is
    * provably dead for the predicate even when its FILE-grain range
    * overlaps (the band-gap case).
    */
  def rowGroupSurvivors(rgManifest: DataFrame, ranges: Seq[Range]): DataFrame = {
    require(ranges.nonEmpty, "rowGroupSurvivors: at least one range")
    val keep = ranges.map(rangeKeep).reduce(_ && _)
    rgManifest.groupBy("file").agg(
      count(lit(1)).as("rgs_total"),
      sum(when(keep, 1L).otherwise(0L)).as("rgs_candidate"),
      sum(col("n_rows")).as("rows_total"),
      sum(when(keep, col("n_rows")).otherwise(0L)).as("rows_candidate"))
  }

  /** [[metadataBoxCount]] at ROW-GROUP grain: candidate row groups
    * split into INTERIOR (provably all-inside — counted from the
    * manifest) and BOUNDARY; a file is scanned only when it has ≥ 1
    * boundary row group, and then the WHOLE file is scanned with the
    * row filter (so its interior row groups contribute nothing to the
    * metadata count — no double counting; parquet's own row-group
    * pruning still skips its dead groups at read time). Files whose
    * candidate row groups are ALL interior count purely from metadata —
    * including interior∪dead mixtures the file-grain split must scan.
    * One row: (n_rows, n_rows_from_metadata, n_files_scanned,
    * n_files_total, n_rgs_candidate, n_rgs_total).
    */
  def metadataBoxCountRg(spark: SparkSession, dir: String, rgManifest: DataFrame,
                         ranges: Seq[Range], rowFilter: Column): DataFrame = {
    val keep = ranges.map(rangeKeep).reduce(_ && _)
    val isIn = interiorPredicate(ranges)
    val perFile = rgManifest.groupBy("file").agg(
      sum(when(keep && isIn, col("n_rows")).otherwise(0L)).as("__interior_rows"),
      sum(when(keep && !coalesce(isIn, lit(false)), 1L).otherwise(0L)).as("__boundary"),
      sum(when(keep, 1L).otherwise(0L)).as("__cand"),
      count(lit(1)).as("__rgs"))
    val scanned = perFile.where(col("__boundary") > 0L).select(col("file"))
    val metaCount = perFile.where(col("__boundary") === 0L)
      .agg(coalesce(sum(col("__interior_rows")), lit(0L)).as("n_rows_from_metadata"))
    val scanCount = prunedRead(spark, dir, scanned).where(rowFilter)
      .agg(count(lit(1)).as("__n_scan"))
    val files = perFile.agg(
      sum(when(col("__boundary") > 0L, 1L).otherwise(0L)).as("n_files_scanned"),
      count(lit(1)).as("n_files_total"),
      sum(col("__cand")).as("n_rgs_candidate"),
      sum(col("__rgs")).as("n_rgs_total"))
    metaCount.crossJoin(scanCount).crossJoin(files)
      .select((col("n_rows_from_metadata") + col("__n_scan")).as("n_rows"),
        col("n_rows_from_metadata"), col("n_files_scanned"),
        col("n_files_total"), col("n_rgs_candidate"), col("n_rgs_total"))
  }

  /** Manifest of a COMPACTED table derived from the SOURCE manifest and
    * the compaction plan alone — ZERO footer reads: a bin's rows are
    * exactly the union of its input files' rows
    * ([[Compaction.compact]]'s contract), so per-column mins take
    * min-of-mins, maxes max-of-maxes, null counts sum, and row counts
    * sum. Soundness composes: an input file with UNKNOWN stats for a
    * column makes its whole bin unknown for that column (never a
    * narrowed guess); all-null inputs contribute their exact null
    * counts and no bounds — exactly the footer-read semantics. The
    * payoff at 100 TB: compaction cadence never forces a manifest
    * rebuild scan — table metadata maintains at METADATA cost, the
    * `x9_manifest_incremental` discipline extended from appends to
    * rewrites.
    *
    * `plan` is the (file, bytes, bin) frame the compaction ran;
    * `binFiles` maps bin → output file (one per bin, see
    * [[compactedFiles]]). Join is on the full listing-form path both
    * frames carry.
    */
  def manifestAfterCompaction(manifest: DataFrame, plan: DataFrame,
                              binFiles: DataFrame): DataFrame = {
    val statCols = manifest.columns.filter(_.endsWith("_min"))
      .map(_.stripSuffix("_min")).toSeq
    // coverage is a REQUIREMENT, not a best effort: a planned file absent
    // from the source manifest would silently NARROW its bin's folded
    // bounds (and undercount its rows) — the one way this layer could
    // lose rows. Refuse loudly; the caller harvests the missing footers
    // (or rebuilds) instead. Planned-but-unmanifested files happen when
    // the manifest predates an append the compaction saw.
    val uncovered = plan.select(col("file"))
      .join(manifest.select(col("file")), Seq("file"), "left_anti").count()
    require(uncovered == 0L,
      s"manifestAfterCompaction: $uncovered planned file(s) missing from the " +
        "source manifest — folding would produce narrowed (unsound) bounds; " +
        "harvest the missing files first (statsManifestFiles) or rebuild")
    val joined = manifest.join(plan.select(col("file"), col("bin")), Seq("file"))
    val aggs = sum(col("n_rows")).as("n_rows") +: statCols.flatMap { c =>
      val unknown = max(when(col(s"${c}_nulls").isNull, 1).otherwise(0)) === 1
      def t(s: String) = manifest.schema(s"${c}_$s").dataType
      Seq(
        when(unknown, lit(null).cast(t("min")))
          .otherwise(min(col(s"${c}_min"))).as(s"${c}_min"),
        when(unknown, lit(null).cast(t("max")))
          .otherwise(max(col(s"${c}_max"))).as(s"${c}_max"),
        when(unknown, lit(null).cast(LongType))
          .otherwise(sum(col(s"${c}_nulls"))).as(s"${c}_nulls"))
    }
    joined.groupBy("bin").agg(aggs.head, aggs.tail: _*)
      .join(binFiles, Seq("bin"))
      .select(col("file") +: col("n_rows") +: statCols.flatMap(c =>
        Seq(col(s"${c}_min"), col(s"${c}_max"), col(s"${c}_nulls"))): _*)
  }

  /** (bin, file) for a [[Compaction.compact]] output directory: one
    * parquet file per `bin=K/` partition dir, listed through the
    * path's own FileSystem.
    */
  def compactedFiles(spark: SparkSession, outDir: String): DataFrame = {
    val p = new Path(outDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val rows = fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bin="))
      .flatMap { d =>
        val bin = d.getPath.getName.stripPrefix("bin=").toLong
        fs.listStatus(d.getPath).toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .map(f => Row(bin, f.getPath.toString))
      }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("bin", LongType, nullable = false),
        StructField("file", StringType, nullable = false))))
  }

  /** The [[bloomIndex]] of a compacted table derived from the SOURCE
    * index and the plan alone — the equality modality's
    * [[manifestAfterCompaction]]: the Bloom of a union of key sets is
    * exactly the bitwise OR of the sets' Blooms
    * ([[graft.functions.BloomMergeAgg]]), and a rebuild over the merged
    * files inserts the same keys into the same geometry — so the
    * derived artifact is BIT-IDENTICAL to a re-scan rebuild, for zero
    * data reads. All input filters must share build geometry
    * (one `expectedItemsPerFile`/fpp per index, the [[bloomIndex]]
    * contract); the recorded key hash class rides through unchanged.
    */
  def bloomIndexAfterCompaction(index: DataFrame, plan: DataFrame,
                                binFiles: DataFrame): DataFrame = {
    // join on the CANONICAL full path — scheme/authority stripped, which
    // reconciles input_file_name's URI form (file:/...) with the
    // FileSystem listing's (file:///...) while keeping the directory
    // part. A basename join would silently fan rows across bins whenever
    // two listed files share a basename (files imported/copied in, or a
    // non-Spark writer without per-job UUIDs): folded Blooms would absorb
    // other bins' keys and n_rows would double count, with both coverage
    // guards still passing.
    def canon(c: Column) = canonicalPath(c)
    // coverage required, same as manifestAfterCompaction — and stricter in
    // consequence: a Bloom folded without one input's filter yields false
    // NEGATIVES (dropped files on lookups), and there is no "unknown"
    // state a Bloom row can degrade to
    val uncovered = plan.select(canon(col("file")).as("__f"))
      .join(index.select(canon(col("file")).as("__f")), Seq("__f"), "left_anti")
      .count()
    require(uncovered == 0L,
      s"bloomIndexAfterCompaction: $uncovered planned file(s) missing from the " +
        "source index — a folded Bloom missing keys gives false negatives; " +
        "rebuild the index for the missing files first")
    val joined = index.withColumn("__f", canon(col("file")))
      .join(plan.select(canon(col("file")).as("__f"), col("bin")), Seq("__f"))
    val withCls = index.columns.contains("key_class")
    val merged = joined.groupBy("bin")
      .agg(call_function("graft_bloom_merge", col("bloom")).as("bloom"),
        sum(col("n_rows")).as("n_rows"))
    val relabeled = merged.join(binFiles, Seq("bin"))
      .select(col("file"), col("bloom"), col("n_rows"))
    if (!withCls) relabeled
    else relabeled.crossJoin(
      broadcast(index.select(col("key_class")).limit(1)))
  }

  /** A path column normalized to its scheme-and-authority-free form
    * (`file:/t/x`, `file:///t/x`, `hdfs://nn:8020/t/x` all → `/t/x`) —
    * the join-key form that reconciles `input_file_name()` URIs with
    * Hadoop listing paths without collapsing distinct files the way a
    * basename join does. Within one table both sides name files of the
    * same store, so dropping the authority cannot alias two files.
    */
  def canonicalPath(c: Column): Column =
    regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*:(//[^/]*)?", "")

  /** One inclusive range predicate against manifest stats columns. */
  final case class Range(column: String, lo: Column, hi: Column)

  def longRange(column: String, lo: Long, hi: Long): Range =
    Range(column, lit(lo), lit(hi))

  /** Inclusive string range — ISO dates, id prefixes, enum keys: the
    * predicate columns real tables prune on first. Spark compares strings
    * by UTF-8 bytes (UTF8String), the same unsigned lexicographic order
    * parquet UTF8 stats use, so manifest interval tests are exact.
    */
  def stringRange(column: String, lo: String, hi: String): Range =
    Range(column, lit(lo), lit(hi))

  /** Inclusive time-box range for a TimestampType manifest column (the
    * "last N days" partition-pruning modality, without partitioning the
    * table by date). Manifest bounds are stored at MICROS grain, so the
    * interval test is exact for Spark-written data.
    */
  def timestampRange(column: String, lo: java.time.Instant, hi: java.time.Instant): Range =
    Range(column, lit(lo), lit(hi))

  /** Inclusive time-box range for a TimestampNTZType manifest column. */
  def timestampNtzRange(column: String, lo: java.time.LocalDateTime,
                        hi: java.time.LocalDateTime): Range =
    Range(column, lit(lo), lit(hi))

  /** Inclusive date range for a DateType manifest column. */
  def dateRange(column: String, lo: java.time.LocalDate, hi: java.time.LocalDate): Range =
    Range(column, lit(lo), lit(hi))

  /** Inclusive range for a DecimalType manifest column (prices, money
    * measures — the columns financial tables cluster and prune on).
    * Manifest bounds are exact unscaled values at the column's own
    * scale, so the interval test is exact.
    */
  def decimalRange(column: String, lo: java.math.BigDecimal,
                   hi: java.math.BigDecimal): Range =
    Range(column, lit(lo), lit(hi))

  /** The per-range candidate test: known stats → interval overlap;
    * unknown stats → candidate (sound, not lucky) unless the null count
    * proves the file all-null for the column.
    */
  private def rangeKeep(r: Range): Column = {
    val mn = col(s"${r.column}_min"); val mx = col(s"${r.column}_max")
    val nu = col(s"${r.column}_nulls")
    when(mn.isNotNull && mx.isNotNull, mx >= r.lo && mn <= r.hi)
      .when(nu.isNotNull && nu === col("n_rows"), lit(false))
      .otherwise(lit(true))
  }

  /** Manifest rows whose files COULD hold a row satisfying every range:
    * known stats → interval overlap; unknown stats → candidate (sound,
    * not lucky) unless the null count proves the file all-null for the
    * column (NULL satisfies no range predicate).
    */
  def candidateFiles(manifest: DataFrame, ranges: Seq[Range]): DataFrame = {
    require(ranges.nonEmpty, "candidateFiles: at least one range")
    manifest.where(ranges.map(rangeKeep).reduce(_ && _))
  }

  /** Files that could hold a row satisfying ANY range — the IN-list /
    * OR-of-boxes modality (`key IN (...)` prunes as the union of point
    * intervals; a disjunction of date windows prunes as the union of
    * boxes). Same per-range soundness as [[candidateFiles]]; the two
    * compose by chaining for predicates of the form AND-of-ORs. For
    * hundreds of point keys on a scattered column prefer the Bloom
    * index ([[candidateFilesByKey]]) — min/max unions stop cutting once
    * the points blanket every file's range.
    */
  def candidateFilesAny(manifest: DataFrame, ranges: Seq[Range]): DataFrame = {
    require(ranges.nonEmpty, "candidateFilesAny: at least one range")
    manifest.where(ranges.map(rangeKeep).reduce(_ || _))
  }

  /** Files that could hold a row where `column IS NULL` (`wantNull =
    * true`) or `column IS NOT NULL` — the NULL modality of skipping,
    * served from the null counts the manifest already carries (Delta
    * tracks nullCount for exactly this). A known count proves absence
    * EXACTLY — zero nulls has nothing for IS NULL, nulls == n_rows has
    * nothing for IS NOT NULL — so unlike min/max this modality never
    * widens; an unknown count keeps the file (sound, never lucky).
    * Composes with [[candidateFiles]] by chaining: both filter manifest
    * rows.
    */
  def nullCandidates(manifest: DataFrame, column: String, wantNull: Boolean): DataFrame = {
    val nu = col(s"${column}_nulls")
    manifest.where(
      if (wantNull) nu.isNull || nu > lit(0L)
      else nu.isNull || nu < col("n_rows"))
  }

  /** Proof that every row of a file satisfies every range: min/max both
    * inside the interval and ZERO nulls on each predicate column (a
    * null row would be inside the file but outside the box). Interior
    * files contribute to box aggregates straight from the manifest —
    * no task, no I/O.
    */
  private def interiorPredicate(ranges: Seq[Range]): Column =
    ranges.map { r =>
      val mn = col(s"${r.column}_min"); val mx = col(s"${r.column}_max")
      val nu = col(s"${r.column}_nulls")
      mn.isNotNull && mx.isNotNull && nu.isNotNull &&
        mn >= r.lo && mx <= r.hi && nu === lit(0L)
    }.reduce(_ && _)

  /** Box row-count answered the metadata-first way (the Delta/Iceberg
    * "metadata-only query" pattern): candidate files split into
    * INTERIOR (provably all-inside — counted from the manifest, never
    * opened) and BOUNDARY (scanned with the row filter). At 100 TB a
    * large box is mostly interior — the scan cost is the box's SURFACE,
    * not its volume. One row:
    * (n_rows, n_rows_from_metadata, n_files_scanned, n_files_total).
    * `rowFilter` must be the row-level equivalent of `ranges`.
    */
  def metadataBoxCount(spark: SparkSession, dir: String, manifest: DataFrame,
                       ranges: Seq[Range], rowFilter: Column): DataFrame = {
    val cand = candidateFiles(manifest, ranges)
    val isIn = interiorPredicate(ranges)
    val interior = cand.where(isIn)
    val boundary = cand.where(!coalesce(isIn, lit(false)))
    val metaCount = interior.agg(
      coalesce(sum(col("n_rows")), lit(0L)).as("n_rows_from_metadata"))
    val scanCount = prunedRead(spark, dir, boundary).where(rowFilter)
      .agg(count(lit(1)).as("__n_scan"))
    val files = boundary.agg(count(lit(1)).as("n_files_scanned"))
      .crossJoin(manifest.agg(count(lit(1)).as("n_files_total")))
    metaCount.crossJoin(scanCount).crossJoin(files)
      .select((col("n_rows_from_metadata") + col("__n_scan")).as("n_rows"),
        col("n_rows_from_metadata"), col("n_files_scanned"),
        col("n_files_total"))
  }

  /** Per-file Bloom index over `keyCol` — the EQUALITY modality of data
    * skipping (min/max is blind for point predicates on columns the
    * layout scatters: a z-order on (user, ts) leaves every file's
    * event-id range near-full-width, so a point lookup reads the whole
    * table on range stats alone). One column-pruned scan builds a
    * distributed Bloom per file ([[graft.functions.BloomBuildAgg]]
    * grouped by `input_file_name`); the index is a bounded artifact —
    * ~1.2 KB per 1k keys at fpp 1% — persisted/refreshed alongside the
    * stats manifest. Write-time cost class: the OPTIMIZE job that lays
    * the files out already scans them.
    *
    * Output: (file, n_rows, bloom), `file` in the reader's own URI form
    * so candidates feed [[prunedRead]] directly.
    */
  def bloomIndex(spark: SparkSession, dir: String, keyCol: String,
                 expectedItemsPerFile: Long, fpp: Double = 0.01): DataFrame = {
    val table = spark.read.parquet(dir)
    val cls = bloomHashClass(table.schema(keyCol).dataType)
    table
      .select(input_file_name().as("file"), col(keyCol))
      .groupBy("file")
      .agg(call_function("graft_bloom_agg", col(keyCol),
        lit(expectedItemsPerFile), lit(fpp)).as("bloom"),
        count(col(keyCol)).as("n_rows"))
      .withColumn("key_class", lit(cls))
  }

  /** Hash class of a key type in the Bloom build/probe expressions
    * (int/long via putLong, everything else via its string form) —
    * recorded in the index so a probe in the WRONG class (a string probe
    * of a long-built index, say) is rejected instead of unsoundly
    * skipping the file that actually holds the key.
    */
  private def bloomHashClass(dt: DataType): String =
    graft.functions.BloomHashClass.of(dt)

  /** Files that might contain `key`: false positives only (fpp per
    * file), never false negatives — the sound-skipping contract again.
    * The probe key's hash class is validated against the class recorded
    * at index build (a mismatch hashes into unrelated bits — false
    * negatives, unsound skipping) — in-plan via `raise_error`, so
    * laziness is preserved and legacy indexes without the column pass
    * unchecked as before.
    */
  def candidateFilesByKey(index: DataFrame, key: Column): DataFrame = {
    val probeCls = bloomHashClass(index.select(key.as("__k")).schema.head.dataType)
    val checked =
      if (!index.columns.contains("key_class")) index
      else index.where(
        when(col("key_class") === lit(probeCls), lit(true))
          .otherwise(raise_error(concat(
            lit(s"candidateFilesByKey: probe key hashes as '$probeCls' but the " +
              "index was built over a '"), col("key_class"),
            lit("' column — cross-class probes are unsound (false negatives); " +
              "cast the probe key to the indexed column's type")))))
    checked.where(call_function("graft_bloom_contains", col("bloom"), key))
  }

  /** Read only the candidate files (driver-side bounded file list — the
    * Delta-manifest class of artifact), with the row-level filter still
    * applied by the caller: skipping prunes FILES, the predicate prunes
    * rows, and parquet row-group pruning still applies inside survivors.
    * An empty candidate set short-circuits to an empty frame of the
    * table's schema.
    *
    * Driver-memory bound, stated: the collected list is CANDIDATE paths
    * only — ~100 bytes each, so even the degenerate no-pruning case on a
    * 1M-file / 100 TB table is ~100 MB transient driver heap, the same
    * class as Delta's planning-time file list (and a selective predicate
    * collects far fewer). The per-file manifest/Bloom artifacts
    * themselves never collect — candidate selection runs distributed;
    * only the surviving paths land on the driver, because
    * `DataFrameReader.parquet(paths*)` is itself a driver-side API.
    */
  def prunedRead(spark: SparkSession, dir: String, candidates: DataFrame): DataFrame = {
    val files = candidates.select(col("file")).collect().map(_.getString(0))
    val schema = spark.read.parquet(dir).schema
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema).parquet(files.toIndexedSeq: _*)
  }
}
