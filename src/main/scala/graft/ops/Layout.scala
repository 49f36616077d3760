package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical file-layout optimization: Z-ORDER clustering for multi-column
  * data skipping.
  *
  * At 100 TB the dominant cost of a selective query is row groups the scan
  * cannot prune. Sorting the table clusters ONE column's min/max stats;
  * a query filtering the other column reads everything. Interleaving the
  * bits of both columns' ranks (the Z-/Morton curve, Orenstein & Merrett
  * PODS'84 — the same layout Delta/Iceberg expose as OPTIMIZE ZORDER BY)
  * gives every row group a bounded range in EVERY interleaved dimension,
  * so parquet min/max pruning works for predicates on any of them.
  *
  * Spark-first shape: the z-value is a pure per-row projection (shift/and
  * arithmetic — whole-stage codegen, no UDF); the layout write is
  * `repartitionByRange(zval)` + `sortWithinPartitions(zval)` — ONE range
  * exchange, the same cost class as any global sort, paid once at write
  * time and amortized over every scan thereafter.
  *
  * Determinism: ranks are exact-integer range scaling from the TRUE
  * per-column min/max (one broadcast one-row aggregate — no sampling), so
  * the z-value is a pure function of the data and replays in any engine:
  * rank = ((v − min) · (2^bits − 1)) div (max − min), bit interleave =
  * a fixed fold of shift/mask terms.
  */
object Layout {

  /** Bits per dimension in the z-value. 21 bits × 2 dims = 42-bit codes;
    * scale products stay < 2^63 for any realistic id/epoch-ms range.
    */
  val ZBits = 21

  /** Exact-integer rank of column `v` in [0, 2^bits) given inclusive
    * bound columns: ((v − min)·(2^bits − 1)) div (max − min); degenerate
    * (min = max) columns rank 0. Integer `div` floors identically in
    * Spark and DuckDB for non-negative operands. Operands are plain
    * column NAMES so the expression parses verbatim in both engines.
    *
    * A column spanning ≥ 2^(63−bits) (≈ 2^42 at the default 21 bits —
    * e.g. hash-derived 64-bit ids) would silently WRAP the Long product
    * in non-ANSI Spark while the DuckDB twin raises; the guard turns that
    * cross-engine divergence into an in-plan error telling the caller to
    * pre-scale (v div k) or hash-bucket the column first.
    */
  def rank(v: String, minV: String, maxV: String, bits: Int = ZBits): Column = {
    val maxSpan = 1L << (63 - bits) // (span)·(2^bits−1) < 2^63 ⇔ span < 2^(63−bits)
    // The span via try_subtract: a raw `-` over a column range >= 2^63 (the
    // full-width hash-id case) wraps negative in non-ANSI mode and throws an
    // opaque ARITHMETIC_OVERFLOW in ANSI mode — either way the >= maxSpan
    // product guard below never sees it. try_subtract returns NULL on
    // overflow in BOTH modes (min/max aggregates guarantee a true span is
    // representable-or-overflowed, never legitimately negative), so NULL or
    // negative here proves the subtraction itself overflowed.
    val span = try_subtract(col(maxV), col(minV))
    when(col(maxV) === col(minV), lit(0L))
      .when(span.isNull || span < 0L,
        raise_error(concat(
          lit(s"Layout.rank($v): column range exceeds 2^63 (span subtraction " +
            "overflowed); pre-scale or hash-bucket the column"))).cast("long"))
      .when(span >= maxSpan,
        raise_error(concat(
          lit(s"Layout.rank($v): column span "), span.cast("string"),
          lit(s" >= 2^${63 - bits} would overflow the Long rank product; " +
            "pre-scale or hash-bucket the column"))).cast("long"))
      .otherwise(expr(s"(($v - $minV) * ${(1L << bits) - 1}) div ($maxV - $minV)"))
  }

  /** Interleave two `bits`-wide ranks into one z-value: bit i of `a` lands
    * at position 2i, bit i of `b` at 2i+1. A fixed fold of codegen'd
    * shift/mask terms — no lambda, no UDF.
    */
  def interleave(a: Column, b: Column, bits: Int = ZBits): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(1L), 2 * i) +
        shiftleft(shiftright(b, i).bitwiseAND(1L), 2 * i + 1)
    }.reduce(_ + _)

  /** The z-value projection over two long columns with bounds taken from
    * ONE broadcast one-row aggregate of the input (deterministic — no
    * sampling). Output: the input columns plus `zval`.
    */
  def withZValue(df: DataFrame, aCol: String, bCol: String,
                 bits: Int = ZBits): DataFrame = {
    val bounds = broadcast(df.agg(
      min(col(aCol)).as("__amin"), max(col(aCol)).as("__amax"),
      min(col(bCol)).as("__bmin"), max(col(bCol)).as("__bmax")))
    df.crossJoin(bounds)
      .withColumn("zval", interleave(
        rank(aCol, "__amin", "__amax", bits),
        rank(bCol, "__bmin", "__bmax", bits), bits))
      .drop("__amin", "__amax", "__bmin", "__bmax")
  }

  /** Write `df` z-order-clustered on (aCol, bCol): one range exchange on
    * the z-value, sorted within partitions so parquet row-group min/max
    * stats are tight on BOTH dimensions. `numFiles` controls output file
    * count (a real table would target the cluster's preferred file size).
    */
  def zorderWrite(df: DataFrame, aCol: String, bCol: String, path: String,
                  numFiles: Int, bits: Int = ZBits): Unit =
    withZValue(df, aCol, bCol, bits)
      .repartitionByRange(numFiles, col("zval"))
      .sortWithinPartitions("zval")
      .drop("zval")
      .write.mode("overwrite").parquet(path)

  /** The Hilbert-curve variant of [[withZValue]]
    * ([[graft.functions.HilbertIndex]]): same exact-integer ranks from
    * one broadcast bounds row, indexed along the Hilbert curve instead
    * of the Morton interleave — every curve step is a grid neighbor, so
    * boxes cut the curve into fewer runs (fewer boundary files for the
    * same file count; measured vs Morton in SCALING r10). Output: the
    * input columns plus `hval`.
    */
  def withHValue(df: DataFrame, aCol: String, bCol: String,
                 bits: Int = ZBits): DataFrame = {
    val bounds = broadcast(df.agg(
      min(col(aCol)).as("__amin"), max(col(aCol)).as("__amax"),
      min(col(bCol)).as("__bmin"), max(col(bCol)).as("__bmax")))
    df.crossJoin(bounds)
      .withColumn("hval", call_function("graft_hilbert",
        rank(aCol, "__amin", "__amax", bits),
        rank(bCol, "__bmin", "__bmax", bits), lit(bits)))
      .drop("__amin", "__amax", "__bmin", "__bmax")
  }

  /** [[zorderWrite]] along the Hilbert curve. */
  def hilbertWrite(df: DataFrame, aCol: String, bCol: String, path: String,
                   numFiles: Int, bits: Int = ZBits): Unit =
    withHValue(df, aCol, bCol, bits)
      .repartitionByRange(numFiles, col("hval"))
      .sortWithinPartitions("hval")
      .drop("hval")
      .write.mode("overwrite").parquet(path)

  /** Bits per dimension for 3-column Hilbert layouts: 3 × 16 = 48-bit
    * keys (d·bits must stay ≤ 63).
    */
  val HBits3 = 16

  /** d-COLUMN Hilbert projection ([[graft.functions.HilbertIndexNd]],
    * Skilling's dimension-generic transpose form) — production OPTIMIZE
    * ZORDER takes 3+ columns routinely; this is the layout key for it.
    * Same exact-integer ranks from one broadcast bounds row; output: the
    * input columns plus `hval`.
    */
  def withHValueN(df: DataFrame, cols: Seq[String], bits: Int): DataFrame = {
    require(cols.size >= 2 && cols.size * bits <= 63,
      s"withHValueN: need >= 2 columns with dims*bits <= 63, got " +
        s"${cols.size} cols x $bits bits")
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(min(col(c)).as(s"__min$i"), max(col(c)).as(s"__max$i"))
    }
    val bounds = broadcast(df.agg(aggs.head, aggs.tail: _*))
    val ranks = cols.zipWithIndex.map { case (c, i) =>
      rank(c, s"__min$i", s"__max$i", bits)
    }
    df.crossJoin(bounds)
      .withColumn("hval",
        call_function("graft_hilbert_nd", ranks :+ lit(bits): _*))
      .drop(cols.indices.flatMap(i => Seq(s"__min$i", s"__max$i")): _*)
  }

  /** [[zorderWrite]] along the d-dimensional Hilbert curve. */
  def hilbertWriteN(df: DataFrame, cols: Seq[String], path: String,
                    numFiles: Int, bits: Int): Unit =
    withHValueN(df, cols, bits)
      .repartitionByRange(numFiles, col("hval"))
      .sortWithinPartitions("hval")
      .drop("hval")
      .write.mode("overwrite").parquet(path)
}
