package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd dot product over two float/double array columns.
  *
  * The higher-order-function formulation (`aggregate(zip_with(...))`) is
  * evaluated by the interpreter — per-element lambda dispatch dominates in
  * similarity kernels (millions of pairs x vector dim). This native
  * `Expression` emits a tight Java loop inside whole-stage codegen instead
  * (SURVEY.md §7.4: custom Catalyst only where built-ins can't express the
  * semantics *efficiently*).
  *
  * Semantics are IDENTICAL to the HOF form on equal-length inputs (every
  * registered plan): elements cast to double (float->double is exact),
  * products summed in index order — so results are bit-equal to the DuckDB
  * oracle's ordered list_sum and to the previous implementation. Null
  * elements contribute 0; mismatched lengths use the shorter prefix (where
  * the HOF form's null padding would instead annihilate the sum).
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(lt, _), ArrayType(rt, _))
      if Seq(lt, rt).forall(t => t == FloatType || t == DoubleType) =>
      TypeCheckResult.TypeCheckSuccess
    case _ =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_dot expects two array<float|double> args, got ${left.dataType} / ${right.dataType}")
  }

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    val lf = elemType(left) == FloatType
    val rf = elemType(right) == FloatType
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (a.isNullAt(i)) 0.0 else if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (b.isNullAt(i)) 0.0 else if (rf) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def getter(e: Expression, arr: String, i: String): String =
      if (elemType(e) == FloatType) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double ${ev.value}Acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $a.isNullAt($i) ? 0.0 : ${getter(left, a, i)};
         |  double $y = $b.isNullAt($i) ? 0.0 : ${getter(right, b, i)};
         |  ${ev.value}Acc += $x * $y;
         |}
         |${ev.value} = ${ev.value}Acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd count of agreeing positions between two integral-array columns
  * — the MinHash verify kernel (estimated Jaccard = agree/numPerm).
  *
  * Same motivation as [[DotProduct]]: the HOF form
  * `aggregate(zip_with(a, b, (x,y) => when(x === y, 1).otherwise(0)), ...)`
  * runs interpreted, and the verify stage executes once per LSH candidate
  * pair — the hottest loop of the near-dup family at corpus scale.
  *
  * Semantics are IDENTICAL to that HOF form: positions beyond the shorter
  * array and positions where either element is null contribute 0 (zip_with
  * pads with nulls; `null === x` is null → otherwise(0)); equal non-null
  * elements contribute 1.
  */
case class SigAgree(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = IntegerType

  private val integral: Set[DataType] = Set(IntegerType, LongType, ShortType, ByteType)

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(lt, _), ArrayType(rt, _)) if lt == rt && integral(lt) =>
      TypeCheckResult.TypeCheckSuccess
    case _ =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_sig_agree expects two array<integral> args of the same element type, " +
          s"got ${left.dataType} / ${right.dataType}")
  }

  private def elemType: DataType = left.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    val lt = elemType
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        val eq = lt match {
          case LongType  => a.getLong(i) == b.getLong(i)
          case IntegerType => a.getInt(i) == b.getInt(i)
          case ShortType => a.getShort(i) == b.getShort(i)
          case _         => a.getByte(i) == b.getByte(i)
        }
        if (eq) c += 1
      }
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getter = elemType match {
      case LongType    => "getLong"
      case IntegerType => "getInt"
      case ShortType   => "getShort"
      case _           => "getByte"
    }
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int ${ev.value}Acc = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i) &&
         |      $a.$getter($i) == $b.$getter($i)) {
         |    ${ev.value}Acc++;
         |  }
         |}
         |${ev.value} = ${ev.value}Acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The whole MinHash signature in one pass over a document's base-hash
  * array: component i = min over the array of (a_i·x + b_i) mod p, the
  * exact affine family of [[graft.ops.Dedup.minhashPerm]] — values are
  * bit-identical to the 64-parallel-`min`-aggregates formulation (and to
  * the DuckDB twin's cross-join form), this is purely a physical change.
  *
  * Why: the aggregate form pays a 64-column min buffer per group and
  * per-row evaluation of 64 separate agg expressions — measured 13.2 s for
  * signatures alone at 50k docs, ~5× the cost of shingling+hashing. Here
  * the k·n integer ops run in ONE tight JVM loop per document (row count =
  * docs, so per-row interpreter overhead is amortized across the array;
  * `CodegenFallback` is deliberate — the loop body IS the work).
  *
  * Null elements are skipped (cannot happen in the staged pipelines);
  * an empty array yields component values p-1 (no shingle evidence —
  * matches min over the empty group never occurring in the agg form,
  * where such docs simply have no row; callers keep that contract by
  * construction since explodedShingles emits >= 1 shingle per doc).
  */
case class MinhashSignature(child: Expression, numPerm: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  private val P = 2147483647L

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_minhash_sig expects array<bigint>, got $t")
  }

  @transient private lazy val as: Array[Long] =
    Array.tabulate(numPerm)(i => ((i + 1) * 2654435761L) % P)
  @transient private lazy val bs: Array[Long] =
    Array.tabulate(numPerm)(i => ((i + 1) * 40503L + 7) % P)

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val mins = Array.fill(numPerm)(P - 1)
    var j = 0
    while (j < n) {
      if (!xs.isNullAt(j)) {
        val x = xs.getLong(j)
        var i = 0
        while (i < numPerm) {
          val v = (as(i) * x + bs(i)) % P
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SimHash bit votes over a document's flat token-word array: the input
  * concatenates, per token, its `nWords` portable 32-bit md5 words
  * (entry j belongs to word j % nWords); each word's 32 bits vote ±1 and
  * the output packs each word's sign bits into one long in [0, 2^32) —
  * callers assemble the final 64/128-bit fingerprint by shifting word
  * packs together. Values are bit-identical to the 64/128-parallel
  * conditional-sum-aggregate formulation (votes are order-insensitive) —
  * a physical change only, same reasoning and measured class as
  * [[MinhashSignature]].
  */
case class SimhashPack(child: Expression, nWords: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_simhash expects array<bigint>, got $t")
  }

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = xs.numElements()
    require(n % nWords == 0,
      s"graft_simhash: flat array length $n is not a multiple of nWords=$nWords")
    val counts = new Array[Int](nWords * 32)
    var j = 0
    while (j < n) {
      val x = xs.getLong(j)
      val base = (j % nWords) * 32
      var b = 0
      while (b < 32) {
        if (((x >> b) & 1L) == 1L) counts(base + b) += 1 else counts(base + b) -= 1
        b += 1
      }
      j += 1
    }
    val out = new Array[Long](nWords)
    var w = 0
    while (w < nWords) {
      var acc = 0L
      var b = 0
      while (b < 32) {
        if (counts(w * 32 + b) >= 0) acc |= (1L << b)
        b += 1
      }
      out(w) = acc
      w += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Deterministic pseudo-random hyperplane components shared by the RHP /
  * PQ families: dyadic rational in [-1, 1) derived from md5("hp_<k>_<i>"),
  * portable to any engine with md5 (the DuckDB twins compute the identical
  * value). Lives here so [[PqSignPack]] and `ops.Similarity.planeComponent`
  * derive from one definition and cannot drift.
  */
object Hyperplanes {
  def component(k: Int, i: Int): Double = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"hp_${k}_${i}".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val v = digest.take(4).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xFFL))
    v / 2147483648.0 - 1.0
  }
}

/** The whole PQ code array in one compiled pass over a vector: for each of
  * `m` contiguous subspaces, the packed sign bits of `bitsPerCode` md5
  * hyperplane projections (plane k = s·bitsPerCode+j over sub-dimension
  * indices — [[Hyperplanes.component]]).
  *
  * Why a native expression: the Column formulation inlines m·bitsPerCode
  * `when(round(dot(slice...)) >= 0, …)` chains — 128 literal-plane CASE
  * trees at the registered 32×4 regime — which blows Janino's 64 KB method
  * limit and drops the whole stage to interpreted row-at-a-time eval
  * (observed: `CodeGenerator: Failed to compile … Code grows beyond 64 KB`
  * on the PQ fit path, VERDICT r9 §What's-wrong #1). Here the planes ride a
  * codegen reference object and the generated method is one call — KB-sized
  * regardless of m·bitsPerCode — so the fit/search stages stay inside
  * whole-stage codegen.
  *
  * Semantics are IDENTICAL to the Column form, per bit:
  * `round(dot(slice(vec, s·subDim+1, subDim), plane_k), 6) >= 0` with
  * graft_dot's rules (floats widened exactly, null elements contribute 0,
  * shorter side truncates — an out-of-range slice gives dot 0.0, whose
  * round is >= 0, so the bit is SET), Spark `round` = HALF_UP via
  * BigDecimal with NaN/Infinity passed through, and Spark double ordering
  * (NaN > everything, so a NaN projection sets the bit). A null vector
  * yields the all-zero code array (the `when(null >= 0).otherwise(0)`
  * behavior of the Column form), hence `nullable = false`.
  */
case class PqSignPack(child: Expression, dim: Int, m: Int, bitsPerCode: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(m > 0 && dim % m == 0, s"dim $dim must split evenly into m=$m subspaces")

  private val subDim = dim / m

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(t, _) if t == FloatType || t == DoubleType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_pq_codes expects array<float|double>, got $t")
  }

  @transient private lazy val planes: Array[Array[Double]] =
    Array.tabulate(m * bitsPerCode, subDim)(Hyperplanes.component)

  @transient private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  def zeros(): ArrayData = new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Int](m))

  def pack(input: ArrayData): ArrayData = {
    val len = input.numElements()
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val start = s * subDim
      val n = math.min(math.max(len - start, 0), subDim)
      var code = 0
      var j = 0
      while (j < bitsPerCode) {
        val pl = planes(s * bitsPerCode + j)
        var acc = 0.0
        var i = 0
        while (i < n) {
          val x =
            if (input.isNullAt(start + i)) 0.0
            else if (isFloat) input.getFloat(start + i).toDouble
            else input.getDouble(start + i)
          acc += x * pl(i)
          i += 1
        }
        val r =
          if (java.lang.Double.isNaN(acc) || java.lang.Double.isInfinite(acc)) acc
          else java.math.BigDecimal.valueOf(acc)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        if (java.lang.Double.isNaN(r) || r >= 0) code |= (1 << j)
        j += 1
      }
      out(s) = code
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) zeros() else pack(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("pqSignPack", this, classOf[PqSignPack].getName)
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          ${c.isNull} ? $ref.zeros() : $ref.pack(${c.value});
      """,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The PQ asymmetric-distance numerator (query · reconstruction) in one
  * compiled pass: for each subspace s, the dot of the query's sub-vector
  * with the codebook centroid addressed by code s, rounded to 6 dp, summed
  * EXACTLY across subspaces (scale-6 BigDecimal — the same value chain as
  * `round(dot) → DECIMAL(18,6) → reduce(+) → double` in Column form, so
  * scores stay bit-identical to the DuckDB twin).
  *
  * Why native: the Column form is m parallel `element_at(map-literal)` +
  * dot + decimal chains; at the registered m=32 regime the generated
  * projection method exceeds HotSpot's 8 KB JIT ceiling
  * (-XX:-DontCompileHugeMethods default), so the ADC loop — executed once
  * per (query, candidate) pair, the hottest loop of the PQ family — runs in
  * the BYTECODE INTERPRETER (~100 µs/pair measured at 32×4). Here the
  * fitted codebook rides a codegen reference object and the whole ADC is
  * one JIT-able loop.
  *
  * Null semantics mirror the Column form: null query vector or null codes
  * array → null; a code outside the codebook, or a NaN/Infinite subspace
  * dot (not representable in decimal) → null, like `element_at`'s
  * missing-key null and `cast(NaN as decimal)` annihilating the sum. Null
  * query elements contribute 0 (graft_dot's rule); a query shorter than
  * s·subDim gives that subspace an empty slice → dot 0.0.
  *
  * `booksLit` must be a foldable array<array<array<double>>> literal
  * (subspace → code → centroid) — the fitted model artifact riding the
  * plan, exactly like the map literals it replaces.
  */
case class PqAdc(qv: Expression, codes: Expression, booksLit: Expression, subDim: Int)
    extends Expression {

  override def children: Seq[Expression] = Seq(qv, codes, booksLit)

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (qv.dataType, codes.dataType) match {
    case (ArrayType(q, _), ArrayType(IntegerType, _)) if q == FloatType || q == DoubleType =>
      booksLit.dataType match {
        case ArrayType(ArrayType(ArrayType(DoubleType, _), _), _) if booksLit.foldable =>
          TypeCheckResult.TypeCheckSuccess
        case t => TypeCheckResult.TypeCheckFailure(
          s"graft_pq_adc expects a foldable array<array<array<double>>> codebook, got $t")
      }
    case (q, c) => TypeCheckResult.TypeCheckFailure(
      s"graft_pq_adc expects (array<float|double>, array<int>), got ($q, $c)")
  }

  @transient private lazy val books: Array[Array[Array[Double]]] = {
    val outer = booksLit.eval().asInstanceOf[ArrayData]
    Array.tabulate(outer.numElements()) { s =>
      val mid = outer.getArray(s)
      Array.tabulate(mid.numElements()) { c =>
        mid.getArray(c).toDoubleArray()
      }
    }
  }

  @transient private lazy val qvFloat: Boolean =
    qv.dataType.asInstanceOf[ArrayType].elementType == FloatType

  def adc(q: ArrayData, c: ArrayData): Any = {
    val m = books.length
    var acc = java.math.BigDecimal.ZERO.setScale(6)
    var s = 0
    while (s < m) {
      if (s >= c.numElements() || c.isNullAt(s)) return null
      val code = c.getInt(s)
      if (code < 0 || code >= books(s).length) return null
      val cent = books(s)(code)
      val start = s * subDim
      val n = math.min(math.max(q.numElements() - start, 0), math.min(subDim, cent.length))
      var d = 0.0
      var i = 0
      while (i < n) {
        val x =
          if (q.isNullAt(start + i)) 0.0
          else if (qvFloat) q.getFloat(start + i).toDouble
          else q.getDouble(start + i)
        d += x * cent(i)
        i += 1
      }
      if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) return null
      acc = acc.add(java.math.BigDecimal.valueOf(d)
        .setScale(6, java.math.RoundingMode.HALF_UP))
      s += 1
    }
    acc.doubleValue()
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val q = qv.eval(input)
    if (q == null) return null
    val c = codes.eval(input)
    if (c == null) return null
    adc(q.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("pqAdc", this, classOf[PqAdc].getName)
    val qe = qv.genCode(ctx)
    val ce = codes.genCode(ctx)
    val r = ctx.freshName("adcRes")
    ev.copy(code = code"""
      ${qe.code}
      boolean ${ev.isNull} = true;
      double ${ev.value} = -1.0;
      if (!${qe.isNull}) {
        ${ce.code}
        if (!${ce.isNull}) {
          Object $r = $ref.adc(${qe.value}, ${ce.value});
          if ($r != null) {
            ${ev.isNull} = false;
            ${ev.value} = ((Double) $r).doubleValue();
          }
        }
      }
    """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(qv = newChildren(0), codes = newChildren(1), booksLit = newChildren(2))
}

/** All `bands × bits` sign-LSH band buckets of one vector in ONE pass —
  * the bucket-projection kernel of the corpus-sized RHP family
  * (Similarity.signBucketArray). The Column-composed form it replaces
  * (per sign bit: `when(round(graft_dot(v, typedlit(plane)), 6) >= 0, …)`)
  * pays a boxed GenericArrayData element read per plane literal element —
  * 8 bands × 14 corpus-derived bits × 64 dims = 7168 boxed reads PER ROW,
  * measured 87 s of a 123 s ×100 near-dup run (SCALING.md "Round-14:
  * sign-LSH family re-armed scale-safe", Finding 1). This
  * expression keeps the plane matrix as a primitive double[][] reference
  * and runs the whole projection as tight JIT-able loops: same
  * arithmetic, ~1000× fewer allocations.
  *
  * Semantics are IDENTICAL to the composed form, bit for bit:
  *  - per plane k (serving band k/bits, sign bit k%bits): dot of the
  *    vector prefix against the plane in index order (DotProduct's exact
  *    left-to-right double sum; null elements contribute 0, mismatched
  *    lengths use the shorter prefix);
  *  - the dot is rounded HALF_UP to 6 dp BEFORE the sign test (Spark
  *    `round` semantics via BigDecimal.valueOf — taken on the slow path
  *    only when the raw sum sits in (-1e-6, 0), the single interval
  *    where rounding can flip the comparison);
  *  - a NULL input vector yields the all-zero bucket array (the when/
  *    otherwise fold's behavior: null dots contribute 0 to every band),
  *    NOT a null array — callers posexplode the result, and a null row
  *    must keep colliding in bucket 0 of every band exactly as before.
  */
case class SignBandBuckets(child: Expression, planes: Array[Array[Double]],
                           bands: Int, bits: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(planes.length == bands * bits,
    s"SignBandBuckets: ${planes.length} planes for $bands bands x $bits bits")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(t, _) if t == FloatType || t == DoubleType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"SignBandBuckets expects array<float|double>, got $other")
  }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      SignBandBuckets.compute(v.asInstanceOf[ArrayData], isFloat, planes, bands, bits))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("signPlanes", planes, "double[][]")
    val childGen = child.genCode(ctx)
    val code =
      code"""
        ${childGen.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            graft.functions.SignBandBuckets.compute(
              ${childGen.isNull} ? null : ${childGen.value},
              $isFloat, $ref, $bands, $bits));
      """
    ev.copy(code = code,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SignBandBuckets {
  /** The shared eval/codegen kernel (public: generated code calls it). */
  def compute(v: ArrayData, isFloat: Boolean, planes: Array[Array[Double]],
              bands: Int, bits: Int): Array[Long] = {
    val res = new Array[Long](bands)
    if (v == null) return res // null vector: bucket 0 in every band (see scaladoc)
    val nPlanes = bands * bits
    var k = 0
    while (k < nPlanes) {
      val p = planes(k)
      val n = math.min(v.numElements(), p.length)
      var s = 0.0
      var i = 0
      while (i < n) {
        val x = if (v.isNullAt(i)) 0.0
                else if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        s += x * p(i)
        i += 1
      }
      // round(s, 6) >= 0 — BigDecimal only where rounding can flip the
      // sign: s in (-1e-6, 0) may round UP to exactly zero (>= 0 true).
      // NaN (a NaN vector element, or +Inf and -Inf elements in one dot
      // sum) sets the bit: both Spark and DuckDB order NaN GREATER than
      // every number, so the composed `round(s, 6) >= 0` form this
      // kernel replicates evaluated TRUE — and BigDecimal.valueOf(NaN)
      // would throw, failing the whole query instead of bucketing.
      val pos =
        if (s >= 0.0 || s.isNaN) true
        else if (s <= -1e-6) false
        else java.math.BigDecimal.valueOf(s)
          .setScale(6, java.math.RoundingMode.HALF_UP).signum() >= 0
      if (pos) res(k / bits) |= 1L << (k % bits)
      k += 1
    }
    res
  }
}

/** Session registration for graft's native expressions (usable from SQL as
  * `graft_dot(a, b)` / `graft_sig_agree(a, b)` and from the DataFrame API
  * via `call_function`).
  */
object GraftFunctions {
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> (children => DotProduct(children.head, children(1))),
    "graft_sig_agree" -> (children => SigAgree(children.head, children(1))),
    "graft_minhash_sig" -> (children => MinhashSignature(children.head,
      children(1).eval().asInstanceOf[Int])),
    "graft_simhash" -> (children => SimhashPack(children.head,
      children(1).eval().asInstanceOf[Int])),
    "graft_pq_codes" -> (children => PqSignPack(children.head,
      children(1).eval().asInstanceOf[Int],
      children(2).eval().asInstanceOf[Int],
      children(3).eval().asInstanceOf[Int])),
    "graft_pq_adc" -> (children => PqAdc(children.head, children(1), children(2),
      children(3).eval().asInstanceOf[Int])),
    "graft_jaro_winkler" -> (children => JaroWinkler(children.head, children(1))),
    "graft_cms_merge" -> (children => CmsMergeAgg(children.head)),
    "graft_cms_build" -> (children => CmsBuildAgg(children.head, children(1),
      children(2).eval().asInstanceOf[Number].doubleValue(),
      children(3).eval().asInstanceOf[Number].doubleValue(),
      children(4).eval().asInstanceOf[Number].intValue())),
    "graft_cms_estimate" -> (children => CmsEstimate(children.head, children(1))),
    "graft_nfc" -> (children => NfcNormalize(children.head)),
    "graft_bloom_agg" -> (children => BloomBuildAgg(children.head,
      children(1).eval().asInstanceOf[Number].longValue(),
      children(2).eval().asInstanceOf[Number].doubleValue())),
    "graft_bloom_contains" -> (children => BloomContains(children.head, children(1))),
    "graft_bloom_merge" -> (children => BloomMergeAgg(children.head)),
    "graft_qsketch_agg" -> (children => QuantileSketchAgg(children.head,
      children(1).eval().asInstanceOf[Number].doubleValue())),
    "graft_qsketch_merge" -> (children => QuantileMergeAgg(children.head)),
    "graft_cms_inner" -> (children => CmsInnerProduct(children.head, children(1))),
    "graft_hilbert" -> (children => HilbertIndex(children.head, children(1),
      children(2).eval().asInstanceOf[Number].intValue())),
    "graft_hilbert_nd" -> (children => HilbertIndexNd(children.init,
      children.last.eval().asInstanceOf[Number].intValue())),
    "graft_topk" -> (children => TopKAgg(children.head,
      children(1).eval().asInstanceOf[Number].intValue())),
    "graft_qsketch_query" -> (children => QuantileSketchQuery(children.head, children(1))),
    "graft_qsketch_rank" -> (children => QuantileSketchRank(children.head, children(1))),
    "graft_hll_count" -> (children => HllCountDistinctAgg(children.head,
      children(1).eval().asInstanceOf[Number].doubleValue())))

  /** Installs each graft function the session's registry lacks. A session
    * built with [[GraftExtensions]] already has every one, so this changes
    * nothing there and logs no "replaced a previously registered function"
    * WARN. Operators do not call it: the entry points that may receive a
    * session built without the extension do, once ([[graft.GraftSession.attach]],
    * [[graft.SparkEntry.queries]]).
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, builder) =>
      val id = FunctionIdentifier(name)
      if (!registry.functionExists(id))
        registry.registerFunction(id, new ExpressionInfo(classOf[DotProduct].getName, name), builder)
    }
  }
}

/** `spark.sql.extensions`-style injection for clusters configured with
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`: the
  * native expressions plus the banded-Hamming join rewrite
  * ([[graft.plans.HammingJoinRewrite]] — naive `bit_count(a^b) <= k`
  * theta-joins become pigeonhole equi-joins instead of cartesians).
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[DotProduct].getName, name),
        builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.HammingJoinRewrite)
    ext.injectOptimizerRule(_ => graft.plans.FuzzyJoinRewrite)
    // pre-CBO, not the operator batch: the planning rule runs ONCE,
    // after InferFiltersFromConstraints — so the Bloom runtime filters it
    // injects are never constraint-propagated back onto the build side
    // (the same batch position Spark's own InjectRuntimeFilter holds)
    ext.injectPreCBORule(_ => graft.plans.SketchJoinPlanning)
    // scan-side twin of the planning rule: swaps a filtered relation's
    // FileIndex for a manifest-pruned view. Also PreCBO — after filter
    // pushdown has parked predicates directly on the relations, once.
    ext.injectPreCBORule(_ => graft.plans.ScanPruneRewrite)
    // the composition of the two: build-side join keys prune the probe
    // table's file listing at plan time (dynamic file pruning). Runs
    // LAST so it sees the reordered/hinted joins and composes its drop
    // set over any static prune the scan rule already applied.
    ext.injectPreCBORule(_ => graft.plans.DynamicFilePruning)
  }
}
