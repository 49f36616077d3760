package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded-state buffer for [[TopKAgg]]: a k-capped min-heap whose head
  * is the current WORST entry (lowest score, then highest id — the
  * first to evict). Ordering of survivors: score desc, id asc, the
  * row_number() convention of the window twin.
  */
private[graft] final class TopKHeap(val k: Int) {
  // min-at-head comparator: "worse first"
  private val cmp = new java.util.Comparator[Array[Long]] {
    override def compare(a: Array[Long], b: Array[Long]): Int = {
      val c = java.lang.Double.compare(
        java.lang.Double.longBitsToDouble(a(0)),
        java.lang.Double.longBitsToDouble(b(0)))
      if (c != 0) c else java.lang.Long.compare(b(1), a(1))
    }
  }
  private val pq = new java.util.PriorityQueue[Array[Long]](k + 1, cmp)

  def add(score: Double, id: Long): Unit = {
    val e = Array(java.lang.Double.doubleToLongBits(score), id)
    if (pq.size() < k) pq.add(e)
    else if (cmp.compare(pq.peek(), e) < 0) { pq.poll(); pq.add(e) }
  }
  def mergeInto(other: TopKHeap): Unit = {
    val it = pq.iterator()
    while (it.hasNext) {
      val e = it.next()
      other.add(java.lang.Double.longBitsToDouble(e(0)), e(1))
    }
  }
  def size: Int = pq.size()
  /** Entries best-first. */
  def sorted: Array[(Double, Long)] = {
    val arr = pq.toArray(new Array[Array[Long]](pq.size()))
    java.util.Arrays.sort(arr, cmp.reversed())
    arr.map(e => (java.lang.Double.longBitsToDouble(e(0)), e(1)))
  }
}

/** Grouped top-k as a NATIVE partial aggregate, k-capped heap per
  * buffer. Measurement first (SCALING.md "Grouped top-k: the window
  * rescue measured"): Spark 4
  * already rescues the `row_number() OVER (...) <= k` window idiom
  * with `InferWindowGroupLimit` — a WindowGroupLimit below the
  * exchange ships only per-partition survivors, so "the window
  * shuffles everything" is NOT true here and is not this aggregate's
  * claim. What the native form adds, measured and structural:
  * 1.7× wall over the rescued window (no per-group sort-and-rank pass
  * — the heap never orders more than k); composition — it rides a
  * hash aggregate NEXT TO other aggs in one pass, where a window is a
  * separate operator over a second traversal; STREAMING — window
  * functions are unsupported in streaming queries, this runs in
  * streaming aggregation with k entries of state per group forever
  * ([[graft.streaming.StreamingTopK]], the sketch-store bounded-state
  * class); and the serialized heap is a mergeable artifact (merge =
  * heap union, order/batching-insensitive for the survivor set).
  *
  * Input: `struct(score DOUBLE, id BIGINT)`; output: array of
  * (score, id) structs, score desc / id asc — exactly the window
  * twin's survivor set, which is what the registered gate proves.
  */
case class TopKAgg(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKHeap] with UnaryLike[Expression] {

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (k < 1 || k > 65536) TypeCheckResult.TypeCheckFailure(
      s"graft_topk expects k in [1, 65536] (bounded state is the point), got $k")
    else child.dataType match {
      case StructType(Array(a, b)) if a.dataType == DoubleType && b.dataType == LongType =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_topk expects struct(score DOUBLE, id BIGINT), got $t")
    }

  override def createAggregationBuffer(): TopKHeap = new TopKHeap(k)

  override def update(buffer: TopKHeap, input: InternalRow): TopKHeap = {
    val v = child.eval(input)
    if (v != null) {
      val row = v.asInstanceOf[InternalRow]
      if (!row.isNullAt(0) && !row.isNullAt(1))
        buffer.add(row.getDouble(0), row.getLong(1))
    }
    buffer
  }

  override def merge(b1: TopKHeap, b2: TopKHeap): TopKHeap = {
    b2.mergeInto(b1); b1
  }

  override def eval(buffer: TopKHeap): Any =
    new GenericArrayData(buffer.sorted.map { case (s, i) =>
      InternalRow(s, i)
    }.toArray[Any])

  override def serialize(buffer: TopKHeap): Array[Byte] = {
    val entries = buffer.sorted
    val bb = java.nio.ByteBuffer.allocate(8 + entries.length * 16)
    bb.putInt(buffer.k).putInt(entries.length)
    entries.foreach { case (s, i) => bb.putDouble(s).putLong(i) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKHeap = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val heap = new TopKHeap(bb.getInt)
    var n = bb.getInt
    while (n > 0) { heap.add(bb.getDouble, bb.getLong); n -= 1 }
    heap
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): TopKAgg =
    copy(child = newChild)
}
