package graft.streaming

import graft.ops.Similarity
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming ANN serving over a FROZEN IVF-PQ index — the query-side
  * streaming story for the X3 family: queries arrive as a stream, the
  * index (one (cell, codes) projection of the corpus) sits as a STATIC
  * distributed table, and each micro-batch scores through a stream-static
  * equi-join on the cell key. Nothing about the corpus is collected or
  * broadcast: only the index METADATA freezes driver-side — cell
  * centroids (≤ 2^bitsPerCell rows) and PQ codebooks (m·2^bits·subDim
  * doubles) — which is exactly what an ANN serving fleet ships to its
  * routers while the coded index stays sharded.
  *
  * Per arriving query: probe cells are chosen in-JVM against the frozen
  * centroids with the identical 6-dp discipline as the batch
  * ([[Similarity.ivfPqTopK]] probe ranking — round6 cosine desc, cell-id
  * ties ascending); the probe rows then meet the static coded index on
  * cell equality and are ADC-scored by the same round6→DECIMAL(18,6)
  * column expressions as the batch, so served results are BIT-EQUAL to
  * the batch top-k (StreamingAnnServeSpec).
  *
  * Top-k per query is a streaming aggregation (sorted-slice of the
  * candidate list); state per query is bounded by its candidate count
  * (nProbe cells' occupancy), and completed queries should be aged out
  * with a watermark in a long-running deployment — the index itself
  * contributes NO per-query state.
  */
object StreamingAnnServe {

  /** One arriving query vector. */
  final case class Query(vecId: Long, embedding: Seq[Float])

  /** Frozen routing metadata: non-empty cells with exact-decimal centroids
    * (and their index-order norms), plus the fitted PQ codebooks. Bounded:
    * ≤ 2^bitsPerCell centroids + m·2^bitsPerCode·subDim codebook doubles.
    */
  final class FrozenIvfPq private[streaming] (
      private[streaming] val dim: Int,
      private[streaming] val bitsPerCell: Int,
      private[streaming] val m: Int,
      private[streaming] val bitsPerCode: Int,
      private[streaming] val cellPlanes: Array[Array[Double]],
      private[streaming] val cells: Array[Int],
      private[streaming] val centroids: Array[Array[Double]],
      private[streaming] val centNorms: Array[Double],
      private[streaming] val books: Array[Array[Array[Double]]]) extends Serializable {
    def nCells: Int = cells.length
  }

  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  private def dotL(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Driver-side freeze: PQ codebooks via the batch fit, cell centroids
    * via the batch exact-decimal mean aggregate (collected — the result is
    * ≤ 2^bitsPerCell rows by construction).
    */
  def freeze(corpus: DataFrame, dim: Int, bitsPerCell: Int = 4,
             m: Int = 8, bitsPerCode: Int = 4,
             idCol: String = "vec_id", vecCol: String = "embedding"): FrozenIvfPq = {
    val books = Similarity.pqFitCodebooks(corpus, dim, m, bitsPerCode, idCol, vecCol)
    val cellPlanes = Array.tabulate(bitsPerCell, dim)(Similarity.planeComponent)
    val centRows = corpus
      .select(cellCol(col(vecCol), cellPlanes, bitsPerCell).as("__cell"),
        posexplode(col(vecCol)).as(Seq("__i", "__x")))
      .groupBy("__cell", "__i")
      .agg((sum(col("__x").cast(org.apache.spark.sql.types.DecimalType(27, 10)))
        .cast("double") / count(lit(1))).as("__m"))
      .groupBy("__cell").agg(array_sort(collect_list(struct(col("__i"), col("__m")))).as("__ims"))
      .select(col("__cell"), transform(col("__ims"), s => s.getField("__m")).as("__centroid"))
      .collect()
    val cells = centRows.map(_.getInt(0))
    val centroids = centRows.map(_.getSeq[Double](1).toArray)
    new FrozenIvfPq(dim, bitsPerCell, m, bitsPerCode, cellPlanes,
      cells, centroids, centroids.map(c => math.sqrt(dotL(c, c))), books)
  }

  private def cellCol(vec: Column, planes: Array[Array[Double]], bits: Int): Column =
    element_at(Similarity.signBucketArray(vec, planes, 1, bits), 1).cast("int")

  /** The static serving index: one (neighbor_id, __cell, codes, __rn2)
    * projection of the corpus — identical to the batch search's coded
    * side. Persist/write this once; queries stream against it.
    */
  def codedIndex(corpus: DataFrame, fz: FrozenIvfPq,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val normMaps = Similarity.pqNormMaps(fz.books, fz.m)
    corpus.select(col(idCol).as("neighbor_id"),
        cellCol(col(vecCol), fz.cellPlanes, fz.bitsPerCell).as("__cell"),
        Similarity.pqCodesExpr(col(vecCol), fz.dim, fz.m, fz.bitsPerCode).as("codes"))
      .withColumn("__rn2", Similarity.pqReconNorm2(col("codes"), normMaps, fz.m))
  }

  /** In-JVM probe selection for one query — the twin of the batch probe
    * ranking: 6-dp-rounded centroid cosine descending, cell id ascending.
    */
  private[streaming] def probeCells(v: Array[Double], fz: FrozenIvfPq, nProbe: Int): Array[Int] = {
    val qn = math.sqrt(dotL(v, v))
    fz.cells.indices
      .map(i => (round6(dotL(v, fz.centroids(i)) / (qn * fz.centNorms(i))), fz.cells(i)))
      .sortBy { case (c, cell) => (-c, cell) }
      .take(nProbe).map(_._2).toArray
  }

  /** Serve top-k for a query stream against the static coded index.
    * Returns (query_id, neighbor_id, rank, approx_cosine) — bit-equal to
    * `Similarity.ivfPqTopK` for the same corpus and parameters.
    */
  def serveTopK(queries: Dataset[Query], index: DataFrame, fz: FrozenIvfPq,
                k: Int, nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val subDim = fz.dim / fz.m
    // per arrival: nProbe (query, cell) rows, carrying the raw vector and
    // its norm for the ADC columns downstream
    val probes = queries.flatMap { q =>
      val v = q.embedding.toArray.map(_.toDouble)
      probeCells(v, fz, nProbe).map(cell => (q.vecId, q.embedding, math.sqrt(dotL(v, v)), cell))
    }.toDF("query_id", "__qv", "__qn", "__cell")
    // stream-static equi-join on the cell key, then the batch ADC columns
    val scored = probes.join(index, "__cell")
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("__num",
        Similarity.pqAdcNumerator(col("__qv"), col("codes"), fz.books, subDim))
      .withColumn("__cos", round(col("__num") / (col("__qn") * sqrt(col("__rn2"))), 6))
    // per-query top-k as a streaming agg: sort candidates by (cos desc,
    // neighbor asc) via a lexicographic struct and slice k
    scored
      .groupBy("query_id")
      .agg(slice(array_sort(collect_list(struct(
        (col("__cos") * -1).as("negCos"), col("neighbor_id"), col("__cos")))), 1, k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__pos", "__t")))
      .select(col("query_id"), col("__t.neighbor_id").as("neighbor_id"),
        (col("__pos") + 1).cast("long").as("rank"),
        col("__t.__cos").as("approx_cosine"))
  }
}
