package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Connected components over a pair list — the step that turns near-dup
  * PAIRS (minhash / simhash / RHP / jaccard, [[Dedup]] / [[Similarity]])
  * into dedup CLUSTERS: every document labeled with the smallest doc id
  * reachable through the pair graph, so "keep one per cluster" is a
  * trivial filter on `id == component`. Pairs alone delete nothing — if
  * A~B and B~C but A!~C, pairwise keep-min would keep A and C even though
  * they sit in one duplicate cluster.
  *
  * Two routes, chosen by the measured edge count (the pair list is an LSH
  * OUTPUT — orders of magnitude smaller than the corpus — so even at
  * 100 TB it is usually bounded):
  *
  *  - **Driver union-find** (edge count ≤ `driverEdgeLimit`, integral
  *    ids): collect the deduplicated edge list, run union-find with path
  *    compression (linear, exact), parallelize (id, component) back. The
  *    same fit-small/apply-distributed shape as
  *    [[Similarity.kmeansCells]]; the collect is bounded by an EXPLICIT
  *    knob (default 4M edges ≈ 64 MB on the driver), never by hope.
  *  - **Distributed min-label propagation with pointer jumping** (above
  *    the limit, or non-integral ids). Each round: (1) neighbor-min —
  *    every vertex takes the min of its own and its neighbors' labels
  *    (one join + one map-side-combined aggregation); (2) pointer-jump —
  *    label := label(label), halving label-chain depths so convergence
  *    is O(log(diameter)) rounds, not O(diameter). Labels only ever
  *    decrease, so the exact-DECIMAL `sum(label)` is a monotone
  *    convergence certificate (decimal, not Long: md5Hash60 ids sum past
  *    2^63 within rows): one cheap agg per round, stop when it stops
  *    falling. No step materializes anything bigger than the edge list.
  *
  * Near-dup graphs in practice are myriads of tiny components (dup pairs,
  * dup triangles), so rounds-to-converge is small; the `maxIter` cap
  * bounds pathological chains (default 20 ≈ diameters to ~2^20 with
  * jumping).
  *
  * Distributed-route iteration state is EAGERLY localCheckpoint'ed, not
  * just persisted: each round references the previous round's frame
  * several times (the self-join in the jump), so without lineage
  * truncation the logical plan doubles per round — analysis cost alone
  * becomes exponential. Local checkpoints trade fault re-compute for
  * speed — the standard choice for convergent iterative refinement.
  * Superseded rounds are dropped once the next is materialised; the
  * returned one is pinned in [[OpCaches]] for `OpCaches.release()`.
  */
object Components {

  /** @param pairs   (aCol, bCol) undirected edges, any orientation
    * @param driverEdgeLimit distinct-edge count at or below which the
    *        driver union-find route runs (0 forces the distributed loop)
    * @return (id, component) for every vertex incident to an edge;
    *         component = min reachable id
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
                          maxIter: Int = 20, driverEdgeLimit: Long = 4000000L): DataFrame = {
    val idType = pairs.schema(aCol).dataType
    val bType = pairs.schema(bCol).dataType
    // integral ids are the operator contract: both routes rely on numeric
    // labels (the distributed route's sum-certificate, the driver route's
    // primitive maps). Map string keys through Dedup.md5Hash60 or a dense
    // id assignment first. BOTH columns are checked and must agree — a
    // stray non-integral bCol would otherwise cast to null and silently
    // drop every edge, and a wider bCol would truncate in the output cast.
    require((idType == LongType || idType == IntegerType) && bType == idType,
      s"connectedComponents needs matching integral id columns, got ($idType, $bType)")
    val edges = pairs.select(col(aCol).cast(LongType).as("src"),
        col(bCol).cast(LongType).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val edgeCount = edges.count()
    val out =
      if (edgeCount <= driverEdgeLimit) driverUnionFind(pairs, edges)
      else propagateDistributed(edges, maxIter)
    edges.unpersist(blocking = false)
    if (idType == IntegerType)
      out.select(col("id").cast(IntegerType).as("id"),
        col("component").cast(IntegerType).as("component"))
    else out
  }

  /** Bounded-small route: exact union-find (path compression, min-rooted
    * union) over the collected edge list; one distributed pass total.
    */
  private def driverUnionFind(pairs: DataFrame, edges: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    val collected = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrDefault(root, root) != root) root = parent.get(root)
      var cur = x // path compression
      while (parent.getOrDefault(cur, cur) != root) { val nxt = parent.get(cur); parent.put(cur, root); cur = nxt }
      parent.put(x, root)
      root
    }
    collected.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    val rows = parent.keySet().toArray(Array.empty[java.lang.Long])
      .map(id => Row(id.longValue(), find(id.longValue())))
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("component", LongType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq,
      math.max(1, rows.length / 500000)), schema)
  }

  /** Big-graph route: min-label propagation + pointer jumping (see class
    * doc). Expects a persisted, deduplicated, symmetric-capable edge list
    * keyed (src, dst) — symmetry is established here.
    */
  private def propagateDistributed(halfEdges: DataFrame, maxIter: Int): DataFrame = {
    val edges = halfEdges
      .union(halfEdges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
      .localCheckpoint(true)
    // certificate sums through DECIMAL(38,0): md5Hash60-mapped ids run to
    // ~2^60, so a Long sum overflows after a handful of rows (ANSI mode
    // would throw every round; legacy mode would wrap and break the
    // equal-sum <=> converged invariant). Exact decimal keeps the monotone
    // certificate sound to ~1e38 — beyond any corpus.
    def certOf(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("lbl").cast(org.apache.spark.sql.types.DecimalType(38, 0))))
        .head().getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
    var certificate = certOf(labels)
    var converged = labels.isEmpty
    var it = 0
    while (!converged && it < maxIter) {
      // neighbor-min: min label over {self} ∪ neighbors
      val nbrMin = edges.join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(min(col("lbl")).as("__nl"))
      val stepped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), least(col("lbl"), coalesce(col("__nl"), col("lbl"))).as("lbl"))
        .localCheckpoint(true)
      // pointer jump: labels are always vertex ids (they start as ids and
      // only min-combine), so label(label) is total on this table
      val jumped = stepped.alias("x")
        .join(stepped.select(col("id").as("__jid"), col("lbl").as("__jl")),
          col("x.lbl") === col("__jid"))
        .select(col("x.id").as("id"), col("__jl").as("lbl"))
        .localCheckpoint(true)
      val next = certOf(jumped)
      // both superseded rounds are materialised into `jumped` now
      OpCaches.dropCheckpoint(labels, stepped)
      labels = jumped
      converged = next.compareTo(certificate) == 0 // labels only decrease: equal sum <=> no change
      certificate = next
      it += 1
    }
    edges.unpersist(blocking = false)
    OpCaches.pinCheckpoint(labels.select(col("id"), col("lbl").as("component")))
  }

  /** Dedup clusters with survivors: (id, component, is_keeper) — keeper is
    * the min-id member. Downstream "drop duplicates" = `where is_keeper`
    * plus the union of never-paired docs (not in the pair list).
    */
  def dedupClusters(pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
                    maxIter: Int = 20, driverEdgeLimit: Long = 4000000L): DataFrame =
    connectedComponents(pairs, aCol, bCol, maxIter, driverEdgeLimit)
      .select(col("id"), col("component"), (col("id") === col("component")).as("is_keeper"))

  /** Dedup clusters under the KEEP-BEST policy: keeper = the cluster
    * member with the highest `score` (ties → min id) instead of the min
    * id — the policy a curation pipeline actually wants ("among the
    * near-duplicates keep the longest / highest-quality copy", RefinedWeb
    * §3.3 posture), where keep-min would keep whichever duplicate happens
    * to carry the smallest id.
    *
    * `scores` is an (idCol, scoreCol) table; only cluster MEMBERS join it
    * (pair-list-sized, not corpus-sized), and the per-cluster argmax is
    * one window over that member table partitioned by component — bounded
    * by the dedup fan-in, never a corpus-scale sort.
    *
    * Output: (id, component, score, is_keeper) — one row per clustered
    * doc, exactly one keeper per component.
    */
  def keepBestClusters(pairs: DataFrame, scores: DataFrame,
                       idCol: String, scoreCol: String,
                       aCol: String = "id_a", bCol: String = "id_b",
                       maxIter: Int = 20, driverEdgeLimit: Long = 4000000L): DataFrame = {
    val members = connectedComponents(pairs, aCol, bCol, maxIter, driverEdgeLimit)
      .join(scores.select(col(idCol).as("id"), col(scoreCol).as("score")), Seq("id"))
    members
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("component"))
          .orderBy(col("score").desc, col("id"))))
      .select(col("id"), col("component"), col("score"), (col("__rk") === 1).as("is_keeper"))
  }

  /** The APPLY step: the corpus minus every non-keeper cluster member —
    * rows never mentioned in the pair list survive untouched, each cluster
    * keeps exactly its min-id member. The drop list (non-keepers) is the
    * small side of the anti-join: at most one row per duplicate found, so
    * Spark broadcasts it when it fits and AQE re-plans when it does not;
    * the corpus side streams through unshuffled either way.
    */
  def applyDedup(corpus: DataFrame, idCol: String, pairs: DataFrame,
                 aCol: String = "id_a", bCol: String = "id_b",
                 maxIter: Int = 20, driverEdgeLimit: Long = 4000000L): DataFrame = {
    val drop = dedupClusters(pairs, aCol, bCol, maxIter, driverEdgeLimit)
      .where(!col("is_keeper")).select(col("id").as(idCol))
    corpus.join(drop, Seq(idCol), "left_anti")
  }

  /** Cluster-size histogram over the near-dup components — the one-page
    * dedup report a pipeline owner reads before approving a scrub ("how
    * much is duplicated, and is it many pairs or a few megaclusters?").
    * A heavy tail here (one component holding 1% of the corpus) is the
    * operational signal to re-check the similarity threshold before
    * deleting data; the total docs-removed count is Σ (size-1)·clusters.
    *
    * Shape: components (pair-list-sized, never corpus-sized) → one count
    * agg keyed by component → one count agg keyed by size. The histogram
    * is at most as wide as the largest cluster — bytes at any corpus
    * scale. Singleton docs never appear in a pair list, so cluster_size
    * starts at 2.
    *
    * Output: (cluster_size, n_clusters, n_docs = size·clusters), ascending
    * by size.
    */
  def clusterSizeStats(pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
                       maxIter: Int = 20, driverEdgeLimit: Long = 4000000L): DataFrame =
    connectedComponents(pairs, aCol, bCol, maxIter, driverEdgeLimit)
      .groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .orderBy("cluster_size")

  /** Fixed iteration count / damping for the registered PageRank query —
    * constants shared with the DuckDB twin so neither can drift.
    */
  val PageRankIters = 3
  val PageRankDamping = 0.85

  /** PageRank over an undirected pair list — graph CENTRALITY where
    * [[connectedComponents]] gives membership and [[keepBestClusters]] an
    * attribute argmax: within a near-dup cluster the highest-rank member
    * is the copy most corroborated by distinct neighbors (hub pages,
    * canonical mirrors), a standard "which copy is canonical" signal
    * (Page et al., Stanford InfoLab'99). Also the engine's
    * ITERATIVE-JOIN family witness: where the logreg trainer iterates
    * aggregates into driver state, this iterates JOINS with NO driver
    * state at all — rank flows edge→vertex each round entirely as
    * chained DataFrames.
    *
    * Symmetric edges mean every vertex has both in- and out-degree ≥ 1,
    * so there are no dangling nodes and no teleport-mass correction — the
    * update is r' = (1−d)/N + d·Σ_in r/deg, carried in FIXED-POINT
    * integer micro-rank units (1e6 µ = rank 1.0, every division a floor
    * `div`): the x5_lm_score integer-micros discipline, because the
    * divide-then-round DOUBLE form is not engine-portable whenever a
    * quotient's shortest decimal repr lands on a rounding boundary
    * (FIXTURES.md §C — and at 5k docs one did). Floor-div micro-units ARE
    * the operator's defined arithmetic; they replay bit-for-bit anywhere.
    *
    * Scale shape: per iteration ONE edge-list join + one vertex-keyed sum
    * — everything is edge-list-sized (an LSH output, orders of magnitude
    * below the corpus), K fixed rounds, edges/degrees pinned once.
    *
    * Output: (id, pagerank_micros BIGINT) for every vertex incident to an
    * edge; divide by 1e6 for the unit-mass rank.
    */
  /** Iteration count past which [[pageRank]] truncates plan lineage with a
    * per-iteration `localCheckpoint`: below it the K-deep chained-join plan
    * is cheap to analyze and fully lazy; past it Catalyst re-analysis cost
    * and lineage depth grow per round while a checkpoint costs one eager
    * materialization of a vertex-sized (3-long-column) table per round —
    * the classic iterative-algorithm trade. Results are bit-identical
    * either way (ComponentsSpec pins it): checkpointing changes WHEN a
    * prefix is computed, never what it computes.
    */
  val PageRankCheckpointAfter = 12

  def pageRank(pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
               iters: Int = PageRankIters, damping: Double = PageRankDamping,
               checkpointAfter: Int = PageRankCheckpointAfter,
               driverEdgeLimit: Long = 4000000L): DataFrame = {
    val dampMilli = math.round(damping * 1000) // 850: exact per-mille damping
    // Pin the incoming pair list BEFORE the symmetric union: the union
    // scans `pairs` twice, and an unpinned caller (a raw LSH pair chain)
    // would otherwise evaluate its whole candidate pipeline twice.
    val p = OpCaches.pin(pairs.select(col(aCol).as("__a"), col(bCol).as("__b")))
    val sym = p.select(col("__a").as("__s"), col("__b").as("__d"))
      .union(p.select(col("__b").as("__s"), col("__a").as("__d")))
      .distinct()
    // Bounded-small route (r17, the [[connectedComponents]] driverUnionFind
    // contract): at or below `driverEdgeLimit` symmetric distinct edges the
    // K-round rank recurrence runs as exact integer arithmetic on the
    // collected edge list — the distributed loop's ~10 vertex-sized shuffle
    // stages per run are pure fixed overhead when the whole graph is a few
    // MB (an LSH pair list is orders of magnitude below the corpus). The
    // arithmetic replays the distributed expressions verbatim (floor `div`
    // micro-units, order-free long sums), so results are bit-identical —
    // gated by ComponentsSpec's route-equality test. Integral ids only;
    // anything else, or 0 (forced), takes the distributed loop directly.
    val idType = pairs.schema(aCol).dataType
    val driverable = driverEdgeLimit > 0 &&
      (idType == LongType || idType == IntegerType) &&
      pairs.schema(bCol).dataType == idType
    if (!driverable) distributedPageRank(sym, iters, dampMilli, checkpointAfter)
    else {
      val edges = OpCaches.pin(sym.select(
        col("__s").cast(LongType).as("__s"), col("__d").cast(LongType).as("__d")))
      val out =
        if (edges.count() <= driverEdgeLimit)
          driverPageRank(pairs.sparkSession, edges, iters, dampMilli)
        else distributedPageRank(edges, iters, dampMilli, checkpointAfter)
      if (idType == IntegerType)
        out.select(col("id").cast(IntegerType).as("id"), col("pagerank_micros"))
      else out
    }
  }

  /** Big-graph route: the chained-join rank recurrence. The edge list is
    * pinned HASH-PARTITIONED on __s, the key of every per-iteration rank
    * join (guide §2.4): the degree table aggregates without an exchange
    * and inherits the partitioning, the rank state stays co-partitioned
    * through each deg⋈contrib join, and each iteration's only shuffle is
    * the one the algorithm fundamentally needs — the edge→vertex
    * contribution transpose.
    */
  private def distributedPageRank(sym: DataFrame, iters: Int, dampMilli: Long,
                                  checkpointAfter: Int): DataFrame = {
    val edges = OpCaches.pin(sym.repartition(col("__s")))
    val deg = OpCaches.pin(edges.groupBy("__s").agg(count(lit(1)).as("__dg")))
    val n = broadcast(deg.agg(count(lit(1)).as("__nn")))
    var ranks = deg.crossJoin(n)
      .select(col("__s"), col("__dg"), col("__nn"),
        expr("1000000 div __nn").as("__r"))
    val truncate = iters > checkpointAfter
    for (i <- 0 until iters) {
      val prev = ranks
      val contrib = ranks
        .join(edges, "__s")
        .select(col("__d"), expr("__r div __dg").as("__c"))
        .groupBy("__d").agg(sum(col("__c")).as("__m"))
      ranks = deg.crossJoin(n)
        .join(contrib, col("__s") === col("__d"))
        .select(col("__s"), col("__dg"), col("__nn"),
          expr(s"(${1000000 - dampMilli * 1000} div __nn) + (($dampMilli * __m) div 1000)")
            .as("__r"))
      // lineage truncation for deep K: eager, vertex-sized, value-neutral;
      // the superseded round is dropped once the next one is materialised
      if (truncate) {
        ranks = ranks.localCheckpoint(true)
        if (i > 0) OpCaches.dropCheckpoint(prev)
      }
    }
    val out = ranks.select(col("__s").as("id"), col("__r").as("pagerank_micros"))
    if (truncate && iters > 0) OpCaches.pinCheckpoint(out) else out
  }

  /** Bounded-small route: the identical integer recurrence over the
    * collected symmetric edge list. Every operation mirrors one
    * distributed expression — `1000000 div nn` start, per-edge
    * `r div deg` contributions summed as longs (order-free, exact),
    * `(1000000 − d·1000) div nn + (d·m) div 1000` update — all on
    * non-negative longs where SQL `div` and Java `/` agree.
    */
  private def driverPageRank(spark: org.apache.spark.sql.SparkSession, edges: DataFrame,
                             iters: Int, dampMilli: Long): DataFrame = {
    val collected = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("pagerank_micros", LongType, nullable = false)))
    val deg = new java.util.HashMap[Long, Long]()
    collected.foreach { case (s, _) => deg.merge(s, 1L, java.lang.Long.sum(_, _)) }
    val nn = deg.size.toLong
    if (nn == 0L)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    var r = new java.util.HashMap[Long, Long]()
    deg.keySet().forEach(id => r.put(id, 1000000L / nn))
    val teleport = (1000000L - dampMilli * 1000L) / nn
    for (_ <- 0 until iters) {
      val m = new java.util.HashMap[Long, Long]()
      collected.foreach { case (s, d) =>
        m.merge(d, r.get(s) / deg.get(s), java.lang.Long.sum(_, _))
      }
      val next = new java.util.HashMap[Long, Long]()
      // symmetric edges: every vertex has an in-edge, so m covers deg's
      // key set exactly (the distributed inner join drops nothing)
      m.forEach((d, mv) => next.put(d, teleport + (dampMilli * mv) / 1000L))
      r = next
    }
    val rows = new Array[Row](r.size)
    var i = 0
    val it = r.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); rows(i) = Row(e.getKey.longValue(), e.getValue.longValue()); i += 1 }
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq,
      math.max(1, rows.length / 500000)), schema)
  }
}
