package graft

import graft.ops.Components

/** Connected components must equal a driver-side union-find on arbitrary
  * pair lists — including shapes min-propagation alone converges slowly on
  * (chains) and shapes that exercise the pointer jump (stars, cycles).
  */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Reference: classic union-find with path compression. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // roots are not guaranteed minimal under arbitrary union order unless we
    // always attach the larger root (done above), so find() now yields the
    // min id of each component
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Both physical routes must agree with each other and the reference:
    * driverEdgeLimit=0 forces the distributed propagation loop.
    */
  private def ccOf(pairs: Seq[(Long, Long)], maxIter: Int = 20): Map[Long, Long] = {
    val df = pairs.toDF("id_a", "id_b")
    val driver = Components.connectedComponents(df, maxIter = maxIter)
      .as[(Long, Long)].collect().toMap
    val distributed = Components.connectedComponents(df, maxIter = maxIter, driverEdgeLimit = 0)
      .as[(Long, Long)].collect().toMap
    assert(driver == distributed, "driver union-find and distributed propagation disagree")
    driver
  }

  test("chain, star, cycle, and disjoint pairs all collapse to min-id labels") {
    val chain = (1L to 20L).sliding(2).map(s => (s(0), s(1))).toSeq
    assert(ccOf(chain) == (1L to 20L).map(_ -> 1L).toMap)

    val star = (2L to 10L).map(i => (1L, i))
    assert(ccOf(star) == (1L to 10L).map(_ -> 1L).toMap)

    val cycle = Seq((5L, 6L), (6L, 7L), (7L, 5L))
    assert(ccOf(cycle) == Map(5L -> 5L, 6L -> 5L, 7L -> 5L))

    val disjoint = Seq((1L, 2L), (3L, 4L), (10L, 11L))
    assert(ccOf(disjoint) == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 10L -> 10L, 11L -> 10L))
  }

  test("edge orientation and duplicates do not matter") {
    val pairs = Seq((2L, 1L), (1L, 2L), (2L, 3L), (3L, 2L), (3L, 3L))
    assert(ccOf(pairs) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("property: equals union-find on random pair lists") {
    val rnd = new scala.util.Random(42)
    (1 to 8).foreach { _ =>
      val n = 1 + rnd.nextInt(60)
      val pairs = Seq.fill(n)((rnd.nextLong(41), rnd.nextLong(41)))
      assert(ccOf(pairs) == unionFind(pairs), s"pairs: $pairs")
    }
  }

  test("dedupClusters marks exactly one keeper per component") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val out = Components.dedupClusters(pairs).as[(Long, Long, Boolean)].collect().toSeq
    assert(out.filter(_._3).map(_._1).sorted == Seq(1L, 7L))
    assert(out.groupBy(_._2).forall { case (_, members) => members.count(_._3) == 1 })
  }

  test("self-loops only: every vertex is its own component") {
    assert(ccOf(Seq((4L, 4L), (9L, 9L))) == Map(4L -> 4L, 9L -> 9L))
  }

  test("empty pair list yields an empty labeling on both routes") {
    assert(ccOf(Seq.empty[(Long, Long)]) == Map.empty[Long, Long])
  }

  test("non-integral id columns are rejected") {
    val strPairs = Seq(("a", "b")).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      Components.connectedComponents(strPairs)
    }
  }

  test("clusterSizeStats: histogram over one triangle, one chain-of-4, two pairs") {
    // components: {1,2,3} (triangle), {10,11,12,13} (chain), {20,21}, {30,31}
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L),
      (12L, 13L), (20L, 21L), (30L, 31L)).toDF("id_a", "id_b")
    val out = Components.clusterSizeStats(pairs)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((2L, 2L, 4L), (3L, 1L, 3L), (4L, 1L, 4L)), out.toString)
  }

  test("X7pr pageRank: hub outranks leaves, symmetric pair ranks equal, micro-units exact") {
    // star (1 hub, 3 leaves) plus an isolated pair {10, 11}
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val pr = Components.pageRank(pairs)
      .as[(Long, Long)].collect().toMap
    graft.ops.OpCaches.release()
    assert(pr.keySet == Set(1L, 2L, 3L, 4L, 10L, 11L), "every incident vertex ranks")
    assert(pr.values.forall(_ > 0L), "micro-ranks positive")
    assert(pr(1L) > pr(2L) && pr(1L) > pr(3L) && pr(1L) > pr(4L),
      s"hub must outrank leaves: $pr")
    assert(pr(2L) == pr(3L) && pr(3L) == pr(4L), "symmetric leaves rank equally")
    assert(pr(10L) == pr(11L), "symmetric pair ranks equally")
    // replay the fixed-point recurrence by hand for the pair component:
    // N = 6, r0 = 1000000/6 = 166666; pair: deg 1 both sides, so each
    // iteration r' = (150000/6) + (850*r)/1000 = 25000 + floor(0.85 r)
    var r = 1000000L / 6
    (1 to graft.ops.Components.PageRankIters).foreach { _ =>
      r = 150000L / 6 + (850L * r) / 1000L
    }
    assert(pr(10L) == r, s"pair micro-rank must replay the recurrence: ${pr(10L)} != $r")
  }

  test("X7pr pageRank: per-iteration localCheckpoint is value-neutral at deep K") {
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (10L, 11L),
      (11L, 12L), (12L, 10L), (20L, 21L)).toDF("id_a", "id_b")
    val k = 25 // past PageRankCheckpointAfter → truncated lineage path
    val lazyPath = Components.pageRank(pairs, iters = k, checkpointAfter = k + 1)
      .as[(Long, Long)].collect().toMap
    graft.ops.OpCaches.release()
    val ckptPath = Components.pageRank(pairs, iters = k, checkpointAfter = 0)
      .as[(Long, Long)].collect().toMap
    graft.ops.OpCaches.release()
    assert(lazyPath == ckptPath,
      s"checkpointing changed values: $lazyPath vs $ckptPath")
  }

  test("X7pr pageRank: driver route == distributed route bit-for-bit (and int ids round-trip)") {
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (10L, 11L),
      (11L, 12L), (12L, 10L), (20L, 21L), (4L, 5L), (5L, 6L)).toDF("id_a", "id_b")
    val driver = Components.pageRank(pairs).as[(Long, Long)].collect().toMap
    graft.ops.OpCaches.release()
    // driverEdgeLimit = 0 forces the distributed chained-join loop
    val dist = Components.pageRank(pairs, driverEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    graft.ops.OpCaches.release()
    assert(driver == dist, s"route divergence: $driver vs $dist")
    val intPairs = Seq((1, 2), (2, 3), (7, 8)).toDF("id_a", "id_b")
    val prInt = Components.pageRank(intPairs)
    assert(prInt.schema("id").dataType == org.apache.spark.sql.types.IntegerType)
    val intMap = prInt.as[(Int, Long)].collect().toMap
    graft.ops.OpCaches.release()
    val intDist = Components.pageRank(intPairs, driverEdgeLimit = 0L)
      .as[(Int, Long)].collect().toMap
    graft.ops.OpCaches.release()
    assert(intMap == intDist, s"int-id route divergence: $intMap vs $intDist")
  }

  test("iteration rounds leave no persisted RDD once OpCaches.release() runs") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val chain = (1L to 20L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("id_a", "id_b")
    val cc = Components.connectedComponents(chain, driverEdgeLimit = 0)
    assert(cc.count() == 20)
    // pageRank's truncated route checkpoints every round the same way
    val pr = Components.pageRank(chain, iters = 4, checkpointAfter = 0, driverEdgeLimit = 0L)
    assert(pr.count() == 20)
    graft.ops.OpCaches.release()
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"still persisted: RDDs $left")
  }
}
