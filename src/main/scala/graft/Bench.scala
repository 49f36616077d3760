package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...,"queries":{...}}. Results are fully
  * materialized through a noop write (count() alone would let Catalyst prune
  * the projections we mean to measure).
  *
  * Each query is timed REPS times in the same JVM — one timing per FULL
  * PASS over the registry, each pass in a seeded-shuffled order so no query
  * keeps the same JVM neighbors across reps — and reported as the per-query
  * MIN (raw runs under "runs", per-pass order under "order"): on a shared
  * sandbox a single-shot timing swings 4-8x with machine load (round-3
  * driver bench read 84.6s where two same-binary re-runs read 45.0s /
  * 34.0s), and the min is the standard noise-robust estimator of the code's
  * actual cost.
  * Operator-internal caches are released between runs so every repetition
  * pays the full pipeline (no warm-cache flattering), and released after the
  * last run so queries are isolated from each other.
  *
  * Artifact note: BENCH_r*.json "queries" values are therefore per-query
  * MIN over the passes; the ×100 one-JVM registry runs (bench_x100_*.json)
  * are single-pass — an interference measurement by design, so their cells
  * are NOT directly comparable to min-of-reps numbers (the r13 ×100 run's
  * Finding 2: compare like with like, or isolate the query in its own JVM).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      // The generated-class cache defaults to 100 entries — far under this
      // registry's plan count, so with shuffled passes EVERY rep would pay
      // Janino compilation for every query (back-to-back reps hid it in
      // reps 2..n and min-of-reps measured steady state; measured r10: a
      // flat +0.3-0.5 s on every small query, calibration floors unmoved).
      // Sized to hold the whole registry so min-of-reps is steady-state
      // again under any schedule.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    cacheTables(spark, sfDir, cpus)

    // one warm-up pass of a tiny query to exclude JVM/codegen cold start
    SparkEntry.queries.get("a1_checkpoint_max").foreach { fn =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }

    // floor at 1: reps=0 would make runs.min throw before ANY summary line
    // prints, leaving the driver's stdout-tail parse with nothing
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    // optional comma-separated allowlist, for scale rehearsals on derived
    // fixtures that carry only a subset of the tables (SCALING.md)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach(_.diff(SparkEntry.queries.keySet).foreach(n =>
      System.err.println(s"[bench] SPARK_GRAFT_BENCH_ONLY name not in registry: $n")))
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
    // a filtered run must never be mistaken for a full-registry total; the
    // registry size is ALWAYS present so trend scripts can sanity-check
    val subsetTag = s""","subset":${only.isDefined},"registry":${SparkEntry.queries.size}"""
    // Noise floor: a fixed tiny CPU-bound job timed before every rep. Its
    // wall-clock has nothing to do with the query under test, so any swing
    // in the calibration series IS sandbox contention — cross-round
    // comparisons can gate on it instead of mistaking a loaded machine for
    // a code regression (r7 post-mortem: 15x phantom slowdowns).
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 20000000L, 1L, cpus)
        // modulus BEFORE the sum: 2e7 terms < 1e9 each stays far below
        // 2^63 (the raw products would overflow ANSI long addition)
        .selectExpr("sum((id * 2654435761) % 1000000007) as s")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // Second floor: allocation/hashing-bound (string building + md5),
    // the profile of the shingle/gram family. The arithmetic spin above
    // misses memory-bandwidth and GC-pressure drift — measured this round:
    // same-binary re-runs of the shingle queries sat 1.3-1.7x above a
    // prior artifact while the spin floor was byte-identical, so trend
    // gating needs BOTH floors to call a slowdown credible.
    def calibrateMem(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 400000L, 1L, cpus)
        .selectExpr("max(md5(concat(repeat('x', CAST(id % 97 AS INT)), CAST(id AS STRING)))) as m")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    calibrate(); calibrateMem() // warm the calibration paths themselves once
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Reps are full PASSES over the registry, each pass in a seeded-shuffled
    // order (seed = pass index, so the schedule is identical across rounds
    // and machines): back-to-back alphabetical reps gave every query the
    // same JVM neighbors every round, so a heavy newcomer adjacent in the
    // registry read as a regression of its innocent neighbors
    // (x5_feature_drift/x2_simhash128_pairs/x8_curation_v8, r9 post-mortem)
    // — min-over-differently-ordered-passes makes any single bad
    // neighborhood survivable, and the per-pass order is recorded in the
    // detail artifact so a residual trend can be attributed to its actual
    // predecessors instead of costing a manual A/B.
    val names = selected.keys.toSeq.sorted
    val byName = scala.collection.mutable.LinkedHashMap(
      names.map(n => n -> scala.collection.mutable.ArrayBuffer
        .empty[(Option[Double], Double, Double)]): _*)
    val orders = (1 to reps).map { rep =>
      val order = new scala.util.Random(0xC0FFEEL + rep).shuffle(names)
      order.foreach { name =>
        val fn = selected(name)
        val cal = calibrate()
        val calM = calibrateMem()
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            if (!errors.contains(name))
              errors += (name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
            false
          }
        val elapsed = (System.nanoTime() - t0) / 1e9 // capture BEFORE cleanup
        // drop operator-internal persisted helpers outside the timed
        // region: the next rep must rebuild them, and the next query must
        // not compete with their blocks for executor memory
        graft.ops.OpCaches.release()
        byName(name) += ((if (ok) Some(elapsed) else None, cal, calM))
      }
      order
    }
    val results = names.map { name =>
      val timed = byName(name).toSeq
      val runs = timed.map(_._1)
      val cals = timed.map(_._2)
      val calMs = timed.map(_._3)
      // a query that failed ANY rep is reported failed (null): partial
      // timings of a flaky query are not comparable across rounds
      val best = if (runs.exists(_.isEmpty)) None else Some(runs.flatten.min)
      (name, best, runs, cals, calMs)
    }
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def f3o(v: Option[Double]): String = v.fold("null")(f3)
    val qs = results.map { case (k, v, _, _, _) => "\"" + k + "\":" + f3o(v) }.mkString("{", ",", "}")
    val raw = results.map { case (k, _, rs, _, _) => "\"" + k + "\":" + rs.map(f3o).mkString("[", ",", "]") }.mkString("{", ",", "}")
    val cal = results.map { case (k, _, _, cs, _) => "\"" + k + "\":" + cs.map(f3).mkString("[", ",", "]") }.mkString("{", ",", "}")
    val calM = results.map { case (k, _, _, _, cs) => "\"" + k + "\":" + cs.map(f3).mkString("[", ",", "]") }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) =>
      "\"" + k + "\":\"" + v.replaceAll("[\\\\\"]", "'").replaceAll("[\\x00-\\x1f]", " ") + "\"" }
      .mkString("{", ",", "}")
    // failures are excluded from the total (they are named in "errors")
    val total = results.flatMap(_._2).sum
    val failed = results.count(_._2.isEmpty)
    // The driver captures only a 2000-char stdout tail and json-parses it
    // per line; rounds 1-5 all came back "parsed": null because the
    // queries-map summary outgrew the window (r1-r3) or sbt's logger
    // prefixed it with "[info] " (r4-r5, fixed via outputStrategy in
    // build.sbt). Defense in depth: per-query mins and per-rep runs go to a
    // FILE artifact, the full line prints for humans, and a lean summary
    // (~160 chars, always inside the window) prints LAST.
    val orderJson = orders.map(_.map("\"" + _ + "\"").mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    val detail =
      s"""{"metric":"detail","reps":$reps$subsetTag,"mins":$qs,"runs":$raw,"calibration":$cal,"calibration_mem":$calM,"order":$orderJson,"errors":$errJson,"sf":"$sfDir"}"""
    val full =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","failed":$failed,"reps":$reps$subsetTag,"queries":$qs,"sf":"$sfDir"}"""
    val detailPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "bench_detail.json"))
    java.nio.file.Files.write(detailPath,
      (detail + "\n" + full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(full)
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","failed":$failed,"reps":$reps$subsetTag,"detail":"${detailPath.toString}","sf":"$sfDir"}""")
    spark.stop()
  }

  /** Registers each fixture table under `sfDir` as a cached, materialized
    * temp view, so every query shares one scan per table instead of
    * re-reading parquet per query. Returns the names of the cached tables.
    * [[graft.tools.Prof]] uses the same layout, so its stage attribution
    * sees what this bench sees.
    */
  def cacheTables(spark: SparkSession, sfDir: String, cpus: Int): Seq[String] = {
    // Partitioning (r16, guide §2.5/§6.1): the sf fixtures are single
    // small parquet files, so the default scan yields ONE input partition
    // (three for lineitem) and every query's pre-exchange pipeline —
    // normalize/shingle/md5 explodes, the most compute-dense spans of the
    // registry — ran single-threaded (measured: x2_allpairs_jaccard spent
    // 8.4 s of 10.6 s in two 1-task stages). A production table arrives
    // in thousands of splits; the local 1-split layout is a fixture
    // artifact, not a property of the queries. The cache layout is made
    // scale-ADAPTIVE: partitions derive from the table's own row count
    // and the session's core count (never a constant), so the driver's
    // lower-core bench run keeps its proportional layout and sub-
    // core-count tables (region, nation) stay single-partition instead
    // of paying 32 near-empty cache partitions per scan. Row order inside
    // partitions changes; every registered query is order-insensitive by
    // house discipline (order-free aggregates, explicit output sorts —
    // the same property the oracle hash gate already relies on).
    // Materialization (count) stays outside the timed region.
    // Per-row compute density drives the split rule (measured r16): the
    // text/vector tables (KB documents, 64-dim vectors) are consumed by
    // explode/score pipelines worth full parallelism at a few thousand
    // rows, while relational tables are consumed by exchange-bound
    // aggregates/joins where extra map partitions ADD cost (more blocks,
    // more partial-buffer merges — measured: a 32-partition cache put
    // +0.9..+1.5 s on each sketch/distinct-join query while winning
    // nothing they needed).
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val rowsPerPart = Map("documents" -> 64L, "embeddings" -> 64L)
      .withDefaultValue(16384L)
    // SPARK_GRAFT_BENCH_FLAT=1 disables the adaptive repartition (raw
    // fixture layout) — the interleaved-A/B knob for attributing a
    // per-query delta to the cache LAYOUT vs the query code (BASELINE.md
    // protocol; r16's three 32-core layout regressions).
    val flatLayout = sys.env.get("SPARK_GRAFT_BENCH_FLAT").contains("1")
    tables.filter(name => new java.io.File(s"$sfDir/$name.parquet").exists()).map { name =>
      val df0 = spark.read.parquet(s"$sfDir/$name.parquet")
      val rows = df0.count()
      val parts = math.min(cpus.toLong, math.max(1L, rows / rowsPerPart(name))).toInt
      val df = if (flatLayout || df0.rdd.getNumPartitions >= parts) df0
               else df0.repartition(parts)
      df.createOrReplaceTempView(name)
      spark.catalog.cacheTable(name)
      df.count() // materialize outside the timed region
      name
    }
  }
}
