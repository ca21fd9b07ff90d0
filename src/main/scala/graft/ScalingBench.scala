package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.algo.{Hedonic, PageRank}
import graft.graph.GraphOps
import graft.ingest.{EdgeExtraction, RepoTable}

/** Scaling-evidence bench (BASELINE.json north rule): run the SAME job at
  * two parallelism levels (local[8] vs local[32] — the sandbox proxy for N
  * vs 4N executors) on the SAME input and report supersteps/sec and
  * edges-processed/sec at each; tools/scaling.sh runs both levels and
  * computes the efficiency ratio.
  *
  * The job is the full mandated pipeline over the Iceberg-shaped repo-file
  * table: synthesize (deterministic seeded-hash SBM blocks — identical at
  * every parallelism level), stamp sha256, extract the path co-occurrence
  * edge table, hedonic to convergence from singletons, PageRank.
  *
  * NOTE the driver-data co-occurrence graphs (supplier x part) are COMPLETE
  * graphs at every sf (every supplier pair shares a part), where density =
  * alpha = 1 makes the singleton partition already an equilibrium — fine
  * for correctness oracles, useless for throughput. The planted repo table
  * (density ~0.06 here) is the non-degenerate benchmark input, and is the
  * input shape BASELINE.json actually mandates.
  */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val nBlocks = sys.env.getOrElse("SPARK_GRAFT_BENCH_BLOCKS", "50").toInt
    // Shuffle partitions scale with DATA, not cores: at 5000 blocks the
    // extraction pair aggregate processes ~1e9 rows, and `partitions =
    // cpus` hands local[8] eight huge hash maps that overflow into
    // external-sort spills (observed: a single 18+ min spill-bound stage).
    // Both parallelism levels use the SAME count so the N-vs-4N ratio
    // measures parallelism, not partitioning; AQE coalesces where 64 is
    // too many. Override via SPARK_GRAFT_SHUFFLE_PARTS.
    val shufParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS",
      math.max(64, cpus).toString)
    // SPARK_GRAFT_MASTER overrides the single-JVM local[$cpus] proxy with
    // e.g. local-cluster[2,4,16384] — SEPARATE executor JVMs (own heaps, own
    // shuffle-IO, torrent broadcast over loopback), the honest sandbox stand-in
    // for "spark-submit on a multi-executor cluster at N and 4N executors"
    // that the north rule mandates. local-cluster needs the compiled classes
    // on the EXECUTOR classpath too (spark.executor.extraClassPath below).
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val builder = SparkSession.builder()
      .master(master)
      .appName(s"graft-scaling-$cpus")
      .config("spark.sql.shuffle.partitions", shufParts)
      // AQE re-plans every shuffle stage; on superstep-loop jobs with
      // fixed, known shapes that is pure driver overhead — measurable via
      // SPARK_GRAFT_AQE=true|false.
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      // Reclaim dead shuffle files (the pinned extraction lineage) during
      // the superstep phase on BOTH launch paths — tools/scaling_java.sh
      // sets this via -D, but the sbt path (tools/scaling.sh) relies on
      // this builder line.
      .config("spark.cleaner.periodicGC.interval", "2min")
      // Pin spark.range/parallelize slice counts to the data-sized shuffle
      // partitioning. In standalone/local-cluster mode defaultParallelism =
      // max(registered cores, 2) and the first job is usually planned BEFORE
      // executors finish registering — observed: the generator's 5e11-cell
      // crossJoin over spark.range ran as 2 tasks at every cluster size,
      // making both scaling legs equally serial.
      .config("spark.default.parallelism", shufParts)
      // The packed-adjacency cache rows carry avg-degree-sized arrays
      // (thousands of elements at dense scale). The columnar cache's
      // default 10k-row batch then needs ~100s of MB of unroll buffer PER
      // TASK at materialization — measured: 4 concurrent pack tasks per
      // 12 GB executor drove execution memory to zero (UNABLE_TO_ACQUIRE_
      // MEMORY in the pack sort) on an 835M-edge build. Small batches cap
      // the unroll spike; scan cost is unchanged (same bytes, more batches).
      .config("spark.sql.inMemoryColumnarStorage.batchSize",
        sys.env.getOrElse("SPARK_GRAFT_CACHE_BATCH", "1024"))
      // Driver-state loops collect V rows per round as primitive arrays;
      // with few cache partitions (1-core legs: 2) a task's slice tops the
      // default 1 MiB maxDirectResultSize and every round pays a per-task
      // block-manager indirection (executor stores the result block, driver
      // fetches it in a second round trip). The collects are bounded
      // (V-row, ~12 B/row) so direct results are safe; a real spark-submit
      // sets the same conf.
      .config("spark.task.maxDirectResultSize", "64m")
      .config("spark.ui.enabled", "false")
    if (master.startsWith("local-cluster")) {
      builder
        .config("spark.executor.extraClassPath",
          sys.env.getOrElse("SPARK_GRAFT_CLASSES",
            new java.io.File("target/scala-2.13/classes").getAbsolutePath))
        .config("spark.executor.memory",
          sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "16g"))
        // Don't let the first stages be planned/scheduled against a
        // half-registered cluster: wait for every worker's executor.
        .config("spark.scheduler.minRegisteredResourcesRatio", "1.0")
        .config("spark.scheduler.maxRegisteredResourcesWaitingTime", "60s")
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Probe-only stage telemetry: wall vs summed task time per stage shows
    // how much of a superstep is parallel work vs serial driver overhead.
    if (sys.env.get("SPARK_GRAFT_STEP_TIMING").exists(_.toBoolean))
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val wall = for {
            s <- si.submissionTime; c <- si.completionTime
          } yield c - s
          System.err.println(
            s"stageTiming id=${si.stageId} tasks=${si.numTasks} " +
            s"wallMs=${wall.getOrElse(-1L)} " +
            s"taskSumMs=${si.taskMetrics.executorRunTime} " +
            s"cpuSumMs=${si.taskMetrics.executorCpuTime / 1000000}")
        }
      })

    val pOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_POUT", "0.0005").toDouble
    val cfg = RepoTable.Config(nBlocks = nBlocks, reposPerBlock = 100,
      pathsPerBlock = 200, pIn = 0.2, pOut = pOut, seed = 42L)

    val sparse = sys.env.get("SPARK_GRAFT_BENCH_SPARSE").exists(_.toBoolean)
    val t0 = System.nanoTime()
    val spark2 = spark; import spark2.implicits._
    // SPARK_GRAFT_EDGES_DIR reuses an already-extracted edge parquet
    // (written by a previous run below) so iteration-phase experiments
    // don't pay the extraction phase again. Scaling-evidence runs leave it
    // unset and run the full pipeline.
    val (edges, nFiles) = sys.env.get("SPARK_GRAFT_EDGES_DIR") match {
      case Some(dir) =>
        (spark.read.parquet(dir).as[graft.model.Edge], 0L)
      case None =>
        val gen = if (sparse) RepoTable.generateSparse(spark, cfg)
                  else RepoTable.generate(spark, cfg)
        // NOT cached: the wide (string) file table is ~100 B/row; deterministic
        // regeneration from seeded hashes is cheaper than caching it. One pass
        // does row count + the per-row sha invariant.
        val files = RepoTable.withSha(gen)
        val check = files.agg(
          count(lit(1)).as("n"),
          sum((col("sha") =!= sha2(col("content"), 256)).cast("long")).as("bad")).collect()(0)
        require(check.getLong(1) == 0, "sha256 invariant violated")
        val (_, edgesDs) = EdgeExtraction.extract(files, dense = false)
        // Durable pin: WRITE the extracted edge table to parquet and re-read.
        // This cuts the extraction lineage (its self-join shuffles get
        // reclaimed before the first superstep) like the old in-memory
        // localCheckpoint pin did, but with ZERO block-manager footprint —
        // the memory-pinned edge RDD (67M deserialized rows, ~8 GB) was
        // observed starving the superstep phase's execution memory into an
        // eviction storm (every task blocked on the UnifiedMemoryManager lock
        // while cached blocks dropped to disk one at a time). It is also the
        // policy a 100 TB run needs: the extracted edge table lives in table
        // storage, not executor memory; only the iteration-local adjacency
        // cache (pinnedSym) earns RAM.
        val edgeDir = sys.env.getOrElse("SPARK_GRAFT_SCRATCH", "/tmp/graft_scaling") +
          s"/edges_b${nBlocks}_c$cpus"
        edgesDs.toDF().write.mode("overwrite").parquet(edgeDir)
        (spark.read.parquet(edgeDir).as[graft.model.Edge], check.getLong(0))
    }
    val edgeCount = edges.count()
    val tExtract = (System.nanoTime() - t0) / 1e9
    val maxSS = sys.env.getOrElse("SPARK_GRAFT_MAX_SS", "30").toInt

    // Persisted: the singleton init is collected by the driver-state loop
    // and vertices(edges) is a 2E-row distinct — without the pin, every
    // consumer re-derives it from the parquet scan.
    val verts = GraphOps.vertices(edges).persist()
    val vCount = verts.count()
    val init = verts.select(col("id"), col("id").as("community"))
    // Same formula as GraphOps.density on counts already taken — passing
    // it explicitly spares Hedonic.run two more full scans.
    val alpha = if (vCount < 2) 0.0 else 2.0 * edgeCount / (vCount.toDouble * (vCount - 1))

    // Strategy override for A/B evidence: rows below this use the
    // broadcast-state iteration (zero edge-scale exchange per round);
    // 0 forces the co-partitioned shuffle path.
    val bcastMax = sys.env.getOrElse("SPARK_GRAFT_BCAST_MAX", "4000000").toLong
    // Pack-SORT width stays data-sized (shrinking it to per-core counts
    // made each in-partition sort huge: build 208 s -> 385 s measured at
    // 12 partitions / 4 cores); the iteration-cache granularity is sized
    // separately below.
    val packParts = sys.env.get("SPARK_GRAFT_PACK_PARTS").map(_.toInt)
      .getOrElse(shufParts.toInt)
    // Iteration-cache partitions track the CLUSTER (2/core): the per-round
    // task dispatch is driver-serial and cluster-invariant, so it is exactly
    // the Amdahl term the N->4N efficiency target punishes.
    val cacheParts = sys.env.get("SPARK_GRAFT_CACHE_PARTS").map(_.toInt)
      .getOrElse(math.max(2, 2 * cpus))

    // SPARK_GRAFT_SHARE_PACK: build the CSR pack ONCE and hand it to both
    // algorithms (src- and dst-packs of a symmetric edge set are identical
    // — Hedonic.run scaladoc). This is the pipeline policy a 100 TB run
    // wants (the pack's E-row shuffle+sort dominates one-time cost; pay it
    // per GRAPH, not per algorithm); off by default so the standalone
    // per-algorithm build phases stay comparable across rounds.
    val sharePack = sys.env.get("SPARK_GRAFT_SHARE_PACK").exists(_.toBoolean) &&
      !sys.env.get("SPARK_GRAFT_SKIP_HED").exists(_.toBoolean) &&
      !sys.env.get("SPARK_GRAFT_SKIP_PR").exists(_.toBoolean)
    val tPack0 = System.nanoTime()
    val sharedPack =
      if (sharePack) Some(graft.graph.PackedAdjacency.build(
        GraphOps.symmetrize(edges).select("src", "dst"), "src",
        weighted = false, partitions = Some(packParts),
        cachePartitions = Some(cacheParts)))
      else None
    val tPackShared = if (sharePack) (System.nanoTime() - tPack0) / 1e9 else 0.0

    // Hedonic to convergence from singletons. Setup (CSR-packed adjacency
    // build — one E-row shuffle, amortized over all supersteps) and the
    // iteration phase are reported separately ALONGSIDE the total: the
    // phases scale differently (build = shuffle-bound one-time cost,
    // supersteps = the per-round rate the metric names), and lumping them
    // hides which one moved.
    val t1 = System.nanoTime()
    // SPARK_GRAFT_SKIP_HED mirrors SKIP_PR: on disk-tight hosts the two
    // algorithms' pack shuffles (one each) can't coexist in /tmp, so the
    // phases are measured in separate runs against the same edge parquet.
    val (supersteps, tHedIter, communities) =
      if (!sys.env.get("SPARK_GRAFT_SKIP_HED").exists(_.toBoolean)) {
        val (members, metrics) = Hedonic.run(edges, init,
          Hedonic.Config(alpha = Some(alpha), maxSupersteps = maxSS,
            broadcastStateMaxRows = bcastMax,
            packPartitions = Some(packParts), cachePartitions = Some(cacheParts)),
          packedOpt = sharedPack)
        System.err.println("superstep wallMs: " + metrics.map(_.wallMs).mkString(","))
        (metrics.size, metrics.map(_.wallMs).sum / 1e3,
          members.select("community").distinct().count())
      } else (0, 0.0, 0L)
    val tHed = (System.nanoTime() - t1) / 1e9
    val tHedBuild = tHed - tHedIter
    val hedEdgesProcessed = 2L * edgeCount * supersteps
    val hedSsPerSec = if (supersteps > 0) supersteps / tHed else 0.0
    val hedIterSsPerSec = if (tHedIter > 0) supersteps / tHedIter else 0.0
    val hedEdgesPerSec = if (supersteps > 0) hedEdgesProcessed / tHed else 0.0
    val hedIterEdgesPerSec = if (tHedIter > 0) hedEdgesProcessed / tHedIter else 0.0

    // PageRank: fixed iterations (default 10; the per-iteration cost is the
    // metric; a tol run adds a delta-join per iteration, timed separately).
    // SPARK_GRAFT_PR_ITERS raises the count on scaling legs where the
    // per-iteration envelope would otherwise dominate the measurement —
    // more rounds average scheduler noise without changing per-round work.
    val prIters = sys.env.getOrElse("SPARK_GRAFT_PR_ITERS", "10").toInt
    val t2 = System.nanoTime()
    val prIterMs =
      if (!sys.env.get("SPARK_GRAFT_SKIP_PR").exists(_.toBoolean)) {
        val (pr, ms) = PageRank.runTimed(edges,
          PageRank.Config(fixedIter = Some(prIters), broadcastStateMaxRows = bcastMax,
            packPartitions = Some(packParts),
            cachePartitions = Some(cacheParts)),
          packedOpt = sharedPack)
        pr.count()
        ms
      } else Seq.empty[Long]
    sharedPack.foreach(_.unpersist())
    val tPr10 = (System.nanoTime() - t2) / 1e9
    val tPrIter = prIterMs.sum / 1e3
    val tPrBuild = tPr10 - tPrIter
    // Guard like prIterEdgesPerSec below: with SPARK_GRAFT_SKIP_PR the
    // phase ran 0 iterations and tPr10 is epsilon — emitting 2E*10/eps
    // would fake an absurd rate (ADVICE r3).
    val prEdgesPerSec =
      if (prIterMs.nonEmpty) 2.0 * edgeCount * prIterMs.size / tPr10 else 0.0
    val prIterEdgesPerSec =
      if (tPrIter > 0) 2.0 * edgeCount * prIterMs.size / tPrIter else 0.0

    val json =
      s"""{"cpus":$cpus,"blocks":$nBlocks,"files":$nFiles,""" +
      s""""vertices":$vCount,"edges":$edgeCount,"communities":$communities,""" +
      s""""extract_sec":${f"$tExtract%.3f"},""" +
      s""""shared_pack_sec":${f"$tPackShared%.3f"},""" +
      s""""hedonic_sec":${f"$tHed%.3f"},"hedonic_supersteps":$supersteps,""" +
      s""""hedonic_build_sec":${f"$tHedBuild%.3f"},""" +
      s""""hedonic_iter_sec":${f"$tHedIter%.3f"},""" +
      s""""hedonic_supersteps_per_sec":${f"$hedSsPerSec%.4f"},""" +
      s""""hedonic_iter_supersteps_per_sec":${f"$hedIterSsPerSec%.4f"},""" +
      s""""hedonic_edges_per_sec":${f"$hedEdgesPerSec%.1f"},""" +
      s""""hedonic_iter_edges_per_sec":${f"$hedIterEdgesPerSec%.1f"},""" +
      s""""pagerank10_sec":${f"$tPr10%.3f"},""" + // key kept for cross-round compare
      s""""pagerank_iters":${prIterMs.size},""" +
      s""""pagerank_build_sec":${f"$tPrBuild%.3f"},""" +
      s""""pagerank_iter_sec":${f"$tPrIter%.3f"},""" +
      s""""pagerank_edges_per_sec":${f"$prEdgesPerSec%.1f"},""" +
      s""""pagerank_iter_edges_per_sec":${f"$prIterEdgesPerSec%.1f"}}"""
    println(json)
    spark.stop()
  }
}
