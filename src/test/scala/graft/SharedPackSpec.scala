package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import graft.algo.{ConnectedComponents, Hedonic, HedonicFrontier, LabelPropagation, PageRank, Spectral,
  TriangleCount}
import graft.graph.{GraphOps, PackedAdjacency}

/** Pack-once, run-many: a caller-built CSR pack of the symmetrized edges is
  * honored by Hedonic.run and PageRank.runTimed on the broadcast-state path
  * (src- and dst-packs of a symmetric edge set are identical), with results
  * bitwise equal to each algorithm building its own pack, and the CACHE
  * LIFETIME owned by the caller — the runs must neither unpersist the
  * shared pack mid-pipeline nor leak their own reindexed caches. */
class SharedPackSpec extends SparkSpec {

  private val pairs = Seq[(Long, Long)](
    (0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3), (5, 6), (6, 7))

  /** A result's row count, after which the caller releases what it owns
    * of it: the pinned state a shuffle-path result scans. Anything else
    * still persisted afterwards was leaked by the run. */
  private def countAndRelease(df: DataFrame): Long = {
    val n = df.count()
    def lineage(r: RDD[_]): Seq[RDD[_]] = r +: r.dependencies.flatMap(d => lineage(d.rdd))
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }.flatMap(lineage)
      .filter(_.getStorageLevel != StorageLevel.NONE)
      .foreach(_.unpersist(blocking = true))
    n
  }

  test("hedonic + pagerank on one shared pack match own-pack runs bitwise") {
    val e = edgesOf(pairs)
    val init = membersOf((0L to 7L).map(i => (i, i)))
    val cfgH = Hedonic.Config(maxSupersteps = 40)
    val cfgP = PageRank.Config(fixedIter = Some(20))
    // lacks pack vertex 7, adds isolated vertex 42
    val misaligned = membersOf((0L to 6L).map(i => (i, i % 3)) :+ ((42L, 42L)))
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet

    val (ownH, ownMet) = Hedonic.run(e, init, cfgH)
    val ownHM = toMap(ownH)
    val ownP = PageRank.run(e, cfgP)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ownL = toMap(LabelPropagation.run(e)) // toMap is positional (id, label)

    // The own-pack runs above must precede the shared build: Spark's
    // CacheManager keys entries by canonicalized plan, so an own-pack run
    // over the identical plan would evict the shared entry on ITS
    // unpersist. (Real pipelines share the PackedAdj instance instead of
    // rebuilding an identical plan, so this aliasing is test-only.)
    val pack = PackedAdjacency.build(
      GraphOps.symmetrize(e).select("src", "dst"), "src")
    val (shH, shMet) = Hedonic.run(e, init, cfgH, packedOpt = Some(pack))
    // the pipeline contract: hedonic must NOT have released the shared pack
    assert(pack.df.storageLevel.useMemory,
      "shared pack was unpersisted by Hedonic.run")
    val (shPdf, _) = PageRank.runTimed(e, cfgP, None, packedOpt = Some(pack))
    val shP = shPdf.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pack.df.storageLevel.useMemory,
      "shared pack was unpersisted by PageRank.runTimed")
    val shL = toMap(LabelPropagation.run(e, packedOpt = Some(pack)))
    assert(pack.df.storageLevel.useMemory,
      "shared pack was unpersisted by LabelPropagation.run")
    assert(shL == ownL)
    // The other driver-state loops take no shared pack: the one-step
    // hedonic fast path and bestLabels build none, the frontier executor
    // and the spectral vector build their own. None of them may release
    // the shared pack (or leak a cache — checked below).
    val others = Seq[(String, () => Long)](
      "HedonicFrontier.run" -> (() => HedonicFrontier.run(e, init, cfgH)._1.count()),
      "one-step Hedonic.run" ->
        (() => Hedonic.run(e, init, cfgH.copy(maxSupersteps = 1))._1.count()),
      "LabelPropagation.bestLabels" -> (() => LabelPropagation.bestLabels(
        GraphOps.symmetrize(e).select("src", "dst"),
        GraphOps.vertices(e).select(col("id"), col("id").as("label"))).count()),
      "Spectral.wholeGraphVector" -> (() => Spectral.wholeGraphVector(e, iters = 5).count()),
      // own-pack PageRank and default-init LPA, within and over budget:
      // their persisted degree table must be released on both paths
      "own-pack PageRank.runTimed" -> (() => countAndRelease(PageRank.runTimed(e, cfgP)._1)),
      "own-pack PageRank.runTimed over budget" -> (() => countAndRelease(
        PageRank.runTimed(e, cfgP.copy(broadcastStateMaxRows = 7L))._1)),
      "LabelPropagation.run" -> (() => countAndRelease(LabelPropagation.run(e))),
      "LabelPropagation.run over budget" -> (() => countAndRelease(
        LabelPropagation.run(e, broadcastStateMaxRows = 7L))),
      // CC: the driver union-find, and the star loop after a gate that
      // proved the 9 edges over a budget of 3
      "ConnectedComponents.run" -> (() => countAndRelease(ConnectedComponents.run(e))),
      "ConnectedComponents.run over budget" -> (() => countAndRelease(
        ConnectedComponents.run(e, maxDriverEdges = 3L))),
      // a state that is not the pack's vertex set runs on a renumbered
      // copy of the shared pack, which the run must release
      "misaligned Hedonic.run on the shared pack" ->
        (() => Hedonic.run(e, misaligned, cfgH, Some(pack))._1.count()),
      "misaligned LabelPropagation.run on the shared pack" -> (() => LabelPropagation.run(e,
        Some(misaligned.withColumnRenamed("community", "label")), packedOpt = Some(pack)).count()))
    // TriangleCount: the driver CSR, and the distributed plan after a gate
    // that proved the 9 edges over a budget of 3. Their result is the
    // count of the two triangles, not a row count.
    val runs = others.map { case (who, body) => (who, 8L, body) } ++ Seq[(String, Long, () => Long)](
      ("TriangleCount.count", 2L, () => TriangleCount.count(e)),
      ("TriangleCount.count over budget", 2L, () => TriangleCount.countWithin(e, 3L)))
    // Leaks are checked per run: several runs persist the same degree
    // plan, and a later run's unpersist would remove an earlier run's
    // leaked entry before a check at the end could see it.
    runs.foreach { case (who, want, body) =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      assert(body() == want, s"$who: wrong result")
      assert(pack.df.storageLevel.useMemory, s"shared pack was unpersisted by $who")
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"$who leaked persistent RDDs: $leaked")
    }

    assert(toMap(shH) == ownHM)
    assert(shMet.map(m => (m.superstep, m.moved, m.frontier)) ==
      ownMet.map(m => (m.superstep, m.moved, m.frontier)))
    assert(shP.keySet == ownP.keySet)
    // same kernels, same per-vertex sorted accumulation order -> bitwise
    shP.foreach { case (id, r) => assert(r == ownP(id), s"rank mismatch at $id") }

    pack.unpersist()
    // no leaked reindexed caches from either run (delta vs suite entry —
    // the session is shared across suites)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty, s"persistent RDDs leaked: $leaked")
  }

  test("a state that is not the pack's vertex set: same result as own packs and the shuffle path") {
    val e = edgesOf(pairs)
    // lacks pack vertex 7, adds isolated vertex 42
    val init = membersOf((0L to 6L).map(i => (i, i % 3)) :+ ((42L, 42L)))
    val labels = init.withColumnRenamed("community", "label")
    val cfg = Hedonic.Config(maxSupersteps = 40)
    val (ownH, ownMet) = Hedonic.run(e, init, cfg)
    val (shufH, shufMet) = Hedonic.run(e, init, cfg.copy(broadcastStateMaxRows = 0L))
    val ownL = toMap(LabelPropagation.run(e, Some(labels)))
    val shufL = toMap(LabelPropagation.run(e, Some(labels), broadcastStateMaxRows = 0L))
    val pack = PackedAdjacency.build(GraphOps.symmetrize(e).select("src", "dst"), "src")
    val (shH, shMet) = Hedonic.run(e, init, cfg, Some(pack))
    val shL = toMap(LabelPropagation.run(e, Some(labels), packedOpt = Some(pack)))
    def steps(ms: Seq[graft.model.RunMetrics]) = ms.map(m => (m.superstep, m.moved, m.frontier))
    assert(toMap(shH).keySet == (0L to 6L).toSet + 42L)
    assert(toMap(shH) == toMap(ownH))
    assert(toMap(shH) == toMap(shufH))
    assert(steps(shMet) == steps(ownMet))
    assert(steps(shMet) == steps(shufMet))
    assert(shL.keySet == (0L to 6L).toSet + 42L)
    assert(shL == ownL)
    assert(shL == shufL)
    pack.unpersist()
  }

  test("calls over a shared hub-free pack submit only their gate and their rounds") {
    // Adaptive execution off, as it splits each shuffle stage into a job
    // of its own.
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val e = edgesOf(Fixtures.zachary)
      val pack = PackedAdjacency.build(GraphOps.symmetrize(e).select("src", "dst"), "src")
      assert(pack.maxSegs == 1 && pack.ids.length == 34)
      // PageRank: degrees come with the pack, the output frame is lazy
      for (k <- Seq(1, 4)) {
        val ((_, iters), jobs) = jobsOf(s"shared-pagerank-$k")(
          PageRank.runTimed(e, PageRank.Config(fixedIter = Some(k)), packedOpt = Some(pack)))
        assert(iters.size == k)
        assert(jobs == k, s"fixedIter=$k")
      }
      // default-init LPA: the state is the pack's numbering; maxIter stops
      // it before convergence
      for (k <- Seq(1, 3)) {
        val (_, jobs) = jobsOf(s"shared-lpa-$k")(
          LabelPropagation.run(e, maxIter = k, packedOpt = Some(pack)))
        assert(jobs == k, s"maxIter=$k")
      }
      // Hedonic at the density alpha: the gate's capped collect, then one
      // job per superstep — alpha comes off the pack (V, 2E)
      val init = GraphOps.vertices(e).select(col("id"), col("id").as("community"))
      val (_, gateJobs) = jobsOf("shared-hedonic-gate")(
        graft.algo.Superstep.stateGate(init, Hedonic.Config().broadcastStateMaxRows))
      assert(gateJobs > 0, "listener never saw the gate")
      val cfg = Hedonic.Config(maxSupersteps = 40)
      val ((shared, met), jobs) = jobsOf("shared-hedonic")(Hedonic.run(e, init, cfg, Some(pack)))
      assert(met.nonEmpty && met.last.frontier == 0L)
      assert(jobs == gateJobs + met.size)
      val alpha = GraphOps.density(e)
      assert(toMap(shared) == toMap(Hedonic.run(e, init, cfg.copy(alpha = Some(alpha)))._1))
      assert(toMap(shared) == toMap(Hedonic.run(e, init, cfg)._1))
      pack.unpersist()
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("hedonic over a shared hub pack submits as many jobs as over the hub-free pack") {
    withoutAqe {
      val e = edgesOf(Fixtures.zachary)
      val sym = GraphOps.symmetrize(e).select("src", "dst")
      val free = PackedAdjacency.build(sym, "src")
      val hub = PackedAdjacency.build(sym, "src", segCap = 2)
      assert(free.maxSegs == 1 && hub.maxSegs > 1)
      val init = GraphOps.vertices(e).select(col("id"), col("id").as("community"))
      val cfg = Hedonic.Config(maxSupersteps = 40)
      val ((mF, metF), jobsF) = jobsOf("hedonic-free-pack")(Hedonic.run(e, init, cfg, Some(free)))
      val ((mH, metH), jobsH) = jobsOf("hedonic-hub-pack")(Hedonic.run(e, init, cfg, Some(hub)))
      assert(metF.size > 1)
      assert(metH.map(m => (m.superstep, m.moved, m.frontier)) ==
        metF.map(m => (m.superstep, m.moved, m.frontier)))
      assert(toMap(mH) == toMap(mF))
      assert(jobsH == jobsF)
      free.unpersist(); hub.unpersist()
    }
  }

  test("a shared hub pack: runs leak no cache, keep the pack, and default-init LPA runs no id job") {
    withoutAqe {
      val e = edgesOf(Fixtures.zachary)
      val pack = PackedAdjacency.build(GraphOps.symmetrize(e).select("src", "dst"), "src",
        segCap = 2)
      assert(pack.maxSegs > 1)
      // lacks pack vertex 33, adds isolated vertex 42: a renumbered copy
      val misaligned = membersOf((0L to 32L).map(i => (i, i % 3)) :+ ((42L, 42L)))
      val runs = Seq[(String, () => Long)](
        "misaligned Hedonic.run" -> (() =>
          Hedonic.run(e, misaligned, Hedonic.Config(maxSupersteps = 40), Some(pack))._1.count()),
        "default-init LabelPropagation.run" -> (() =>
          LabelPropagation.run(e, packedOpt = Some(pack)).count()),
        "PageRank.runTimed" -> (() => PageRank.runTimed(e,
          PageRank.Config(fixedIter = Some(5)), packedOpt = Some(pack))._1.count()))
      runs.foreach { case (who, body) =>
        val before = spark.sparkContext.getPersistentRDDs.keySet
        assert(body() == 34L, s"$who: wrong row count")
        assert(pack.df.storageLevel.useMemory, s"shared pack was unpersisted by $who")
        val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
        assert(leaked.isEmpty, s"$who leaked persistent RDDs: $leaked")
      }
      // the state is the pack's numbering: one job per round and no other
      for (k <- Seq(1, 3)) {
        val (_, jobs) = jobsOf(s"shared-hub-lpa-$k")(
          LabelPropagation.run(e, maxIter = k, packedOpt = Some(pack)))
        assert(jobs == k, s"maxIter=$k")
      }
      pack.unpersist()
    }
  }

  test("weighted hedonic honors a weighted shared pack") {
    import spark.implicits._
    val wedges = pairs.map { case (u, v) =>
      graft.model.Edge(u, v, ((u * 3 + v) % 4 + 1).toDouble)
    }.toDS()
    val init = membersOf((0L to 7L).map(i => (i, i % 3)))
    val cfg = Hedonic.Config(maxSupersteps = 40, weighted = true)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val (own, _) = Hedonic.run(wedges, init, cfg)
    val pack = PackedAdjacency.build(
      GraphOps.symmetrize(wedges).select("src", "dst", "weight"), "src",
      weighted = true)
    val (sh, _) = Hedonic.run(wedges, init, cfg, packedOpt = Some(pack))
    assert(toMap(sh) == toMap(own))
    pack.unpersist()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty, s"persistent RDDs leaked: $leaked")
  }

  test("mismatched weighted flag on a prebuilt pack is rejected") {
    val e = edgesOf(pairs)
    val init = membersOf((0L to 7L).map(i => (i, i)))
    val pack = PackedAdjacency.build(
      GraphOps.symmetrize(e).select("src", "dst"), "src")
    intercept[IllegalArgumentException] {
      Hedonic.run(e, init, Hedonic.Config(weighted = true), Some(pack))
    }
    intercept[IllegalArgumentException] {
      PageRank.runTimed(e, PageRank.Config(weighted = true), None, Some(pack))
    }
    pack.unpersist()
  }
}
