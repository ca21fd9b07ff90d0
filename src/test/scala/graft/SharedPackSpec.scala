package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import graft.algo.{Hedonic, HedonicFrontier, LabelPropagation, PageRank, Spectral}
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
        LabelPropagation.run(e, broadcastStateMaxRows = 7L))))
    // Leaks are checked per run: several runs persist the same degree
    // plan, and a later run's unpersist would remove an earlier run's
    // leaked entry before a check at the end could see it.
    others.foreach { case (who, body) =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      assert(body() == 8L, s"$who: wrong row count")
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
