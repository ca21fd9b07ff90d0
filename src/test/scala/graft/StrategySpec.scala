package graft

import org.apache.spark.sql.functions._
import graft.algo.{Hedonic, LabelPropagation, PageRank}

/** The iterative algorithms carry two physical strategies — broadcast-state
  * (small V: state broadcast, edges partitioned on the grouping key, zero
  * edge-scale exchange per round) and co-partitioned shuffle (the 1e9-vertex
  * path). They must be the SAME decision function: identical results, not
  * merely equivalent-up-to-schedule. broadcastStateMaxRows = 0 forces the
  * shuffle path; the default covers the broadcast path.
  */
class StrategySpec extends SparkSpec {

  // Two planted triangles bridged by one edge + a pendant path — has real
  // gather asymmetry, multi-round convergence, and a node outside any
  // triangle.
  private val pairs = Seq[(Long, Long)](
    (0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3), (5, 6), (6, 7))

  test("hedonic: broadcast-state and shuffle supersteps decide identically") {
    val e = edgesOf(pairs)
    val init = membersOf((0L to 7L).map(i => (i, i)))
    val (mB, metB) = Hedonic.run(e, init, Hedonic.Config(maxSupersteps = 40))
    val (mS, metS) = Hedonic.run(e, init,
      Hedonic.Config(maxSupersteps = 40, broadcastStateMaxRows = 0L))
    assert(toMap(mB) == toMap(mS)) // bitwise-identical labels, not permutation
    assert(metB.map(m => (m.superstep, m.moved, m.frontier)) ==
      metS.map(m => (m.superstep, m.moved, m.frontier)))
  }

  test("hedonic: multi-label noisy init agrees across strategies") {
    val e = edgesOf(pairs)
    val init = membersOf(Seq((0L, 5L), (1L, 0L), (2L, 0L), (3L, 1L),
      (4L, 1L), (5L, 0L), (6L, 1L), (7L, 5L)))
    val (mB, _) = Hedonic.run(e, init, Hedonic.Config(maxSupersteps = 40))
    val (mS, _) = Hedonic.run(e, init,
      Hedonic.Config(maxSupersteps = 40, broadcastStateMaxRows = 0L))
    assert(toMap(mB) == toMap(mS))
  }

  test("hedonic: ONE-superstep run (map one-shot fast path) matches the shuffle step") {
    val e = edgesOf(pairs)
    // multi-label init so the single ungated step has real movers
    val init = membersOf(Seq((0L, 5L), (1L, 0L), (2L, 0L), (3L, 1L),
      (4L, 1L), (5L, 0L), (6L, 1L), (7L, 5L)))
    val cfg = Hedonic.Config(maxSupersteps = 1, parityGating = false)
    val (mB, metB) = Hedonic.run(e, init, cfg) // map one-shot fast path
    val (mS, metS) = Hedonic.run(e, init, cfg.copy(broadcastStateMaxRows = 0L))
    assert(toMap(mB) == toMap(mS))
    assert(metB.map(m => (m.superstep, m.moved, m.frontier)) ==
      metS.map(m => (m.superstep, m.moved, m.frontier)))
    // gated variant: the parity gate must key on the vertex id either way
    val cfgG = Hedonic.Config(maxSupersteps = 1)
    val (mBg, _) = Hedonic.run(e, init, cfgG)
    val (mSg, _) = Hedonic.run(e, init, cfgG.copy(broadcastStateMaxRows = 0L))
    assert(toMap(mBg) == toMap(mSg))
    // weighted variant through the same fast path
    import spark.implicits._
    val wedges = pairs.map { case (u, v) =>
      graft.model.Edge(u, v, ((u * 3 + v) % 4 + 1).toDouble)
    }.toDS()
    val cfgW = Hedonic.Config(maxSupersteps = 1, parityGating = false, weighted = true)
    val (mBw, _) = Hedonic.run(wedges, init, cfgW)
    val (mSw, _) = Hedonic.run(wedges, init, cfgW.copy(broadcastStateMaxRows = 0L))
    assert(toMap(mBw) == toMap(mSw))
  }

  test("lpa: bestLabels one-shot matches step() on both sides of the budget") {
    import spark.implicits._
    val e = edgesOf(pairs)
    val labels = graft.graph.GraphOps.vertices(e)
      .select(col("id"), (col("id") % 3).as("label"))
    val symP = graft.graph.GraphOps.symmetrize(e).select("src", "dst")
    val symW = graft.graph.GraphOps.symmetrize(e)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaStep = m(LabelPropagation.step(symP, labels)
      .select(col("id"), col("bestLabel")))
    assert(m(LabelPropagation.bestLabels(symP, labels)) == viaStep)
    // over-budget fallback path
    assert(m(LabelPropagation.bestLabels(symP, labels,
      broadcastStateMaxRows = 0L)) == viaStep)
    // weighted votes
    val viaStepW = m(LabelPropagation.step(symW, labels, weighted = true)
      .select(col("id"), col("bestLabel")))
    assert(m(LabelPropagation.bestLabels(symW, labels, weighted = true)) == viaStepW)
  }

  test("hedonic: WEIGHTED runs agree across strategies") {
    import spark.implicits._
    // Varied integral weights (shared-path counts) so the weighted payoff
    // genuinely reorders candidates vs the unweighted count.
    val wedges = pairs.map { case (u, v) =>
      graft.model.Edge(u, v, ((u * 3 + v) % 4 + 1).toDouble)
    }.toDS()
    val init = membersOf((0L to 7L).map(i => (i, i % 3)))
    val cfg = Hedonic.Config(maxSupersteps = 40, weighted = true)
    val (mB, metB) = Hedonic.run(wedges, init, cfg)
    val (mS, metS) = Hedonic.run(wedges, init, cfg.copy(broadcastStateMaxRows = 0L))
    assert(toMap(mB) == toMap(mS))
    assert(metB.map(m => (m.superstep, m.moved, m.frontier)) ==
      metS.map(m => (m.superstep, m.moved, m.frontier)))
  }

  test("pagerank: broadcast-state and shuffle iterations match at 1e-12") {
    val e = edgesOf(Fixtures.zachary)
    val b = PageRank.run(e, PageRank.Config(fixedIter = Some(20)))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val s = PageRank.run(e,
        PageRank.Config(fixedIter = Some(20), broadcastStateMaxRows = 0L))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(b.keySet == s.keySet)
    // Same arithmetic, different summation order: agreement far below the
    // 1e-6 fixture-parity bar.
    b.foreach { case (id, r) => assert(math.abs(r - s(id)) < 1e-12) }
  }

  /** Shuffle exchanges on the plan SPINE — i.e. moving edge-scale rows.
    * Broadcast-build subtrees are skipped: a V-row aggregate inside a
    * BroadcastExchange (community sizes) is state-scale traffic and is the
    * point of the strategy. Cached relations are leaves, so the one-time
    * pinnedSym exchange doesn't count either. */
  private def spineShuffles(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    def walk(p: SparkPlan): Int = p match {
      case _: BroadcastExchangeLike => 0
      case s: ShuffleExchangeLike   => 1 + s.children.map(walk).sum
      case o                        => o.children.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  test("broadcast-state plans contain zero spine shuffle exchanges") {
    import graft.graph.GraphOps
    import graft.io.Iterate
    // AQE wraps the plan in AdaptiveSparkPlanExec (childless until
    // executed) — disable it while BUILDING these plans so the traversal
    // sees the real tree; EnsureRequirements runs either way.
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
    val e = edgesOf(pairs)
    val symSrc = GraphOps.pinnedSym(e, "src")
    // Hedonic superstep: driver state enters as broadcast primitive maps
    // read through codegen'd lookups over the cached layout (the shape
    // run() builds each superstep from its driver-resident arrays).
    import graft.util.StateMap
    val sc = spark.sparkContext
    val ids = (0L to 7L).toArray
    val commB = new StateMap.Ref(sc.broadcast(StateMap.longLong(ids, ids, ids.length)))
    val sizeB = new StateMap.Ref(sc.broadcast(StateMap.longLong(ids, Array.fill(8)(1L), ids.length)))
    val hplan = Hedonic.stepPlanMap(symSrc, commB, sizeB, 0.25, lit(true))
    assert(spineShuffles(hplan) == 0, hplan.queryExecution.executedPlan.toString)
    // PageRank driver-state iteration (broadcast rank/degree maps).
    val symDst = GraphOps.pinnedSym(e, "dst")
    val rankB = new StateMap.Ref(sc.broadcast(StateMap.longDouble(ids, Array.fill(8)(0.125), ids.length)))
    val degB = new StateMap.Ref(sc.broadcast(StateMap.longDouble(ids, Array.fill(8)(2.0), ids.length)))
    val pplan = PageRank.iterPlanMap(symDst, rankB, degB, 8.0, PageRank.Config())
    assert(spineShuffles(pplan) == 0, pplan.queryExecution.executedPlan.toString)
    // LPA driver-state step (broadcast label map).
    val lplan = LabelPropagation.stepPlanMap(symSrc, commB, weighted = false, lit(true))
    assert(spineShuffles(lplan) == 0, lplan.queryExecution.executedPlan.toString)
    // LPA public step() with a broadcast label RELATION (the non-driver-
    // state entry point callers use on materialized label frames).
    val labels = Iterate.pin(
      membersOf((0L to 7L).map(i => (i, i))).select(col("id"), col("community").as("label")))
    val lplan2 = LabelPropagation.step(symSrc, labels, bcastState = true)
    assert(spineShuffles(lplan2) == 0, lplan2.queryExecution.executedPlan.toString)
    symSrc.unpersist(); symDst.unpersist()
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("lpa: broadcast-state and shuffle runs produce identical labels") {
    val e = edgesOf(pairs)
    val b = toMap(LabelPropagation.run(e))
    val s = toMap(LabelPropagation.run(e, broadcastStateMaxRows = 0L))
    assert(b == s)
  }

  // --- hub-free vs hub pack A/B (one numbered layout, two row shapes) ---
  // Both sides are numbered packs of the same graph read by the position
  // kernels. The second is built with segCap = 2, so every vertex of
  // degree > 2 is split into segments whose partials the hub branch sums
  // (an aggregate exchange, re-planned each round) before the shared
  // decide tail. Every decision — and every per-superstep counter — must
  // be identical, unweighted and weighted; PageRank's segment partials
  // change only the summation order.
  private def packOf(e: org.apache.spark.sql.Dataset[graft.model.Edge],
                     weighted: Boolean = false): graft.graph.PackedAdj = {
    val cols = if (weighted) Seq("src", "dst", "weight") else Seq("src", "dst")
    graft.graph.PackedAdjacency.build(
      graft.graph.GraphOps.symmetrize(e).select(cols.map(col): _*), "src", weighted)
  }

  /** The segCap = 2 hub pack of `e`. The tests below compare the hub-free
    * pack ("indexed") with it; their names still say "hash" for the second
    * side, which was the long-id layout that hub packs used before every
    * pack was numbered, and are kept so their ids stay stable. */
  private def hubPackOf(e: org.apache.spark.sql.Dataset[graft.model.Edge],
                        weighted: Boolean = false): graft.graph.PackedAdj = {
    val cols = if (weighted) Seq("src", "dst", "weight") else Seq("src", "dst")
    val hub = graft.graph.PackedAdjacency.build(
      graft.graph.GraphOps.symmetrize(e).select(cols.map(col): _*), "src", weighted,
      segCap = 2)
    assert(hub.maxSegs > 1)
    hub
  }

  test("hedonic: indexed and hash packed kernels decide identically") {
    val e = edgesOf(pairs)
    val init = membersOf(Seq((0L, 5L), (1L, 0L), (2L, 0L), (3L, 1L),
      (4L, 1L), (5L, 0L), (6L, 1L), (7L, 5L)))
    val cfg = Hedonic.Config(maxSupersteps = 40)
    val p = packOf(e)
    val hp = hubPackOf(e)
    val (mI, metI) = Hedonic.run(e, init, cfg, Some(p))
    val (mH, metH) = Hedonic.run(e, init, cfg, Some(hp))
    assert(toMap(mI) == toMap(mH))
    assert(metI.map(m => (m.superstep, m.moved, m.frontier)) ==
      metH.map(m => (m.superstep, m.moved, m.frontier)))
    p.unpersist(); hp.unpersist()
  }

  test("hedonic: WEIGHTED indexed and hash packed kernels agree") {
    import spark.implicits._
    val wedges = pairs.map { case (u, v) =>
      graft.model.Edge(u, v, ((u * 3 + v) % 4 + 1).toDouble)
    }.toDS()
    val init = membersOf((0L to 7L).map(i => (i, i % 3)))
    val cfg = Hedonic.Config(maxSupersteps = 40, weighted = true)
    val p = packOf(wedges, weighted = true)
    val hp = hubPackOf(wedges, weighted = true)
    val (mI, _) = Hedonic.run(wedges, init, cfg, Some(p))
    val (mH, _) = Hedonic.run(wedges, init, cfg, Some(hp))
    assert(toMap(mI) == toMap(mH))
    p.unpersist(); hp.unpersist()
  }

  /** PageRank over the hub-free pack of `e` against its segCap = 2 hub pack
    * at `cfg`. One round starts from the same ranks on both sides, and a
    * vertex of degree <= 2 is one segment whose partial the hub branch's
    * sum returns unchanged, so its round-1 rank is bitwise equal; a split
    * vertex sums its segment partials in another order, and later rounds
    * carry that on: PackedSpec's 1e-15 bound. */
  private def pagerankHubAgrees(e: org.apache.spark.sql.Dataset[graft.model.Edge],
                                cfg: PageRank.Config): Unit = {
    val p = packOf(e, cfg.weighted)
    val hp = hubPackOf(e, cfg.weighted)
    def ranks(c: PageRank.Config, pack: graft.graph.PackedAdj) =
      PageRank.runTimed(e, c, None, Some(pack))._1
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val deg = Fixtures.zachary.flatMap { case (u, v) => Seq(u -> v, v -> u) }.distinct
      .groupBy(_._1).map { case (u, ns) => u -> ns.size }
    assert(deg.values.exists(_ <= 2) && deg.values.exists(_ > 2))
    val c1 = cfg.copy(fixedIter = Some(1))
    val (i1, h1) = (ranks(c1, p), ranks(c1, hp))
    assert(i1.keySet == h1.keySet)
    i1.foreach { case (id, r) =>
      if (deg(id) <= 2) assert(r == h1(id), s"id=$id")
      else assert(math.abs(r - h1(id)) < 1e-15, s"id=$id")
    }
    val (i, h) = (ranks(cfg, p), ranks(cfg, hp))
    assert(i.keySet == h.keySet)
    i.foreach { case (id, r) => assert(math.abs(r - h(id)) < 1e-15, s"id=$id") }
    p.unpersist(); hp.unpersist()
  }

  test("pagerank: indexed (pre-divided) and hash kernels agree bitwise") {
    pagerankHubAgrees(edgesOf(Fixtures.zachary), PageRank.Config(fixedIter = Some(20)))
  }

  test("pagerank: WEIGHTED indexed and hash kernels agree bitwise") {
    import spark.implicits._
    val wedges = Fixtures.zachary.map { case (u, v) =>
      graft.model.Edge(u, v, ((u + 2 * v) % 5 + 1).toDouble)
    }.toDS()
    pagerankHubAgrees(wedges, PageRank.Config(fixedIter = Some(20), weighted = true))
  }

  test("lpa: indexed and hash packed kernels produce identical labels") {
    val e = edgesOf(pairs)
    val p = packOf(e)
    val hp = hubPackOf(e)
    val i = toMap(LabelPropagation.run(e, packedOpt = Some(p)))
    val h = toMap(LabelPropagation.run(e, packedOpt = Some(hp)))
    assert(i == h)
    val pw = packOf(e, weighted = true)
    val hpw = hubPackOf(e, weighted = true)
    val iw = toMap(LabelPropagation.run(e, weighted = true, packedOpt = Some(pw)))
    val hw = toMap(LabelPropagation.run(e, weighted = true,
      packedOpt = Some(hpw)))
    assert(iw == hw)
    p.unpersist(); pw.unpersist(); hp.unpersist(); hpw.unpersist()
  }

  test("hub packs: multi-round hash-layout runs match the shuffle path") {
    // segCap = 2 splits every degree-3 vertex into two segments, so the
    // hub branch (per-segment partials + an aggregate exchange) decides
    // for real vertices in every round.
    val e = edgesOf(pairs)
    val hub = graft.graph.PackedAdjacency.build(
      graft.graph.GraphOps.symmetrize(e).select("src", "dst"), "src", segCap = 2)
    assert(hub.maxSegs == 2)
    val init = membersOf((0L to 7L).map(i => (i, i)))
    val cfg = Hedonic.Config(maxSupersteps = 40)
    val (mH, metH) = Hedonic.run(e, init, cfg, Some(hub))
    val (mS, metS) = Hedonic.run(e, init, cfg.copy(broadcastStateMaxRows = 0L))
    assert(toMap(mH) == toMap(mS))
    assert(metH.map(m => (m.superstep, m.moved, m.frontier)) ==
      metS.map(m => (m.superstep, m.moved, m.frontier)))
    assert(toMap(LabelPropagation.run(e, packedOpt = Some(hub))) ==
      toMap(LabelPropagation.run(e, broadcastStateMaxRows = 0L)))
    val cfgP = PageRank.Config(fixedIter = Some(20))
    val rH = PageRank.runTimed(e, cfgP, None, Some(hub))._1
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rS = PageRank.run(e, cfgP.copy(broadcastStateMaxRows = 0L))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rH.keySet == rS.keySet)
    rH.foreach { case (id, r) => assert(math.abs(r - rS(id)) < 1e-12) }
    hub.unpersist()
  }

  test("hub packs: a state that is not the pack's vertex set matches the shuffle path") {
    // The init lacks pack vertex 7 and adds isolated vertex 42, so the run
    // renumbers the hub pack to the state (reindex carries nsegs; vertex 7
    // becomes -1). segCap = 2 segments vertices 2, 3 and 5.
    val e = edgesOf(pairs)
    val hub = graft.graph.PackedAdjacency.build(
      graft.graph.GraphOps.symmetrize(e).select("src", "dst"), "src", segCap = 2)
    assert(hub.maxSegs == 2)
    val init = membersOf((0L to 6L).map(i => (i, i % 3)) :+ ((42L, 42L)))
    val cfg = Hedonic.Config(maxSupersteps = 40)
    val (mH, metH) = Hedonic.run(e, init, cfg, Some(hub))
    val (mS, metS) = Hedonic.run(e, init, cfg.copy(broadcastStateMaxRows = 0L))
    assert(toMap(mH).keySet == (0L to 6L).toSet + 42L)
    assert(toMap(mH) == toMap(mS))
    assert(metH.map(m => (m.superstep, m.moved, m.frontier)) ==
      metS.map(m => (m.superstep, m.moved, m.frontier)))
    val labels = init.withColumnRenamed("community", "label")
    assert(toMap(LabelPropagation.run(e, Some(labels), packedOpt = Some(hub))) ==
      toMap(LabelPropagation.run(e, Some(labels), broadcastStateMaxRows = 0L)))
    hub.unpersist()
  }

  test("indexed superstep plans contain zero spine shuffle exchanges") {
    import graft.graph.{GraphOps, PackedAdjacency}
    import graft.util.StateMap
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val e = edgesOf(pairs)
      val sc = spark.sparkContext
      val ids = (0L to 7L).toArray
      val pidx = PackedAdjacency.build(
        GraphOps.symmetrize(e).select("src", "dst"), "src", numbering = Some(ids))
      val commArrB = new StateMap.Ref(sc.broadcast(ids.clone()))
      val sizeB = new StateMap.Ref(sc.broadcast(StateMap.longLong(ids, Array.fill(8)(1L), 8)))
      val hplan = Hedonic.stepPlanPackedIdx(pidx, commArrB, sizeB, 0.25, lit(true))
      assert(spineShuffles(hplan) == 0, hplan.queryExecution.executedPlan.toString)
      val qB = new StateMap.Ref(sc.broadcast(Array.fill(8)(0.125)))
      val pplan = PageRank.iterPlanPackedIdx(pidx, qB, None, 8.0, PageRank.Config())
      assert(spineShuffles(pplan) == 0, pplan.queryExecution.executedPlan.toString)
      val lplan = LabelPropagation.stepPlanPackedIdxDelta(pidx,
        new StateMap.Ref[org.apache.spark.broadcast.Broadcast[graft.util.DeltaState.Payload]](null),
        lit(true))
      assert(spineShuffles(lplan) == 0, lplan.queryExecution.executedPlan.toString)
      pidx.unpersist()
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }
}
