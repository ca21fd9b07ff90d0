package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.algo.{Hedonic, LabelPropagation, PageRank}
import graft.graph.{GraphOps, PackedAdjacency}
import graft.util.{DeltaState, StateMap}

/** Pins the CSR-packed superstep plans (PackedAdjacency + PackedKernels)
  * decision-identical to the row-based broadcast-map plans they replace,
  * on both branches: the single-segment kernel path AND the multi-segment
  * (hub) partial-counts path, forced by building with segCap = 2 so every
  * vertex of degree > 2 is segmented. The row-based plans are themselves
  * pinned to the shuffle strategy and the serial oracle by
  * StrategySpec/AlgoSpec, so this closes the identity chain serial ->
  * shuffle -> row-map -> packed. */
class PackedSpec extends SparkSpec {

  private def sc = spark.sparkContext

  // Zachary with a deliberately messy 5-label state, one vertex (33)
  // OUTSIDE the state table to pin the join-drop semantics.
  private val stateSeq: Seq[(Long, Long)] =
    (0L to 32L).map(i => (i, i % 5))
  private def sizesOf(st: Seq[(Long, Long)]): Seq[(Long, Long)] =
    st.groupBy(_._2).map { case (c, xs) => (c, xs.size.toLong) }.toSeq

  private def llMap(pairs: Seq[(Long, Long)]) =
    StateMap.longLong(pairs.map(_._1).toArray, pairs.map(_._2).toArray, pairs.size)
  private def ldMap(pairs: Seq[(Long, Double)]) =
    StateMap.longDouble(pairs.map(_._1).toArray, pairs.map(_._2).toArray, pairs.size)

  private def rows3(df: DataFrame): Set[(Long, Long, Boolean)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet

  /** A delta payload at epoch 0 whose base is `comms` (by position) and
    * the community sizes `sizes`. */
  private def payloadOf(comms: Array[Long], sizes: Seq[(Long, Long)]) = {
    val base = sc.broadcast(new DeltaState.FullState(comms.clone(),
      sizes.map(_._1).toArray, sizes.map(_._2).toArray))
    new StateMap.Ref(sc.broadcast(new DeltaState.Payload(DeltaState.newRunId(), 0, 0, base,
      Array.empty[Int], Array.empty[Long], Array.empty[Long], Array.empty[Long])))
  }

  // The state's ids and values, by position: a pack numbered by them maps
  // vertex 33 (outside the state) to -1.
  private val stateIds = stateSeq.map(_._1).toArray
  private def stateComms = stateSeq.map(_._2).toArray

  test("hedonic: packed kernel and hub branch match the row-based plan") {
    val e = edgesOf(Fixtures.zachary)
    val symDf = GraphOps.symmetrize(e).select("src", "dst")
    val commB = new StateMap.Ref(sc.broadcast(llMap(stateSeq)))
    val sizeB = new StateMap.Ref(sc.broadcast(llMap(sizesOf(stateSeq))))
    val alpha = 0.12
    val gate = graft.util.Portable.parityGate(col("id"), 3)
    val expect = rows3(Hedonic.stepPlanMap(symDf, commB, sizeB, alpha, gate))
    assert(expect.nonEmpty) // the fixture must actually exercise movers
    for (cap <- Seq(1 << 20, 2)) {
      val p = PackedAdjacency.build(symDf, "src", segCap = cap, numbering = Some(stateIds))
      if (cap == 2) assert(p.maxSegs > 1) else assert(p.maxSegs == 1)
      val got = rows3(Hedonic.stepPlanPackedIdxDelta(p,
        payloadOf(stateComms, sizesOf(stateSeq)), alpha, gate))
      assert(got == expect, s"segCap=$cap")
      p.unpersist()
    }
  }

  test("hedonic: WEIGHTED packed kernel and hub branch match the weighted row plan") {
    import spark.implicits._
    val wedges = Fixtures.zachary.map { case (u, v) =>
      graft.model.Edge(u, v, (((u + 2 * v) % 5) * 10 + 1).toDouble)
    }.toDS()
    val symDf = GraphOps.symmetrize(wedges).select("src", "dst", "weight")
    val commB = new StateMap.Ref(sc.broadcast(llMap(stateSeq)))
    val sizeB = new StateMap.Ref(sc.broadcast(llMap(sizesOf(stateSeq))))
    val alpha = 0.12
    val gate = graft.util.Portable.parityGate(col("id"), 3)
    val expect = rows3(
      Hedonic.stepPlanMap(symDf, commB, sizeB, alpha, gate, weighted = true))
    assert(expect.nonEmpty)
    // flag sanity: 1..41 weights must flip at least one decision vs counts
    val unweighted = rows3(
      Hedonic.stepPlanMap(symDf.select("src", "dst"), commB, sizeB, alpha, gate))
    assert(expect != unweighted)
    for (cap <- Seq(1 << 20, 2)) {
      val p = PackedAdjacency.build(symDf, "src", weighted = true, segCap = cap,
        numbering = Some(stateIds))
      if (cap == 2) assert(p.maxSegs > 1)
      val got = rows3(Hedonic.stepPlanPackedIdxDelta(p,
        payloadOf(stateComms, sizesOf(stateSeq)), alpha, gate))
      assert(got == expect, s"segCap=$cap")
      p.unpersist()
    }
  }

  test("lpa: packed kernel and hub branch match the row-based plan (w + uw)") {
    import spark.implicits._
    // Varied weights so the weighted vote actually differs from the count.
    val wedges = Fixtures.zachary.map { case (u, v) =>
      graft.model.Edge(u, v, ((u + 2 * v) % 3 + 1).toDouble)
    }.toDS()
    val labB = new StateMap.Ref(sc.broadcast(llMap(stateSeq)))
    val gate = graft.util.Portable.parityGate(col("id"), 1)
    for (weighted <- Seq(false, true)) {
      val cols = if (weighted) Seq("src", "dst", "weight") else Seq("src", "dst")
      val symDf = GraphOps.symmetrize(wedges).select(cols.map(col): _*)
      val expect = rows3(LabelPropagation.stepPlanMap(symDf, labB, weighted, gate))
      assert(expect.nonEmpty)
      for (cap <- Seq(1 << 20, 2)) {
        val p = PackedAdjacency.build(symDf, "src", weighted, segCap = cap,
          numbering = Some(stateIds))
        val got = rows3(LabelPropagation.stepPlanPackedIdxDelta(p, payloadOf(stateComms, Nil),
          gate))
        assert(got == expect, s"weighted=$weighted segCap=$cap")
        p.unpersist()
      }
    }
  }

  test("pagerank: packed iteration matches the row-based plan at 1e-15") {
    import spark.implicits._
    val wedges = Fixtures.zachary.map { case (u, v) =>
      graft.model.Edge(u, v, ((u + v) % 4 + 1).toDouble)
    }.toDS()
    val v = 34.0
    for (weighted <- Seq(false, true)) {
      val cols = if (weighted) Seq("src", "dst", "weight") else Seq("src", "dst")
      val symDf = GraphOps.symmetrize(wedges).select(cols.map(col): _*)
      val cfg = PageRank.Config(weighted = weighted)
      val degSeq = (if (weighted)
        symDf.groupBy(col("src").as("id")).agg(sum(col("weight").cast("double")).as("deg"))
      else
        symDf.groupBy(col("src").as("id")).agg(count(lit(1)).cast("double").as("deg")))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val rankSeq = degSeq.map { case (id, _) => (id, (id + 1).toDouble / 700.0) }
      val degB = new StateMap.Ref(sc.broadcast(ldMap(degSeq)))
      val rankB = new StateMap.Ref(sc.broadcast(ldMap(rankSeq)))
      val expect = PageRank.iterPlanMap(symDf, rankB, degB, v, cfg)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // By position: the pre-divided rank/deg unweighted, rank and
      // strength weighted (see PackedKernels.kContribIdx).
      val (ranks, degs) = (rankSeq.map(_._2).toArray, degSeq.map(_._2).toArray)
      val qB = new StateMap.Ref(sc.broadcast(
        if (weighted) ranks else ranks.indices.map(i => ranks(i) / degs(i)).toArray))
      val degArrB = Option.when(weighted)(new StateMap.Ref(sc.broadcast(degs)))
      for (cap <- Seq(1 << 20, 2)) {
        val p = PackedAdjacency.build(symDf, "dst", weighted, segCap = cap,
          numbering = Some(degSeq.map(_._1).toArray))
        if (cap == 2) assert(p.maxSegs > 1)
        val got = PageRank.iterPlanPackedIdx(p, qB, degArrB, v, cfg)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        assert(got.keySet == expect.keySet, s"weighted=$weighted segCap=$cap")
        // Same arithmetic, summation order differs (sorted array vs row
        // order) — agreement to accumulation rounding only.
        got.foreach { case (id, r) =>
          assert(math.abs(r - expect(id)) < 1e-15, s"weighted=$weighted segCap=$cap id=$id")
        }
        p.unpersist()
      }
    }
  }

  test("indexed kernels: outside-state vertices (-1 positions) match the row plan") {
    // Vertex 33 is OUTSIDE stateSeq: a pack numbered by the state maps it
    // (as row and as neighbor) to -1, and the indexed kernels must reproduce the row
    // plan's inner-join-drop semantics exactly — NULLV for the row, skip
    // for the neighbor — as the hash kernels already do.
    val e = edgesOf(Fixtures.zachary)
    val symDf = GraphOps.symmetrize(e).select("src", "dst")
    val ids = stateSeq.map(_._1).toArray
    val comms = stateSeq.map(_._2).toArray
    val commB = new StateMap.Ref(sc.broadcast(llMap(stateSeq)))
    val sizeB = new StateMap.Ref(sc.broadcast(llMap(sizesOf(stateSeq))))
    val commArrB = new StateMap.Ref(sc.broadcast(comms.clone()))
    val alpha = 0.12
    val gate = graft.util.Portable.parityGate(col("id"), 3)
    val pidx = PackedAdjacency.build(symDf, "src", numbering = Some(ids))
    // myIdx = -1 exactly for vertex 33; its id appears in neighbor arrays
    // as -1 (covered implicitly by the decision parity below).
    val mi = pidx.df.select("id", "myIdx").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(mi(33L) == -1 && mi.count(_._2 == -1) == 1)
    val expectH = rows3(Hedonic.stepPlanMap(symDf, commB, sizeB, alpha, gate))
    val gotH = rows3(Hedonic.stepPlanPackedIdx(pidx, commArrB, sizeB, alpha, gate))
    assert(gotH == expectH)
    val expectL = rows3(LabelPropagation.stepPlanMap(symDf, commB, false, gate))
      .map { case (id, l, g) => (id, l, g) }
    val gotL = rows3(LabelPropagation.stepPlanPackedIdxDelta(pidx, payloadOf(comms, Nil), gate))
    assert(gotL == expectL)
    pidx.unpersist()
  }

  test("delta-transport plan ≡ bare-array indexed plan (full base + in-place delta epochs)") {
    import graft.util.DeltaState
    val e = edgesOf(Fixtures.zachary)
    val symDf = GraphOps.symmetrize(e).select("src", "dst")
    val ids = stateSeq.map(_._1).toArray
    val comms = stateSeq.map(_._2).toArray
    val alpha = 0.12
    val gate = graft.util.Portable.parityGate(col("id"), 3)
    val pidx = PackedAdjacency.build(symDf, "src", numbering = Some(ids))
    def sizeArrays(st: Seq[(Long, Long)]): (Array[Long], Array[Long]) = {
      val s = sizesOf(st)
      (s.map(_._1).toArray, s.map(_._2).toArray)
    }
    // epoch 0: full base, no overrides
    val runId = DeltaState.newRunId()
    val (sk0, sv0) = sizeArrays(stateSeq)
    val base = sc.broadcast(new DeltaState.FullState(comms.clone(), sk0, sv0))
    val stateB = new StateMap.Ref(sc.broadcast(new DeltaState.Payload(
      runId, 0, 0, base, Array.empty[Int], Array.empty[Long],
      Array.empty[Long], Array.empty[Long])))
    val commArrB = new StateMap.Ref(sc.broadcast(comms.clone()))
    val sizeB = new StateMap.Ref(sc.broadcast(llMap(sizesOf(stateSeq))))
    val expect0 = rows3(Hedonic.stepPlanPackedIdx(pidx, commArrB, sizeB, alpha, gate))
    val got0 = rows3(Hedonic.stepPlanPackedIdxDelta(pidx, stateB, alpha, gate))
    assert(got0 == expect0)
    // epoch 1: move ids(0) to ids(5)'s community via ABSOLUTE overrides —
    // exercises the executor-side in-place application (the epoch-0
    // reconstruction is already cached in this JVM)
    val moved = stateSeq.updated(0, (ids(0), comms(5)))
    val comms1 = moved.map(_._2).toArray
    val (sk1raw, sv1raw) = sizeArrays(moved)
    val changedKeys = Seq(comms(0), comms(5)).distinct
    val overFixed = changedKeys.map { k => // absolute new sizes (0 if gone)
      val i = sk1raw.indexOf(k)
      k -> (if (i < 0) 0L else sv1raw(i))
    }
    stateB.value = sc.broadcast(new DeltaState.Payload(
      runId, 1, 0, base, Array(0), Array(comms(5)),
      overFixed.map(_._1).toArray, overFixed.map(_._2).toArray))
    val commArrB1 = new StateMap.Ref(sc.broadcast(comms1.clone()))
    val sizeB1 = new StateMap.Ref(sc.broadcast(llMap(sizesOf(moved))))
    val expect1 = rows3(Hedonic.stepPlanPackedIdx(pidx, commArrB1, sizeB1, alpha, gate))
    val got1 = rows3(Hedonic.stepPlanPackedIdxDelta(pidx, stateB, alpha, gate))
    assert(got1 == expect1)
    // LPA delta plan (labels in the comms lane, size lane empty): parity
    // against the row plan over the same labels, at the full base (epoch
    // 0) and after one round of overrides (epoch 1, in place)
    val lRun = DeltaState.newRunId()
    val lBase = sc.broadcast(new DeltaState.FullState(comms.clone(),
      Array.empty[Long], Array.empty[Long]))
    val lState = new StateMap.Ref(sc.broadcast(new DeltaState.Payload(
      lRun, 0, 0, lBase, Array.empty[Int], Array.empty[Long],
      Array.empty[Long], Array.empty[Long])))
    val expectL0 = rows3(LabelPropagation.stepPlanMap(symDf,
      new StateMap.Ref(sc.broadcast(llMap(stateSeq))), false, gate))
    assert(rows3(LabelPropagation.stepPlanPackedIdxDelta(pidx, lState, gate)) == expectL0)
    lState.value = sc.broadcast(new DeltaState.Payload(
      lRun, 1, 0, lBase, Array(0), Array(3L), Array.empty[Long], Array.empty[Long]))
    val expectL1 = rows3(LabelPropagation.stepPlanMap(symDf,
      new StateMap.Ref(sc.broadcast(llMap(stateSeq.updated(0, (ids(0), 3L))))), false, gate))
    assert(expectL1 != expectL0) // the override must change a decision
    assert(rows3(LabelPropagation.stepPlanPackedIdxDelta(pidx, lState, gate)) == expectL1)
    pidx.unpersist()
  }

  test("packed single-segment superstep plans have zero shuffle exchanges") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    def spine(df: DataFrame): Int = {
      def walk(p: SparkPlan): Int = p match {
        case _: BroadcastExchangeLike => 0
        case s: ShuffleExchangeLike   => 1 + s.children.map(walk).sum
        case o                        => o.children.map(walk).sum
      }
      walk(df.queryExecution.executedPlan)
    }
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val e = edgesOf(Fixtures.zachary)
      val symDf = GraphOps.symmetrize(e).select("src", "dst")
      val p = PackedAdjacency.build(symDf, "src")
      assert(p.maxSegs == 1)
      val state = payloadOf(stateComms, sizesOf(stateSeq))
      val qB = new StateMap.Ref(sc.broadcast(Array.fill(34)(1.0 / 68)))
      val h = Hedonic.stepPlanPackedIdxDelta(p, state, 0.1, lit(true))
      assert(spine(h) == 0, h.queryExecution.executedPlan.toString)
      val l = LabelPropagation.stepPlanPackedIdxDelta(p, state, lit(true))
      assert(spine(l) == 0, l.queryExecution.executedPlan.toString)
      val pr = PageRank.iterPlanPackedIdx(p, qB, None, 34.0, PageRank.Config())
      assert(spine(pr) == 0, pr.queryExecution.executedPlan.toString)
      p.unpersist()
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("hub-free build given a degree summary plans no broadcast join; hub builds keep it") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    def broadcastJoins(df: DataFrame): Int = {
      def walk(p: SparkPlan): Int = p match {
        case _: BroadcastHashJoinExec => 1 + p.children.map(walk).sum
        case s: InMemoryTableScanExec => walk(s.relation.cachedPlan)
        case o                        => o.children.map(walk).sum
      }
      walk(df.queryExecution.executedPlan)
    }
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val e = edgesOf(Fixtures.zachary)
      val symDf = GraphOps.symmetrize(e).select("src", "dst")
      val free = PackedAdjacency.build(symDf, "src",
        degrees = Some(GraphOps.degreeSummary(e)))
      assert(free.maxSegs == 1 && free.vertices == 34L && free.degSum == 156L)
      assert(broadcastJoins(free.df) == 0, free.df.queryExecution.executedPlan.toString)
      val hub = PackedAdjacency.build(symDf, "src", segCap = 2)
      assert(hub.maxSegs > 1 && hub.vertices == 34L && hub.degSum == 156L)
      assert(broadcastJoins(hub.df) == 1, hub.df.queryExecution.executedPlan.toString)
      free.unpersist(); hub.unpersist()
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }
}
