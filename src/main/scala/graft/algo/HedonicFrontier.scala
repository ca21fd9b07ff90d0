package graft.algo

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.{Edge, RunMetrics}
import graft.graph.GraphOps

/** Frontier-based hedonic executor — the reference's queue variant
  * (`community_hedonic_queue`, hedonic/__init__.py:230-259; note the
  * reference's own body is dead on stock igraph via the `in_equibrium` typo
  * at :234 — semantics taken from `in_equilibrium` at :89, SURVEY.md §7.5).
  *
  * Work per superstep is proportional to the ACTIVE frontier, not V: the
  * gather join is restricted by a semi-join on the active set, and the new
  * frontier = movers' neighbors outside the mover's new community (the
  * reference re-enqueues exactly those, :247-252) plus the movers
  * themselves. On graphs where convergence is local (most of a 100 TB
  * graph settles in a few rounds) this is the superstep cost model that
  * survives the scale-up.
  *
  * Community sizes remain global (C << V, one cheap aggregate per round).
  * Gating/tie-breaks are identical to the synchronous executor. Like the
  * reference queue, reactivation is NEIGHBOR-based: a non-neighbor member of
  * a shrunk/grown community is not re-enqueued even though its stranger
  * count shifted — the documented approximation both implementations share
  * (reference :247-252 re-enqueues neighbors only). The synchronous executor
  * is the exact-fixpoint path; tests cross-check the two.
  */
object HedonicFrontier {

  def run(edges: Dataset[Edge], init: DataFrame,
          cfg: Hedonic.Config = Hedonic.Config()): (DataFrame, Seq[RunMetrics]) = {
    val a = cfg.alpha.getOrElse(GraphOps.density(edges))
    // Broadcast-state strategy (round 6): V within the broadcast budget and
    // hub-free — the frontier loop then runs as TWO single-stage jobs per
    // superstep over the dense-index packed adjacency (decide on the active
    // slice; activate movers' neighbors), with driver-resident membership/
    // size/active state — instead of two multi-exchange pinned DataFrame
    // jobs. Decision kernel, gate, and frontier-update rule are identical
    // (the same packed kernel the synchronous executor runs, PackedSpec-
    // pinned); only the physical strategy changes, exactly like
    // Hedonic.run's own strategy split. The frontier executor is
    // unweighted (cfg.weighted is ignored here as before).
    if (!cfg.weighted) {
      // one capped materialization = strategy decision + driver-state
      // collect (Superstep.stateGate)
      Superstep.stateGate(init.select("id", "community"), cfg.broadcastStateMaxRows) match {
        case Some(cols) =>
          // numbered by the state, so the run scans the pack as it is
          val ids = cols.longs(0)
          val packed = graft.graph.PackedAdjacency.build(
            GraphOps.symmetrize(edges).select("src", "dst"), "src",
            partitions = cfg.packPartitions, cachePartitions = cfg.cachePartitions,
            numbering = Some(ids))
          if (packed.maxSegs == 1)
            return runDriverState(edges, packed, ids, cols.longs(1), a, cfg)
          packed.unpersist() // hub graph: fall through to the shuffle loop
        case None =>
      }
    }
    // cached pre-partitioned on src: the per-superstep frontier semi-join
    // (on src) reuses the cached layout; only the frontier side shuffles,
    // and the dst-side gather join then exchanges just the ACTIVE slice.
    val sym = GraphOps.pinnedSym(edges, "src")
    val edgeCount = sym.count()

    // TWO one-job pins per superstep (round 6; was three — the membership
    // update and the new frontier previously pinned separately, but both
    // derive from the same decided table, so they now ride ONE combined
    // state pin: (id, community, act), with the frontier count as the act
    // accumulator). Each round releases the previous round's caches once
    // the new state is materialized (the block manager holds O(1) state
    // copies, not O(supersteps)).
    import graft.io.Iterate
    var statePin = Iterate.pinSums(
      init.select("id", "community").withColumn("act", lit(true)), Seq("act"))
    var state = statePin.df
    var metrics = Vector.empty[RunMetrics]
    var superstep = 0
    var frontierSize = statePin.sums(0).toLong

    while (frontierSize > 0 && superstep < cfg.maxSupersteps) {
      val t0 = System.nanoTime()
      val members = state.select("id", "community")
      val frontier = state.filter(col("act")).select("id")
      // gather restricted to active nodes: only their candidate payoffs.
      val activeSym = sym.join(frontier.select(col("id").as("src")), Seq("src"), "left_semi")
      val nbrComm = members.select(col("id").as("dst"), col("community"))
      val friendRows = activeSym.join(nbrComm, Seq("dst"))
        .select(col("src").as("id"), col("community"), lit(1L).as("friends"))
      val ownRows = members.join(frontier, Seq("id"), "left_semi")
        .select(col("id"), col("community"), lit(0L).as("friends"))
      val gathered = friendRows.unionByName(ownRows)
        .groupBy("id", "community").agg(sum("friends").as("friends"))
      val sizes = members.groupBy("community").agg(count(lit(1)).as("csize"))
      val cur = members.select(col("id"), col("community").as("curComm"))
      val p = gathered
        .join(broadcast(sizes), Seq("community"))
        .join(cur, Seq("id"))
        .withColumn("isCur", col("community") === col("curComm"))
        .withColumn("strangers",
          col("csize") - col("friends") - when(col("isCur"), 1L).otherwise(0L))
        .withColumn("payoff",
          col("friends") * (1.0 - a) - col("strangers") * a)
      val gate =
        if (cfg.parityGating) graft.util.Portable.parityGate(col("id"), superstep)
        else lit(true)
      // ONE materialization of the whole gather->argmax chain per superstep;
      // movers / gated stragglers / membership update / new frontier all
      // derive from this cached table instead of recomputing the chain.
      // The mover count rides the pin as an accumulator (isMover sum).
      val decidedPin = Iterate.pinSums(
        p.groupBy("id").agg(
            max(struct(col("payoff"), col("isCur").cast("int").as("ic"),
              (-col("community")).as("negc"), col("community").as("comm"))).as("b"),
            max(when(col("isCur"), col("payoff"))).as("curPayoff"))
          .select(col("id"), col("b.comm").as("newComm"),
            (col("b.payoff") > col("curPayoff")).as("wants"), gate.as("gated"))
          .withColumn("isMover", col("wants") && col("gated")),
        Seq("isMover"))
      val decided = decidedPin.df
      val movers = decided.filter(col("wants") && col("gated"))
        .select(col("id"), col("newComm"))
      val nMoved = decidedPin.sums(0).toLong
      // stragglers that wanted to move but were gated stay active
      val gatedWanters = decided.filter(col("wants") && !col("gated")).select("id")

      // new frontier: movers' neighbors not in the mover's NEW community
      // (membership read PRE-move, as before: the mover's update lands in
      // the same superstep's state pin below, and a mover's neighbor in the
      // mover's OLD community is exactly a nbrComm =!= newComm row), plus
      // movers themselves (their own optimum may shift), plus gated
      // wanters — the same frontier SET the previous two-pin version built.
      val nbrOfMovers = sym
        .join(movers.select(col("id").as("src"), col("newComm")), Seq("src"))
        .join(members.select(col("id").as("dst"), col("community").as("nbrComm")), Seq("dst"))
        .filter(col("nbrComm") =!= col("newComm"))
        .select(col("dst").as("id")).distinct()

      // ONE combined state pin: membership update + next frontier flag;
      // the frontier count rides the pin as the act accumulator.
      val newStatePin = Iterate.pinSums(
        members
          .join(movers, Seq("id"), "left")
          .join(gatedWanters.withColumn("gw", lit(true)), Seq("id"), "left")
          .join(nbrOfMovers.withColumn("nb", lit(true)), Seq("id"), "left")
          .select(col("id"),
            coalesce(col("newComm"), col("community")).as("community"),
            (col("newComm").isNotNull || coalesce(col("gw"), lit(false)) ||
              coalesce(col("nb"), lit(false))).as("act")),
        Seq("act"))
      frontierSize = newStatePin.sums(0).toLong
      // everything downstream is materialized; the previous round's caches
      // (and this round's decided scratch) are dead
      statePin.release(); decidedPin.release()
      statePin = newStatePin
      state = newStatePin.df
      val wallMs = (System.nanoTime() - t0) / 1000000
      metrics :+= RunMetrics(superstep, nMoved, Double.NaN, frontierSize, edgeCount, wallMs)
      superstep += 1
    }
    sym.unpersist()
    // final members stay pinned for the caller (the act column is scratch)
    (state.select("id", "community"), metrics)
  }

  /** The activation round's task: one partition's neighbor positions as
    * a sorted, duplicate-free int array. */
  private object ActivatedTask extends Superstep.Task[Array[Int]] {
    def apply(ctx: org.apache.spark.TaskContext,
              it: Iterator[org.apache.spark.sql.catalyst.InternalRow]): Array[Int] = {
      val bs = new java.util.BitSet()
      while (it.hasNext) bs.set(it.next().getInt(0))
      val out = new scala.collection.mutable.ArrayBuilder.ofInt
      var b = bs.nextSetBit(0)
      while (b >= 0) { out += b; b = bs.nextSetBit(b + 1) }
      out.result()
    }
  }

  /** Broadcast-state frontier loop (see run()) on the Superstep engine.
    * Per superstep:
    *  - job 1 ("decide"): the packed superstep plan restricted to ACTIVE
    *    vertices by a flag-array filter that PUSHES BELOW the decision
    *    kernel (inactive vertices cost one boolean array read); collects
    *    only wanter rows as primitive arrays, exactly like Hedonic's loop.
    *  - job 2 ("activate", only when something moved): mover rows of the
    *    same cached pack, exploded to neighbor positions whose POST-move
    *    community differs from the mover's new community — the reference's
    *    re-enqueue rule — deduplicated per partition in a BitSet and
    *    collected as ints. Work is mover-degree-proportional.
    * The next frontier = movers ∪ gated wanters ∪ those neighbors — the
    * identical SET the DataFrame loop builds. State (comms array, size
    * map, active flags) is driver-resident; per-round broadcasts are
    * destroyed right after their collect. */
  private def runDriverState(edges: Dataset[Edge],
      packed: graft.graph.PackedAdj, ids: Array[Long], comms: Array[Long],
      alpha: Double, cfg: Hedonic.Config): (DataFrame, Seq[RunMetrics]) = {
    import graft.util.StateMap
    type Bc[T] = org.apache.spark.broadcast.Broadcast[T]
    val edgeCount = packed.degSum
    val run = new Superstep.Run(edges.sparkSession, ids, Some(packed), ownsPack = true)
    val n = run.n
    val pidx = run.dense.get
    val sizes = Hedonic.sizesOf(comms)

    val commArrR = new StateMap.Ref[Bc[Array[Long]]](null)
    val sizeR = new StateMap.Ref[Bc[StateMap.LongLongMap]](null)
    val activeR = new StateMap.Ref[Bc[Array[Boolean]]](null)
    val decide = run.moves(Hedonic.stepPlanPackedIdx(pidx, commArrR, sizeR, alpha,
        run.parityGate(cfg.parityGating), emitPos = true)
      .filter(StateMap.flagAt(activeR, col("myIdx"))))

    val moverR = new StateMap.Ref[Bc[Array[Boolean]]](null)
    val postCommR = new StateMap.Ref[Bc[Array[Long]]](null)
    val activate = run.job(pidx.df
      .filter(StateMap.flagAt(moverR, col("myIdx")))
      .select(StateMap.longAt(postCommR, col("myIdx")).as("mc"),
        explode(col("nbrs")).as("p"))
      .filter(col("p") >= 0 && StateMap.longAt(postCommR, col("p")) =!= col("mc"))
      .select(col("p")), ActivatedTask)

    var active = Array.fill(n)(true)
    var frontierSize = n.toLong
    var metrics = Vector.empty[RunMetrics]
    var superstep = 0
    while (frontierSize > 0 && superstep < cfg.maxSupersteps) {
      val t0 = System.nanoTime()
      run.publish(commArrR, comms.clone())
      run.publish(sizeR, StateMap.longLong(sizes))
      run.publish(activeR, active)
      val parts = run.collect(decide, superstep)
      val moverFlags = new Array[Boolean](n)
      val nextActive = new Array[Boolean](n)
      var moved = 0L
      var p = 0
      while (p < parts.length) {
        val (pos, cs, mv) = parts(p)
        var k = 0
        while (k < pos.length) {
          val at = pos(k)
          if (at >= 0) {
            if (mv(k)) {
              moved += 1
              moverFlags(at) = true
              nextActive(at) = true // the mover's own optimum may shift
              val old = comms(at)
              val c = cs(k)
              if (old != c) { comms(at) = c; Hedonic.shift(sizes, old, c) }
            } else nextActive(at) = true // gated wanter stays active
          }
          k += 1
        }
        p += 1
      }
      if (moved > 0) {
        run.publish(moverR, moverFlags)
        run.publish(postCommR, comms.clone())
        val acts = run.collect(activate, superstep)
        var q = 0
        while (q < acts.length) {
          val arr = acts(q)
          var k = 0
          while (k < arr.length) { nextActive(arr(k)) = true; k += 1 }
          q += 1
        }
      }
      active = nextActive
      var fs = 0L
      locally { var j = 0; while (j < n) { if (active(j)) fs += 1; j += 1 } }
      frontierSize = fs
      val wallMs = (System.nanoTime() - t0) / 1000000
      metrics :+= RunMetrics(superstep, moved, Double.NaN, frontierSize, edgeCount, wallMs)
      superstep += 1
    }
    run.close()
    (Superstep.frame(edges.sparkSession, run.ids, "community", comms), metrics)
  }
}
