package graft.algo

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.Edge
import graft.graph.GraphOps
import graft.io.Iterate

/** Label propagation — north-rule addition N3. One synchronous step IS the
  * reference's `community_onepass_improvement` (hedonic/__init__.py:266-280,
  * operator M3/A18): each node adopts the majority label among its
  * neighbors; iterated to convergence here.
  *
  * Tie-break: the reference's is Python-set iteration order (unspecified,
  * hedonic/__init__.py:273); the engine canonicalizes to highest count, then
  * SMALLEST label — deterministic (documented divergence, SURVEY.md §7.4.2).
  *
  * Oscillation: synchronous LPA two-colors bipartite-ish graphs. Standard
  * fix applied: hash-parity gating — only nodes passing the portable md5
  * parity gate (graft.util.Portable.parityGate; DuckDB-replicable, so
  * q_lpa_full is oracled end to end) may change each round. Convergence = a
  * superstep where no node (gated or not) would change.
  *
  * Cost model: ONE job per iteration on both strategies. Broadcast-state
  * (small V): labels live in DRIVER arrays between rounds and re-enter the
  * plan as the per-round delta payload read by position over the packed
  * adjacency (graft.util.DeltaState); the single-stage job ends in a
  * changer-row collect and nothing is pinned (see Superstep for the
  * rationale and the measured serial-cost motivation). Shuffle path: the
  * new labels are pinned while the would-change counter rides the
  * materialization pass as an accumulator (Iterate.pinSums); the previous
  * round's cache is released immediately.
  */
object LabelPropagation {

  /** One synchronous step from `labels(id, label)`; returns new labels with
    * a `wants` column (true when the majority label differs from current).
    * `weighted = true` weighs each neighbor vote by edge weight (`sym` must
    * carry a `weight` column). `bcastState = true` broadcasts the V-row
    * label side into the gather — with `sym` cached pre-partitioned on src
    * (the grouping key) the whole step then runs exchange-free on the
    * cached layout (see Hedonic.stepPlanMap for the strategy rationale). */
  def step(sym: DataFrame, labels: DataFrame, weighted: Boolean = false,
           bcastState: Boolean = false): DataFrame = {
    val labSide = labels.select(col("id").as("dst"), col("label").as("nbrLabel"))
    val nbrLabels = sym.join(
      if (bcastState) broadcast(labSide) else labSide, Seq("dst"))
    val vote = if (weighted) sum(col("weight").cast("double")) else count(lit(1)).cast("double")
    val counts = nbrLabels.groupBy(col("src").as("id"), col("nbrLabel"))
      .agg(vote.as("cnt"))
    val best = counts.groupBy("id").agg(
      max(struct(col("cnt"), (-col("nbrLabel")).as("neg"), col("nbrLabel").as("lab"))).as("b"))
    labels.join(if (bcastState) broadcast(best) else best, Seq("id"), "left")
      .select(col("id"), col("label"),
        coalesce(col("b.lab"), col("label")).as("bestLabel"))
      .withColumn("wants", col("bestLabel") =!= col("label"))
  }

  /** `packedOpt`: a caller-built CSR pack of the symmetrized edges (see
    * Hedonic.run — pack once, run hedonic + PageRank + LPA), honored on
    * the broadcast-state path; with the default init the pack's numbering
    * is the state, so the call runs its rounds and nothing else. Caller
    * owns the cache lifetime and the `weighted` flags must match. */
  def run(edges: Dataset[Edge], initOpt: Option[DataFrame] = None,
          maxIter: Int = 30, parityGating: Boolean = true,
          weighted: Boolean = false,
          broadcastStateMaxRows: Long = 4000000L,
          packedOpt: Option[graft.graph.PackedAdj] = None): DataFrame = {
    val spark = edges.sparkSession
    val symCols = if (weighted) Seq("src", "dst", "weight") else Seq("src", "dst")
    def symDf = GraphOps.symmetrize(edges).select(symCols.map(col): _*)
    // The default init (every vertex its own label) comes with its row
    // count in hand: a shared pack's V, or the own-pack degree table,
    // persisted and counted once — over budget that count alone decides,
    // within budget one exact collect is the state AND the pack build's
    // degree summary. Over a shared pack it is the pack's own numbering,
    // with no job at all. A caller's init gets one capped collect.
    val degAgg = Option.when(initOpt.isEmpty && packedOpt.isEmpty)(
      symDf.groupBy(col("src").as("id")).agg(count(lit(1)).as("d")).persist())
    val (state, known) = (initOpt, packedOpt) match {
      case (Some(i), _) => (i.select(col("id"), col("label")), None)
      case (None, Some(p)) =>
        // Read only by the shuffle fallback (over budget): a distributed
        // scan of the pack, one row per vertex.
        val ids = if (p.maxSegs == 1) p.df.select("id") else p.df.select("id").distinct()
        (ids.select(col("id"), col("id").as("label")), Some(p.vertices))
      case (None, None) =>
        (degAgg.get.select(col("id"), col("id").as("label"), col("d")), Some(degAgg.get.count()))
    }
    // (ids, labels, degrees when the own-pack degree table was collected)
    val inHand = (initOpt, packedOpt.map(_.ids)) match {
      case (None, Some(ids)) =>
        Option.when(Superstep.fits(ids.length, broadcastStateMaxRows))((ids, ids.clone(), None))
      case _ =>
        Superstep.stateGate(state, broadcastStateMaxRows, known).map { cols =>
          (cols.longs(0), cols.longs(1), degAgg.map(_ => cols.longs(2)))
        }
    }
    inHand match {
      case Some((ids, labs, degs)) =>
        // Broadcast-state strategy iterates over the CSR-packed adjacency
        // (see PackedAdjacency / stepPlanPackedIdxDelta).
        packedOpt.foreach(p => require(p.weighted == weighted,
          s"prebuilt pack weighted=${p.weighted} but weighted=$weighted"))
        val packed = packedOpt.getOrElse {
          graft.graph.PackedAdjacency.build(symDf, "src", weighted,
            degOpt = degAgg.map(_.select(col("id").as("src"), col("d"))),
            degrees = degs.map(graft.graph.DegreeSummary.of), numbering = Some(ids))
        }
        val out = runDriverState(spark, Right(packed), ids, labs, maxIter, parityGating,
          weighted, ownsPack = packedOpt.isEmpty, "label")
        degAgg.foreach(_.unpersist())
        return out
      case None =>
    }
    val init = state.select("id", "label")
    // Shuffle path: cached pre-partitioned on dst (the join key); only the
    // V-row label side re-exchanges per round.
    val sym = GraphOps.pinnedSym(edges, "dst", weighted, sorted = true)

    val initPin = Iterate.pinned(init)
    degAgg.foreach(_.unpersist())
    var labels = initPin.df
    var prevPin: Option[Iterate.Pinned] = Some(initPin)
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      val stepped = step(sym, labels, weighted, bcastState = false)
      val gate =
        if (parityGating) graft.util.Portable.parityGate(col("id"), iter)
        else lit(true)
      val next = stepped
        .select(col("id"),
          when(col("wants") && gate, col("bestLabel")).otherwise(col("label")).as("label"),
          col("wants"))
      val pinned = Iterate.pinSums(next, Seq("wants"))
      done = pinned.sums(0) == 0.0
      labels = pinned.df.select("id", "label")
      prevPin.foreach(_.release())
      prevPin = Some(pinned)
      iter += 1
    }
    sym.unpersist()
    labels
  }

  /** One-shot majority vote (the q_lpa1 / q_wlpa1 shape) with the same
    * scale-gated strategy split as run(): a label state within the
    * broadcast budget executes stepPlanMap straight over the symmetrized
    * rows — state enters as a broadcast primitive map, so the E-row
    * gather JOIN of step() (and the pack build run() would pay — measured
    * a net loss for one step in the first round-6 session) both
    * disappear; only changer rows come back and the driver merge keeps
    * everyone else's label. Larger states fall back to the plan-side
    * step(). Output (id, bestLabel) per label row — value-identical to
    * step(sym, labels, weighted).select(id, bestLabel) (StrategySpec). */
  def bestLabels(sym: DataFrame, labels: DataFrame, weighted: Boolean = false,
                 broadcastStateMaxRows: Long = 4000000L): DataFrame =
    Superstep.stateGate(labels.select("id", "label"), broadcastStateMaxRows) match {
      case Some(cols) =>
        runDriverState(labels.sparkSession, Left(sym), cols.longs(0),
          cols.longs(1), maxIter = 1, parityGating = false, weighted,
          ownsPack = false, "bestLabel")
      case None => step(sym, labels, weighted).select(col("id"), col("bestLabel"))
    }

  /** The driver-state iteration's plan over a broadcast id -> label map
    * (graft.util.StateMap lookup expressions — see Hedonic.stepPlanMap for
    * why this beats LocalRelation + broadcast join): gather votes over the
    * cached layout, per-node argmax, gate evaluated in-plan (portable md5
    * parity — DuckDB-replicable). One single-stage job, zero exchanges.
    * Only CHANGER rows (majority label differs from current) are returned
    * — non-changers change nothing and are counted nowhere, mirroring the
    * old driver merge's `best != labs(at)` guard; the isNotNull filters
    * mirror the inner join's drop of dst/id outside the label state. */
  private[graft] def stepPlanMap(sym: DataFrame,
      labOf: graft.util.StateMap.Ref[org.apache.spark.broadcast.Broadcast[graft.util.StateMap.LongLongMap]],
      weighted: Boolean, gate: org.apache.spark.sql.Column): DataFrame = {
    import graft.util.StateMap
    val vote = if (weighted) sum(col("weight").cast("double")) else count(lit(1)).cast("double")
    val votes = sym
      .select(col("src").as("id"), StateMap.lookup(labOf, col("dst")).as("nbrLabel"),
        (if (weighted) col("weight") else lit(1L)).as("weight"))
      .filter(col("nbrLabel").isNotNull)
      .groupBy("id", "nbrLabel")
      .agg(vote.as("cnt"))
    decideFromVotes(votes, Seq("id"), c => StateMap.lookup(labOf, c))
      .select(col("id"), col("bestLabel"), gate.as("g"))
  }

  /** Shared decide tail over per-(keys, label) vote sums: canonical argmax
    * (count desc, smallest label) + changed-only filter; `cur` looks up
    * the current label of `keys.head`. Feeds both the row-based
    * stepPlanMap (keys = id, map lookup) and the hub branch of
    * stepPlanPackedIdxDelta (keys = myIdx, id; payload lookup by
    * position). */
  private[graft] def decideFromVotes(votes: DataFrame, keys: Seq[String],
      cur: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame =
    votes
      .groupBy(keys.map(col): _*).agg(
        max(struct(col("cnt"), (-col("nbrLabel")).as("neg"), col("nbrLabel").as("lab"))).as("b"))
      .withColumn("cur", cur(col(keys.head)))
      .filter(col("cur").isNotNull && col("b.lab") =!= col("cur"))
      .select(keys.map(col) :+ col("b.lab").as("bestLabel"): _*)

  /** The driver-state step plan over a pack (see
    * Hedonic.stepPlanPackedIdxDelta / DeltaState): a V-row scan where a
    * codegen'd per-vertex kernel (PackedKernels.kLabelIdx) tallies the
    * neighbor labels, read by position from the Payload's comms lane, and
    * argmaxes in one pass. On a hub pack multi-segment vertices flow
    * through per-segment partial votes, a (myIdx, label) sum and the
    * shared decide tail. Decision-identical to stepPlanMap (PackedSpec). */
  private[graft] def stepPlanPackedIdxDelta(pidx: graft.graph.PackedAdj,
      stateR: graft.util.StateMap.Ref[org.apache.spark.broadcast.Broadcast[graft.util.DeltaState.Payload]],
      gate: org.apache.spark.sql.Column, emitPos: Boolean = false): DataFrame = {
    val wcol = if (pidx.weighted) Some(col("wts")) else None
    val hub = pidx.maxSegs > 1
    // emitPos: key on the state position (see Hedonic.stepPlanPackedIdx)
    val dec1 = (if (hub) pidx.df.filter(col("nsegs") === 1) else pidx.df)
      .select(col("id"), col("myIdx"),
        PackedKernels.labelDecideIdxDelta(col("myIdx"), col("nbrs"), wcol, stateR)
          .as("bestLabel"))
      .filter(col("bestLabel").isNotNull)
    val dec =
      if (!hub) dec1
      else {
        val votes = pidx.df.filter(col("nsegs") > 1)
          .select(col("myIdx"), col("id"),
            explode(PackedKernels.labelVotes(col("nbrs"), wcol, stateR)).as("lv"))
          .select(col("myIdx"), col("id"), col("lv.nbrLabel").as("nbrLabel"),
            col("lv.cnt").as("cnt"))
          .groupBy("myIdx", "id", "nbrLabel").agg(sum("cnt").as("cnt"))
        dec1.unionByName(decideFromVotes(votes, Seq("myIdx", "id"),
          PackedKernels.stateAt(stateR, _)))
      }
    dec.select(if (emitPos) col("myIdx") else col("id"), col("bestLabel"), gate.as("g"))
  }

  /** Broadcast-strategy loop with DRIVER-RESIDENT labels on the Superstep
    * engine; exactly one Spark job (ending in a changer-row collect) per
    * iteration. Decision semantics identical to the shuffle loop: `wants`
    * = majority label differs (counted BEFORE gating, so convergence is
    * gate-independent); a node absent from the vote table keeps its label.
    * `adj` is the packed adjacency (the delta payload, hub or not), or
    * (Left) the symmetrized rows the map-state one-shot votes over. The
    * output's label column is `name`. */
  private def runDriverState(spark: org.apache.spark.sql.SparkSession,
      adj: Either[DataFrame, graft.graph.PackedAdj],
      ids: Array[Long], labs0: Array[Long], maxIter: Int, parityGating: Boolean,
      weighted: Boolean, ownsPack: Boolean, name: String): DataFrame = {
    import graft.util.StateMap
    val run = new Superstep.Run(spark, ids, adj.toOption, ownsPack)
    val labs = run.align(labs0)
    val labR = new StateMap.Ref[org.apache.spark.broadcast.Broadcast[StateMap.LongLongMap]](null)
    val gate = run.parityGate(parityGating)
    val dense = run.dense.isDefined
    val plan = adj match {
      case Left(sym) => stepPlanMap(sym, labR, weighted, gate)
      case Right(_)  => stepPlanPackedIdxDelta(run.dense.get, run.delta.ref, gate, emitPos = true)
    }
    val job = run.moves(plan)
    // labels ride the delta Payload's comms lane; the size lane stays empty
    val noSizes = new scala.collection.mutable.LongMap[Long]()
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      if (dense) run.delta.publish(iter, labs, noSizes)
      else run.publish(labR, StateMap.longLong(run.ids, labs, run.n))
      val parts = run.collect(job, iter)
      // Every collected row is a changer (best != current, filtered
      // in-plan); `g` carries the gate.
      var wanted = 0L
      var p = 0
      while (p < parts.length) {
        val (pos, ls, g) = parts(p)
        var k = 0
        while (k < pos.length) {
          val at = pos(k)
          if (at >= 0) {
            wanted += 1
            if (g(k)) {
              labs(at) = ls(k)
              if (dense) run.delta.set(at, ls(k))
            }
          }
          k += 1
        }
        p += 1
      }
      done = wanted == 0L
      iter += 1
    }
    run.close()
    Superstep.frame(spark, run.ids, name, labs)
  }
}
