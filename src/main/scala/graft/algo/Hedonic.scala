package graft.algo

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.{Edge, RunMetrics}
import graft.graph.GraphOps
import graft.io.{Checkpoint, Iterate}

/** Hedonic-game community detection — the reference's core
  * (`community_hedonic_traversal`, hedonic/__init__.py:214-228), distributed
  * as synchronous supersteps: gather -> payoff -> argmax -> apply.
  *
  * Semantics preserved from the reference:
  *  - payoff(node, community C) = friends*(1-alpha) - strangers*alpha, where
  *    friends = neighbors of node inside C, strangers = |C| - friends, minus
  *    1 more when C is node's own community (self excluded,
  *    hedonic/__init__.py:39-42,345).
  *  - candidate communities = {current} U {communities holding >=1 neighbor}
  *    (hedonic/__init__.py:81) — "no new clusters" holds for free because
  *    move targets only come from the gather.
  *  - a node moves only on STRICT improvement (hedonic/__init__.py:84).
  *  - default alpha = graph density (hedonic/__init__.py:78,215).
  *
  * Documented divergence (SURVEY.md §7.4.1-2): the reference sweeps vertices
  * asynchronously in index order; a distributed engine moves in rounds, so it
  * may reach a *different, equally valid* equilibrium. Tie-breaks are
  * canonicalized (current community wins payoff ties, then smallest label)
  * instead of Python dict order. Correctness oracle = the schedule-independent
  * equilibrium post-condition (every vertex's current community is payoff-
  * maximal at convergence), not label-for-label parity with the sweep. The
  * exhaustive n<=6 meta-graph harness (RobustnessGroundTruthSpec) checks the
  * stronger property: every engine equilibrium is a best-response-dynamics
  * sink of the reference's move graph (scripts/robustness/meta_graph.py).
  *
  * Oscillation control: hedonic games are potential games under unilateral
  * moves, but simultaneous moves can cycle. Each superstep only nodes passing
  * the portable parity gate (graft.util.Portable.parityGate — md5-derived so
  * the DuckDB oracle replicates full gated runs, see q_hedonic_full) may
  * move — a DIFFERENT deterministic half each round, so any two nodes locked
  * in a simultaneous-swap cycle are
  * eventually separated and the survivor's move is unilateral = strictly
  * potential-increasing (fixed id-parity classes were observed to oscillate
  * forever on multi-label inits: the same adjacent pair stays co-gated every
  * round). Convergence is declared when a full superstep finds ZERO nodes
  * wanting to move (checked before gating, so it is gate-independent).
  *
  * Superstep cost model (the scaling-efficiency lever): exactly ONE Spark
  * job per superstep, on both physical strategies.
  *  - Broadcast-state (V within Config.broadcastStateMaxRows): the state
  *    lives in DRIVER arrays between supersteps and re-enters the plan as
  *    the per-round delta payload (graft.util.DeltaState); the superstep
  *    is a single single-stage job scanning the CSR-packed adjacency, with
  *    a codegen'd per-vertex kernel doing gather+score+argmax in one pass
  *    (PackedAdjacency / PackedKernels / stepPlanPackedIdxDelta) and a
  *    wanter-row collect at the end. Nothing is pinned; wants/moved are counted on
  *    the collected rows.
  *  - Co-partitioned shuffle (the 1e9-vertex path): the new state is
  *    pinned (eager cache + RDD-lineage cut + stats barrier, see
  *    graft.io.Iterate) while the wants/moved counters ride the same pass
  *    as accumulators — round 1 ran a pin job PLUS a scalar-aggregate job
  *    per superstep, and that fixed driver cost was the measured
  *    bottleneck at N-vs-4N (BASELINE.md). The previous round's cache is
  *    released as soon as the new state is materialized.
  */
object Hedonic {

  final case class Config(
      alpha: Option[Double] = None, // None => graph density
      maxSupersteps: Int = 200,
      parityGating: Boolean = true,
      checkpointEvery: Int = 8,
      // Durable snapshots + manifest for resume (graft.io.Checkpoint). A
      // LOCAL directory: a plain path or a file: URI; any other scheme
      // (hdfs:, s3a:, ...) throws IllegalArgumentException.
      checkpointDir: Option[String] = None,
      trackPotential: Boolean = false,
      // Max state rows for the broadcast-state superstep (see stepPlanMap):
      // below this, the V-row membership is broadcast into a gather over
      // edges cached pre-partitioned on the GROUPING key, and a superstep
      // moves zero edge-scale rows through the shuffle. 0 forces the
      // co-partitioned shuffle path (the 1e9-vertex strategy; tests pin
      // both paths to identical results).
      broadcastStateMaxRows: Long = 4000000L,
      // Weight-aware payoff: friendship mass = sum of edge weights into the
      // candidate community (the engine's mandated co-occurrence graph is
      // weighted — weight = shared paths), strangers stay COUNT-based
      // (csize - neighbor count - self), so payoff =
      // wfriends*(1-a) - strangers*a. With unit weights this is bitwise the
      // unweighted formula. Reference graphs are unweighted; parity
      // queries use the default.
      weighted: Boolean = false,
      // Pack-shuffle partition count (None = session shuffle partitions).
      // Sizes the CSR build sort and the cache blocks (see
      // PackedAdjacency.build).
      packPartitions: Option[Int] = None,
      // Iteration-cache partition count (None = pack-sort width). The
      // superstep loop launches one task per cached partition every round
      // and dispatch is driver-serial, so this should track executor
      // cores (see PackedAdjacency.build's cachePartitions).
      cachePartitions: Option[Int] = None)

  /** friends per (id, candidate community): one equi-join of the symmetrized
    * edges with membership on the neighbor endpoint, then a hash aggregate
    * (partial+final map-side combine for free). The current community is
    * union'd in with 0 friends so every node always has its own row
    * (reference pre-initializes it, hedonic/__init__.py:58-59,342-343).
    *
    * `weighted = true` counts each neighbor by edge weight instead of 1 —
    * the engine's mandated co-occurrence graph is weighted (shared-path
    * count), so friendship strength is the weight sum. `sym` must then
    * carry a `weight` column. Reference graphs are unweighted; parity
    * queries use the default. */
  def gather(sym: DataFrame, members: DataFrame, weighted: Boolean = false): DataFrame = {
    val nbrComm = members.select(col("id").as("dst"), col("community"))
    val w = if (weighted) col("weight").cast("double") else lit(1L).cast("double")
    val friendRows = sym
      .join(nbrComm, Seq("dst"))
      .select(col("src").as("id"), col("community"), w.as("friends"))
    val out = friendRows
      .unionByName(members.select(col("id"), col("community"), lit(0.0).as("friends")))
      .groupBy("id", "community").agg(sum("friends").as("friends"))
    // unweighted counts are integral — keep the oracle-stable long type
    if (weighted) out else out.withColumn("friends", col("friends").cast("long"))
  }

  /** Weighted gather carrying BOTH the neighbor count (long — strangers
    * stay count-based) and the weight sum per candidate community. `sym`
    * must carry a `weight` column. */
  private[graft] def gatherBoth(sym: DataFrame, members: DataFrame): DataFrame = {
    val nbrComm = members.select(col("id").as("dst"), col("community"))
    sym
      .join(nbrComm, Seq("dst"))
      .select(col("src").as("id"), col("community"),
        lit(1L).as("f1"), col("weight").cast("double").as("fw"))
      .unionByName(members.select(col("id"), col("community"),
        lit(0L).as("f1"), lit(0.0).as("fw")))
      .groupBy("id", "community")
      .agg(sum("f1").as("friends"), sum("fw").as("wfriends"))
  }

  /** Full candidate table with strangers + payoff columns.
    * Community sizes are broadcast (C << V).
    *
    * `weighted`: payoff = wfriends*(1-a) - strangers*a (see Config.weighted);
    * strangers stay count-based either way. The unweighted payoff promotes
    * the long count to double exactly as wfriends would, so the weighted
    * formula with unit weights is bitwise the unweighted one. */
  def payoffs(sym: DataFrame, members: DataFrame, alpha: Double,
              weighted: Boolean = false): DataFrame = {
    val sizes = members.groupBy("community").agg(count(lit(1)).as("csize"))
    val cur = members.select(col("id"), col("community").as("curComm"))
    val g = if (weighted) gatherBoth(sym, members) else gather(sym, members)
    g.join(broadcast(sizes), Seq("community"))
      .join(cur, Seq("id"))
      .withColumn("isCur", col("community") === col("curComm"))
      .withColumn("strangers",
        col("csize") - col("friends") - when(col("isCur"), 1L).otherwise(0L))
      .withColumn("payoff",
        (if (weighted) col("wfriends") * (1.0 - alpha)
         else col("friends") * (1.0 - alpha)) - col("strangers") * alpha)
  }

  /** One synchronous superstep. Returns (newMembers, wantedToMove, moved).
    * `gate` restricts which improving nodes actually move this round. */
  def step(
      sym: DataFrame,
      members: DataFrame,
      alpha: Double,
      gate: org.apache.spark.sql.Column,
      weighted: Boolean = false): (DataFrame, Long, Long) = {
    val (pinned, wanted, moved) = stepPinned(sym, members, alpha, gate, weighted)
    (pinned.df.select("id", "community"), wanted, moved)
  }

  /** Superstep core: builds the argmax-move plan and materializes it in a
    * single job (pin + accumulator counters fused — see object doc).
    * Callers that loop MUST release() the previous round's Pinned. */
  private[graft] def stepPinned(
      sym: DataFrame,
      members: DataFrame,
      alpha: Double,
      gate: org.apache.spark.sql.Column,
      weighted: Boolean = false): (Iterate.Pinned, Long, Long) = {
    val p = payoffs(sym, members, alpha, weighted)
    // argmax with canonical tie-break: highest payoff, then current community,
    // then smallest label. struct max orders lexicographically.
    val best = p.groupBy("id").agg(
      max(struct(
        col("payoff"),
        col("isCur").cast("int").as("ic"),
        (-col("community")).as("negc"),
        col("community").as("comm"))).as("b"),
      max(when(col("isCur"), col("payoff"))).as("curPayoff"),
      first(col("curComm")).as("curComm"))
    val decided = best.select(
      col("id"),
      col("curComm"),
      (col("b.payoff") > col("curPayoff")).as("wants"),
      col("b.comm").as("bestComm"))
    val applied0 = decided
      .withColumn("doMove", col("wants") && gate)
      .select(
        col("id"),
        when(col("doMove"), col("bestComm")).otherwise(col("curComm")).as("community"),
        col("wants"),
        col("doMove"))
    val pinned = Iterate.pinSums(applied0, Seq("wants", "doMove"))
    (pinned, pinned.sums(0).toLong, pinned.sums(1).toLong)
  }

  /** Broadcast-state superstep plan over BROADCAST-MAP state — the same
    * decision function as stepPinned, different physical strategy (used by
    * run() when V fits the broadcast budget).
    *
    * The driver-resident state enters the plan as two
    * `sparkContext.broadcast` primitive maps (id -> community,
    * community -> size) read through codegen'd lookup expressions
    * (graft.util.StateMap), NOT as LocalRelations under broadcast hash
    * joins: a BroadcastExchange over a LocalRelation launches a REAL job
    * per build (`executeCollectIterator` runs `leafNodeDefaultParallelism`
    * tasks with the V rows serialized into the closures) — measured at
    * three such jobs and 2-5 s of flat serial driver time per superstep on
    * the 66.7M-edge scaling graph. With map lookups a superstep is ONE
    * single-stage job: scan of the edge cache (pre-partitioned on SRC, the
    * grouping key) -> in-place hash aggregate -> argmax -> wanter-row
    * collect back to the driver.
    *
    * Decision-identical details vs the shuffle path (StrategySpec pins
    * them): the own-community candidate row (friends = 0) is not union'd
    * in; the current payoff falls back to the closed form
    * 0*(1-a) - (csize-1)*a when the node has no friends at home — bitwise
    * the value the union row would have produced, so `wants` (a strict >)
    * decides identically. Ties keep the current community because wants is
    * false on equality. The two isNotNull filters reproduce the inner
    * joins' drop of dst/id outside the state table; nodes with no gather
    * rows never reach the plan and the driver merge keeps their community.
    * Only rows with wants = true are collected — rows that decide "stay"
    * change nothing and are counted nowhere, so the V-row collect shrinks
    * to the mover frontier as the run converges. */
  private[graft] def stepPlanMap(
      sym: DataFrame,
      commOf: graft.util.StateMap.Ref[org.apache.spark.broadcast.Broadcast[graft.util.StateMap.LongLongMap]],
      sizeOf: graft.util.StateMap.Ref[org.apache.spark.broadcast.Broadcast[graft.util.StateMap.LongLongMap]],
      alpha: Double,
      gate: org.apache.spark.sql.Column,
      weighted: Boolean = false): DataFrame = {
    import graft.util.StateMap
    val counts =
      if (weighted)
        sym
          .select(col("src").as("id"),
            StateMap.lookup(commOf, col("dst")).as("community"),
            col("weight").cast("double").as("w"))
          .filter(col("community").isNotNull)
          .groupBy("id", "community")
          .agg(sum(lit(1L)).as("friends"), sum(col("w")).as("wfriends"))
      else
        sym
          .select(col("src").as("id"), StateMap.lookup(commOf, col("dst")).as("community"))
          .filter(col("community").isNotNull)
          .groupBy("id", "community").agg(sum(lit(1L)).as("friends"))
    decideFromCounts(counts, Seq("id"), c => StateMap.lookup(commOf, c),
        c => StateMap.lookup(sizeOf, c), alpha, weighted)
      .select(col("id"), col("bestComm"), gate.as("doMove"))
  }

  /** Shared decide tail over per-(keys, candidate community) friend
    * counts: payoff -> canonical argmax -> strict-improvement filter.
    * `cur` looks up the current community of `keys.head` and `size` a
    * community's size. Feeds both the row-based stepPlanMap (keys = id,
    * map lookups) and the hub branch of stepPlanPackedIdxDelta (keys =
    * myIdx, id; payload lookups by position), so hub decisions are
    * expression-identical to the row plan. */
  private[graft] def decideFromCounts(
      counts: DataFrame,
      keys: Seq[String],
      cur: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      size: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      alpha: Double,
      weighted: Boolean): DataFrame = {
    val cand = counts
      .withColumn("csize", size(col("community")))
      .withColumn("curComm", cur(col(keys.head)))
      .filter(col("curComm").isNotNull)
      .withColumn("isCur", col("community") === col("curComm"))
      .withColumn("strangers",
        col("csize") - col("friends") - when(col("isCur"), 1L).otherwise(0L))
      .withColumn("payoff",
        (if (weighted) col("wfriends") * (1.0 - alpha)
         else col("friends") * (1.0 - alpha)) - col("strangers") * alpha)
    val best = cand.groupBy(keys.map(col): _*).agg(
      max(struct(
        col("payoff"),
        col("isCur").cast("int").as("ic"),
        (-col("community")).as("negc"),
        col("community").as("comm"))).as("b"),
      max(when(col("isCur"), col("payoff"))).as("curP0"))
    best
      .withColumn("curComm", cur(col(keys.head)))
      .withColumn("curSize", size(col("curComm")))
      .select(keys.map(col) ++ Seq(
        (col("b.payoff") >
          coalesce(col("curP0"),
            lit(0L) * (1.0 - alpha) - (col("curSize") - 1L) * alpha)).as("wants"),
        col("b.comm").as("bestComm")): _*)
      .filter(col("wants"))
      .select(keys.map(col) :+ col("bestComm"): _*)
  }

  /** Superstep plan over a hub-free pack with the per-round community
    * state as bare broadcasts (a long[] read through the pack's int
    * position arrays, PackedKernels.kHedonicIdx, and the size map): the
    * frontier executor's decide plan. */
  private[graft] def stepPlanPackedIdx(
      pidx: graft.graph.PackedAdj,
      commArr: graft.util.StateMap.Ref[org.apache.spark.broadcast.Broadcast[Array[Long]]],
      sizeOf: graft.util.StateMap.Ref[org.apache.spark.broadcast.Broadcast[graft.util.StateMap.LongLongMap]],
      alpha: Double,
      gate: org.apache.spark.sql.Column,
      emitPos: Boolean = false): DataFrame = {
    val wtsOpt = if (pidx.weighted) Some(col("wts")) else None
    // emitPos: the driver-state loop keys its merge on the dense state
    // POSITION (myIdx) so collected rows skip the id->index probe and can
    // ride the primitive-array collect path. The gate stays on id — the
    // parity decision is a function of the vertex id, not its position.
    pidx.df
      .select(col("id"), col("myIdx"),
        PackedKernels.hedonicDecideIdx(col("myIdx"), col("nbrs"), wtsOpt,
          commArr, sizeOf, alpha).as("bestComm"))
      .filter(col("bestComm").isNotNull)
      .select(if (emitPos) col("myIdx") else col("id"),
        col("bestComm"), gate.as("doMove"))
  }

  /** The driver-state superstep plan over a pack (the production
    * broadcast-state path): a V-row scan where a codegen'd per-vertex
    * kernel (PackedKernels.kHedonicIdx) gathers, scores and argmaxes in
    * one pass — no aggregate operator, no per-edge rows. The state is one
    * delta Payload broadcast per round — base snapshot handle + cumulative
    * overrides — instead of fresh O(V) comms/sizes broadcasts. On a hub
    * pack (maxSegs > 1) multi-segment vertices flow through per-segment
    * partial counts, a (myIdx, community) sum and the shared decide tail
    * with payload lookups by position; a hub-free pack's plan has no such
    * branch. Decision-identical to stepPlanMap (PackedSpec pins both). */
  private[graft] def stepPlanPackedIdxDelta(
      pidx: graft.graph.PackedAdj,
      stateR: graft.util.StateMap.Ref[org.apache.spark.broadcast.Broadcast[graft.util.DeltaState.Payload]],
      alpha: Double,
      gate: org.apache.spark.sql.Column,
      emitPos: Boolean = false): DataFrame = {
    val wtsOpt = if (pidx.weighted) Some(col("wts")) else None
    val hub = pidx.maxSegs > 1
    val dec1 = (if (hub) pidx.df.filter(col("nsegs") === 1) else pidx.df)
      .select(col("id"), col("myIdx"),
        PackedKernels.hedonicDecideIdxDelta(col("myIdx"), col("nbrs"), wtsOpt,
          stateR, alpha).as("bestComm"))
      .filter(col("bestComm").isNotNull)
    val dec =
      if (!hub) dec1
      else {
        val w = Option.when(pidx.weighted)("wfriends")
        val counts = pidx.df.filter(col("nsegs") > 1)
          .select(col("myIdx"), col("id"),
            explode(PackedKernels.commCounts(col("nbrs"), wtsOpt, stateR)).as("cf"))
          .select((Seq(col("myIdx"), col("id")) ++
            ("community" +: "friends" +: w.toSeq).map(f => col("cf." + f).as(f))): _*)
          .groupBy("myIdx", "id", "community")
          .agg(sum("friends").as("friends"), w.toSeq.map(f => sum(f).as(f)): _*)
        dec1.unionByName(decideFromCounts(counts, Seq("myIdx", "id"),
          PackedKernels.stateAt(stateR, _), PackedKernels.sizeAt(stateR, _), alpha,
          pidx.weighted))
      }
    dec.select(if (emitPos) col("myIdx") else col("id"), col("bestComm"), gate.as("doMove"))
  }

  /** M4 one-pass hedonic improvement at alpha = 0 (reference
    * `community_onepass_improvement_hedonic`, hedonic/__init__.py:282-292):
    * preferred communities are computed against the INITIAL membership for
    * every node, then all moves applied — exactly one synchronous
    * max-friends step. Canonical tie-break: the current community wins
    * friend-count ties (matches the reference, whose dict iteration visits
    * the own community first), then smallest label. */
  def onePass(sym: DataFrame, members: DataFrame): DataFrame =
    preferred(sym, members)
      .select(col("id"), col("pref").as("community"))

  /** alpha=0 argmax: (id, curComm, pref) where pref is the max-friends
    * candidate community, own community winning ties, then smallest label
    * (reference get_preferable_community at resolution 0,
    * hedonic/__init__.py:76-84 + count_nodes_wanting_to_move :396-403). */
  private def preferred(sym: DataFrame, members: DataFrame): DataFrame =
    gather(sym, members)
      .join(members.select(col("id"), col("community").as("curComm")), Seq("id"))
      .withColumn("isCur", col("community") === col("curComm"))
      .groupBy("id").agg(
        max(struct(
          col("friends"),
          col("isCur").cast("int").as("ic"),
          (-col("community")).as("negc"),
          col("community").as("comm"))).as("b"),
        first(col("curComm")).as("curComm"))
      .select(col("id"), col("curComm"), col("b.comm").as("pref"))

  /** A11 `count_nodes_wanting_to_move` (hedonic/__init__.py:396-403),
    * exposed for ALL target communities at once: per community, how many
    * nodes prefer it at alpha = 0 (the reference's TODO-noted convention —
    * preference ignores resolution). */
  def wantingToMove(sym: DataFrame, members: DataFrame): DataFrame =
    preferred(sym, members)
      .groupBy(col("pref").as("community"))
      .agg(count(lit(1)).as("n_preferring"))

  /** A12 `evaluate_community_stability` (hedonic/__init__.py:411-430): for
    * one community C, collapse the partition to binary {in C = 1, out = 0},
    * then report the fraction of C's members preferring outside
    * (want_to_leave) and the fraction of C's outer NEIGHBORS preferring C
    * (want_to_join), both under the alpha=0 max-friends preference with the
    * reference's own-community-wins tie-break. Empty outer-neighbor sets
    * yield 0 (the reference would divide by zero). */
  def communityStability(sym: DataFrame, members: DataFrame, community: Long): DataFrame = {
    val bin = members.select(col("id"),
      when(col("community") === community, 1L).otherwise(0L).as("community"))
    val pref = preferred(sym, bin)
    val insideIds = members.filter(col("community") === community).select("id")
    val outerNbrIds = sym
      .join(insideIds.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .select(col("dst").as("id")).distinct()
      .join(insideIds, Seq("id"), "left_anti")
    val leave = pref.join(insideIds, Seq("id"), "left_semi")
      .agg(round(coalesce(avg((col("pref") === 0L).cast("double")), lit(0.0)), 6)
        .as("fraction_want_to_leave"))
    val join_ = pref.join(outerNbrIds, Seq("id"), "left_semi")
      .agg(round(coalesce(avg((col("pref") === 1L).cast("double")), lit(0.0)), 6)
        .as("fraction_want_to_join"))
    leave.crossJoin(join_)
  }

  /** Global potential: sum over communities of
    * e_in*(1-a) - (C(n,2) - e_in)*a (intended semantics of
    * hedonic/__init__.py:164-173; the reference's own body is dormant-buggy —
    * `total_possible_edges` undefined — see SURVEY.md §7.5). Equals the
    * meta-graph harness's partition_potential
    * (scripts/robustness/meta_graph.py:20-29) with gamma = alpha. */
  def potential(edges: Dataset[Edge], members: DataFrame, alpha: Double): Double = {
    val m1 = members.select(col("id").as("src"), col("community").as("c1"))
    val m2 = members.select(col("id").as("dst"), col("community").as("c2"))
    val eIn = edges.toDF().join(m1, Seq("src")).join(m2, Seq("dst"))
      .filter(col("c1") === col("c2"))
      .groupBy(col("c1").as("community")).agg(count(lit(1)).as("ein"))
    val sizes = members.groupBy("community").agg(count(lit(1)).as("n"))
    val row = sizes.join(eIn, Seq("community"), "left")
      .select(sum(
        coalesce(col("ein"), lit(0L)) * (1.0 - alpha)
          - (col("n") * (col("n") - 1) / 2 - coalesce(col("ein"), lit(0L))) * alpha))
      .collect()(0)
    if (row.isNullAt(0)) 0.0 else row.getDouble(0)
  }

  /** Run to equilibrium. Returns (final members, per-superstep metrics). */
  /** `packedOpt`: a caller-built CSR pack of the SYMMETRIZED edge table
    * (either key — the symmetric edge set makes src- and dst-packs
    * identical), honored on the broadcast-state path. A pipeline running
    * several algorithms on one graph packs ONCE and shares it — the pack's
    * E-row shuffle+sort is the dominant one-time cost at every scale and
    * there is no reason to pay it per algorithm. A pack comes numbered by
    * its build: an init over exactly the pack's vertices runs
    * on it as it is, any other init on a renumbered copy the run
    * releases. The default alpha takes V and 2E from the pack. The caller
    * owns the cache lifetime (run() will not unpersist a prebuilt pack);
    * its `weighted` flag must match cfg.weighted. */
  def run(
      edges: Dataset[Edge],
      init: DataFrame,
      cfg: Config = Config(),
      packedOpt: Option[graft.graph.PackedAdj] = None): (DataFrame, Seq[RunMetrics]) = {
    val spark = edges.sparkSession
    // alpha and the degree summary (V, 2E, max degree) from the SAME job
    // when alpha defaults to density — the pack build takes the summary in
    // place of its own stats job, and the one-shot fast path below reuses
    // 2E for its metrics row instead of running a second pass. A shared
    // pack already carries V and 2E.
    val degrees = Option.when(cfg.alpha.isEmpty && packedOpt.isEmpty)(
      GraphOps.degreeSummary(edges))
    val a = cfg.alpha.getOrElse {
      val (v, e) = packedOpt.fold((degrees.get.vertices, degrees.get.degSum / 2))(
        p => (p.vertices, p.degSum / 2))
      if (v < 2) 0.0 else 2.0 * e / (v.toDouble * (v - 1))
    }
    val ckpt = cfg.checkpointDir.map(d => new Checkpoint(spark, d, cfg.checkpointEvery))

    // Resume from the latest durable snapshot when a checkpoint dir is reused.
    val (startStep, startMembers) = ckpt.flatMap(_.latest()) match {
      case Some((k, df)) => (k + 1, df)
      case None          => (0, init.select("id", "community"))
    }

    // ONE materialization decides the strategy AND (when within budget)
    // already IS the driver-state collect (Superstep.stateGate).
    Superstep.stateGate(startMembers.select("id", "community"), cfg.broadcastStateMaxRows) match {
      case Some(cols) =>
        packedOpt.foreach(p => require(p.weighted == cfg.weighted,
          s"prebuilt pack weighted=${p.weighted} but cfg.weighted=${cfg.weighted}"))
        // ONE-superstep fast path (round 6): a single superstep never
        // amortizes the CSR pack build (exchange + sort + cache of the
        // E-row adjacency), so the single-ungated-step queries
        // (q_move1 / q_wmove1) run stepPlanMap straight over the symmetrized
        // rows — measured 5.2-5.9 s -> 3.1-4.3 s on the sf0.1 dense graph
        // (BenchExtra move1_ab). Decision-identical: StrategySpec pins
        // stepPlanMap against the packed kernels and the shuffle path.
        val oneShot = cfg.maxSupersteps - startStep == 1 && packedOpt.isEmpty &&
          ckpt.isEmpty && !cfg.trackPotential
        // Otherwise the loop iterates over the CSR-packed adjacency (one
        // build-time shuffle, then V-row supersteps — see PackedAdjacency /
        // stepPlanPackedIdxDelta).
        // An own pack is numbered by the state: position i is ids(i).
        val ids = cols.longs(0)
        val packed =
          if (oneShot) None
          else Some(packedOpt.getOrElse {
            val symCols = if (cfg.weighted) Seq("src", "dst", "weight") else Seq("src", "dst")
            graft.graph.PackedAdjacency.build(
              GraphOps.symmetrize(edges).select(symCols.map(col): _*), "src",
              weighted = cfg.weighted,
              partitions = cfg.packPartitions, cachePartitions = cfg.cachePartitions,
              degrees = degrees, numbering = Some(ids))
          })
        val edgeCount = packed.fold(degrees.getOrElse(GraphOps.degreeSummary(edges)).degSum)(_.degSum)
        return runDriverState(edges, packed, ids, cols.longs(1), startStep, a,
          edgeCount, cfg, ckpt, ownsPack = packedOpt.isEmpty)
      case None =>
    }

    // Shuffle path: cached pre-partitioned on dst (the gather JOIN key);
    // only the V-row members side re-exchanges per round.
    val sym = GraphOps.pinnedSym(edges, "dst", weighted = cfg.weighted, sorted = true)
    val edgeCount = sym.count()

    var members = startMembers
    var prevPin: Option[Iterate.Pinned] = None
    var metrics = Vector.empty[RunMetrics]
    var superstep = startStep
    var converged = false
    while (!converged && superstep < cfg.maxSupersteps) {
      val t0 = System.nanoTime()
      val gate =
        if (cfg.parityGating) graft.util.Portable.parityGate(col("id"), superstep)
        else lit(true)
      // `cut` gates the DURABLE parquet snapshot cadence only (resume
      // granularity, Checkpoint's `every`); the per-superstep lineage/stats
      // pin always happens inside stepPinned regardless.
      val cut = ckpt.isDefined && superstep % cfg.checkpointEvery == 0
      val (pinned, wanted, moved) = stepPinned(sym, members, a, gate, cfg.weighted)
      val next = pinned.df.select("id", "community")
      val pot = if (cfg.trackPotential) potential(edges, next, a) else Double.NaN
      val wallMs = (System.nanoTime() - t0) / 1000000
      val m = RunMetrics(superstep, moved, pot, wanted, edgeCount, wallMs)
      metrics :+= m
      val metricsJson = Checkpoint.json(Map(
        "moved" -> moved, "wanted" -> wanted,
        "potential" -> (if (pot.isNaN) null else pot), "wallMs" -> wallMs))
      members =
        if (cut) ckpt.get.truncate(next, superstep, metricsJson)
        else next
      // previous round's cache is dead; this round's too if a durable
      // snapshot (parquet re-read) replaced it.
      prevPin.foreach(_.release())
      prevPin = if (cut) { pinned.release(); None } else Some(pinned)
      converged = wanted == 0L
      superstep += 1
    }
    sym.unpersist()
    (members, metrics)
  }

  /** Community sizes of a membership array. */
  private[algo] def sizesOf(comms: Array[Long]): scala.collection.mutable.LongMap[Long] = {
    val m = new scala.collection.mutable.LongMap[Long](comms.length * 2)
    var j = 0
    while (j < comms.length) { m(comms(j)) = m.getOrElse(comms(j), 0L) + 1L; j += 1 }
    m
  }

  /** Moves one member from community `old` to `c` in `sizes` (O(1) —
    * sizes are maintained incrementally, never rebuilt per round); returns
    * the new size of `old`. */
  private[algo] def shift(sizes: scala.collection.mutable.LongMap[Long],
                          old: Long, c: Long): Long = {
    val so = sizes(old) - 1L
    if (so == 0L) sizes.remove(old) else sizes(old) = so
    sizes(c) = sizes.getOrElse(c, 0L) + 1L
    so
  }

  /** Broadcast-strategy loop with DRIVER-RESIDENT state (V fits the
    * broadcast budget by definition, so it fits the driver), on the
    * Superstep engine. The plan reads the membership as the delta-transport
    * payload over a pack, hub or not, and — `packed = None`, the
    * one-superstep fast path — as two primitive maps (id -> community,
    * community -> size) over the symmetrized rows.
    * Each superstep is ONE single-stage Spark job collecting only the
    * WANTER rows (doMove carries the gate); nothing pinned. All
    * payoff/argmax/gate arithmetic stays IN-PLAN — identical expressions
    * to the shuffle path — so results are bitwise-reproducible across
    * strategies (StrategySpec) and DuckDB replay (q_hedonic_full etc.) is
    * unaffected. */
  private def runDriverState(
      edges: Dataset[Edge],
      packed: Option[graft.graph.PackedAdj],
      ids: Array[Long], // pre-collected state, in collect order
      comms0: Array[Long],
      startStep: Int,
      alpha: Double,
      edgeCount: Long,
      cfg: Config,
      ckpt: Option[Checkpoint],
      ownsPack: Boolean): (DataFrame, Seq[RunMetrics]) = {
    import graft.util.StateMap
    val spark = edges.sparkSession
    val run = new Superstep.Run(spark, ids, packed, ownsPack)
    val comms = run.align(comms0)
    val sizes = sizesOf(comms)
    def stateDF: DataFrame = Superstep.frame(spark, run.ids, "community", comms)
    val commR = new StateMap.Ref[org.apache.spark.broadcast.Broadcast[StateMap.LongLongMap]](null)
    val sizeR = new StateMap.Ref[org.apache.spark.broadcast.Broadcast[StateMap.LongLongMap]](null)
    val gate = run.parityGate(cfg.parityGating)
    val dense = run.dense.isDefined
    val plan = run.dense match {
      case Some(pidx) => stepPlanPackedIdxDelta(pidx, run.delta.ref, alpha, gate, emitPos = true)
      case None =>
        val symCols = if (cfg.weighted) Seq("src", "dst", "weight") else Seq("src", "dst")
        stepPlanMap(GraphOps.symmetrize(edges).select(symCols.map(col): _*),
          commR, sizeR, alpha, gate, cfg.weighted)
    }
    val job = run.moves(plan)
    var metrics = Vector.empty[RunMetrics]
    var superstep = startStep
    var converged = false
    while (!converged && superstep < cfg.maxSupersteps) {
      val t0 = System.nanoTime()
      if (dense) run.delta.publish(superstep, comms, sizes)
      else {
        run.publish(commR, StateMap.longLong(run.ids, comms, run.n))
        run.publish(sizeR, StateMap.longLong(sizes))
      }
      val parts = run.collect(job, superstep)
      // Every collected row is a wanter (wants = true pre-filtered in-plan);
      // non-wanters change nothing and are not collected.
      var wanted = 0L
      var moved = 0L
      var p = 0
      while (p < parts.length) {
        val (pos, cs, mv) = parts(p)
        var k = 0
        while (k < pos.length) {
          val at = pos(k)
          if (at >= 0) { // positions outside the state table drop
            wanted += 1
            if (mv(k)) {
              moved += 1
              val old = comms(at)
              val c = cs(k)
              if (old != c) {
                comms(at) = c
                val so = shift(sizes, old, c)
                if (dense) {
                  run.delta.set(at, c); run.delta.setSize(old, so); run.delta.setSize(c, sizes(c))
                }
              }
            }
          }
          k += 1
        }
        p += 1
      }
      val pot = if (cfg.trackPotential) potential(edges, stateDF, alpha) else Double.NaN
      val wallMs = (System.nanoTime() - t0) / 1000000
      metrics :+= RunMetrics(superstep, moved, pot, wanted, edgeCount, wallMs)
      if (ckpt.isDefined && superstep % cfg.checkpointEvery == 0) {
        val metricsJson = Checkpoint.json(Map(
          "moved" -> moved, "wanted" -> wanted,
          "potential" -> (if (pot.isNaN) null else pot), "wallMs" -> wallMs))
        // Durable snapshot straight from the driver arrays, nothing re-read:
        // a Spark parquet write costs a job per snapshot (0.10-0.14 s warm)
        // plus the writer stack's start-up on its first use in the JVM.
        ckpt.get.snapshot(superstep, run.ids, comms, metricsJson)
      }
      converged = wanted == 0L
      superstep += 1
    }
    run.close()
    (stateDF, metrics)
  }

  /** Equilibrium post-condition (reference in_equilibrium,
    * hedonic/__init__.py:89-94): fraction of nodes whose current payoff is
    * within numpy-isclose tolerance of their max candidate payoff
    * (rtol 1e-5, atol 1e-8 — hedonic/__init__.py:646). */
  def equilibriumFraction(edges: Dataset[Edge], members: DataFrame, alpha: Double): Double = {
    val sym = GraphOps.symmetrize(edges)
    val p = payoffs(sym, members, alpha)
    val perNode = p.groupBy("id").agg(
      max(col("payoff")).as("maxP"),
      max(when(col("isCur"), col("payoff"))).as("curP"))
    val row = perNode.select(
      avg((abs(col("curP") - col("maxP")) <=
        lit(1e-8) + lit(1e-5) * abs(col("maxP"))).cast("double")))
      .collect()(0)
    if (row.isNullAt(0)) 1.0 else row.getDouble(0)
  }
}
