package graft.algo

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.Edge
import graft.graph.GraphOps
import graft.io.Iterate
import graft.util.Columns

/** PageRank over the (undirected, symmetrized) co-occurrence graph —
  * north-rule addition N1 (SURVEY.md §2.9); no direct reference
  * implementation exists, so semantics follow the standard formulation:
  *
  *   r'(v) = (1-d)/V + d * ( sum_{u->v} r(u)/outdeg(u) + danglingMass/V )
  *
  * Ranks sum to 1 at every iteration. On a symmetrized graph whose vertex
  * set is edge-derived there are no dangling vertices, so the per-iteration
  * dangling-mass job is SKIPPED entirely in that case (it is pure fixed
  * driver cost in exactly the loop where scaling efficiency is measured);
  * it runs only when a caller passes an explicit vertex table, which may
  * contain isolated vertices.
  *
  * `weighted = true` splits rank proportionally to edge weight
  * (contribution = r(u) * w(u,v) / strength(u), strength = sum of incident
  * weights) — the natural semantics for the engine's weighted co-occurrence
  * graph.
  *
  * Scale shape per iteration — two physical strategies, chosen by state
  * size (the same decision Spark itself makes between broadcast-hash and
  * sort-merge joins):
  *
  *  - broadcast-state (V <= broadcastStateMaxRows, no explicit vertex
  *    table): the rank vector lives in DRIVER arrays between iterations;
  *    each round it re-enters the plan as a broadcast primitive array read
  *    by position inside a scan of the CSR-packed in-neighbor lists, so
  *    the single job ends in a V-row collect. An
  *    iteration moves ZERO edge-scale rows through the shuffle and runs
  *    zero auxiliary jobs. This is what makes per-iteration cost scale
  *    with cores (the N->4N efficiency target): both the E-row exchange
  *    that saturates single-host shuffle bandwidth and the serial
  *    per-iteration driver cost (broadcast-build jobs, pins) are gone.
  *  - co-partitioned shuffle (large V): edges cached partitioned on src
  *    (the join key); only the V-row state shuffles into the join, and the
  *    E-row contribution aggregate exchanges on dst. This is the 1e9-vertex
  *    path where broadcasting the state would be worse than the shuffle
  *    (replicating V rows to every executor). ONE materializing job pins
  *    the new state and (in tol mode) accumulates sum|delta| in the same
  *    pass — no separate convergence job; the previous iteration's cache
  *    is released as soon as the new one is live.
  *
  * The edge table is persisted once across all iterations.
  */
object PageRank {

  final case class Config(
      damping: Double = 0.85,
      tol: Double = 1e-9, // on sum(|delta|); comfortably below 1e-6 fixture parity
      maxIter: Int = 100,
      fixedIter: Option[Int] = None, // exactly-n iterations (oracle parity mode)
      weighted: Boolean = false,
      // Max state rows to run the broadcast-state strategy. ~24 B/row:
      // the default ~100 MB broadcast trades against an E-row shuffle per
      // iteration; 0 forces the co-partitioned shuffle path (tests use
      // this to pin both strategies to the same fixtures).
      broadcastStateMaxRows: Long = 4000000L,
      // Pack-shuffle partition count (None = session shuffle partitions);
      // see Hedonic.Config.packPartitions.
      packPartitions: Option[Int] = None,
      // Iteration-cache partition count (see Hedonic.Config.cachePartitions).
      cachePartitions: Option[Int] = None)

  def run(edges: Dataset[Edge], cfg: Config = Config(),
          verticesOpt: Option[DataFrame] = None): DataFrame =
    runTimed(edges, cfg, verticesOpt)._1

  /** run() plus per-iteration wall-clock millis, so benchmarks can report
    * setup (vertex/degree/adjacency build) and iteration throughput as
    * separate phases — the build is one-time and amortizes over
    * iterations; lumping it into the rate hides what actually scales.
    *
    * `packedOpt`: a caller-built CSR pack of the SYMMETRIZED edges (see
    * Hedonic.run — src- and dst-packs are identical on a symmetric edge
    * set), honored on the broadcast-state path. Pack once, run hedonic +
    * PageRank + LPA: a pack that numbered itself hands over its numbering
    * and degrees, so the call runs its iterations and nothing else;
    * strengths (weighted), and degrees of a pack numbered by its caller,
    * are derived from the cached V-row pack (sum(wts) / size(nbrs))
    * instead of a second E-row aggregate.
    * Caller owns the pack's cache lifetime; its `weighted` flag must match
    * cfg.weighted. */
  def runTimed(edges: Dataset[Edge], cfg: Config = Config(),
          verticesOpt: Option[DataFrame] = None,
          packedOpt: Option[graft.graph.PackedAdj] = None): (DataFrame, Seq[Long]) = {
    val spark = edges.sparkSession
    (verticesOpt, packedOpt) match {
      case (None, None) =>
        // ONE degree pass for the common case (edge-derived vertex set, own
        // pack): the persisted degree table is counted once — the strategy
        // decision, no job over budget — and, when V fits, collected once.
        // Its rows are the state ids, the rank degrees and the pack build's
        // degree summary (no stats or segment-join jobs on hub-free graphs).
        val symCols = if (cfg.weighted) Seq("src", "dst", "weight") else Seq("src", "dst")
        val symDf = GraphOps.symmetrize(edges).select(symCols.map(col): _*)
        val degAgg =
          (if (cfg.weighted)
            symDf.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"),
              sum(col("weight").cast("double")).as("deg"))
          else
            symDf.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))).persist()
        val v = degAgg.count()
        val out = Superstep.stateGate(degAgg, cfg.broadcastStateMaxRows, Some(v)) match {
          case Some(cols) =>
            val ids = cols.longs(0)
            val d = cols.longs(1)
            val packed = graft.graph.PackedAdjacency.build(symDf, "dst", cfg.weighted,
              partitions = cfg.packPartitions, cachePartitions = cfg.cachePartitions,
              degOpt = Some(degAgg.select(col("id").as("dst"), col("d"))),
              degrees = Some(graft.graph.DegreeSummary.of(d)), numbering = Some(ids))
            val degs = if (cfg.weighted) cols.doubles(2) else d.map(_.toDouble)
            runDriverState(spark, packed, ids, degs, v.toDouble, cfg, ownsPack = true)
          case None =>
            // over-budget V: co-partitioned shuffle path, no dangling (min deg 1)
            val deg =
              if (cfg.weighted) degAgg.select(col("id"), col("deg"))
              else degAgg.select(col("id"), col("d").cast("double").as("deg"))
            runShuffle(edges, cfg, deg, v.toDouble, mayDangle = false)
        }
        degAgg.unpersist()
        out
      case (None, Some(p)) if Superstep.fits(p.vertices, cfg.broadcastStateMaxRows) =>
        // Caller's pack: V is the pack's own. A pack that numbered itself
        // carries its degrees in pack order, so no job runs. Strengths and
        // the degrees of a pack numbered by its caller come off the cached
        // V-row pack (multi-segment hub vertices contribute one row per
        // segment, hence the groupBy).
        require(p.weighted == cfg.weighted,
          s"prebuilt pack weighted=${p.weighted} but cfg.weighted=${cfg.weighted}")
        val (ids, degs) = p.deg match {
          case Some(d) if !cfg.weighted => (p.ids, d.map(_.toDouble))
          case _ =>
            val vd = Columns.of(if (cfg.weighted)
                p.df.groupBy(col("id")).agg(
                  sum(aggregate(col("wts"), lit(0.0), (acc, x) => acc + x)).as("deg"))
              else
                p.df.groupBy(col("id")).agg(sum(size(col("nbrs"))).cast("double").as("deg")))
            (vd.longs(0), vd.doubles(1))
        }
        runDriverState(spark, p, ids, degs, p.vertices.toDouble, cfg, ownsPack = false)
      case _ =>
        // Explicit vertex tables may contain dangling vertices, whose
        // left-join handling needs the co-partitioned path; an over-budget
        // V with a prebuilt pack lands here too (the shuffle path ignores
        // the pack).
        val verts = verticesOpt.getOrElse(GraphOps.vertices(edges)).select("id").persist()
        val v = verts.count().toDouble
        val symForDeg = GraphOps.symmetrize(edges)
        val deg =
          if (cfg.weighted)
            symForDeg.groupBy(col("src").as("id"))
              .agg(sum(col("weight").cast("double")).as("deg"))
          else
            symForDeg.groupBy(col("src").as("id"))
              .agg(count(lit(1)).cast("double").as("deg"))
        // edge-derived vertex sets have min degree 1 by construction — the
        // dangling machinery only wakes up for explicit vertex tables.
        val vdegIn = verts.join(deg, Seq("id"), "left")
          .select(col("id"), coalesce(col("deg"), lit(0.0)).as("deg"))
        val out = runShuffle(edges, cfg, vdegIn, v, mayDangle = verticesOpt.isDefined)
        verts.unpersist()
        out
    }
  }

  /** Co-partitioned shuffle loop (over-budget V or explicit vertex table).
    * `vdegIn` is the (id, deg) table — precomputed by the caller so the
    * common path shares one degree aggregate across setup consumers. */
  private def runShuffle(edges: Dataset[Edge], cfg: Config, vdegIn: DataFrame,
      v: Double, mayDangle: Boolean): (DataFrame, Seq[Long]) = {
    val iterMs = scala.collection.mutable.ArrayBuffer.empty[Long]
    // Shuffle path: cached pre-partitioned on src (the join key); only the
    // V-row rank side re-exchanges per iteration.
    val sym = GraphOps.pinnedSym(edges, "src", cfg.weighted, sorted = true)
    val vdeg = vdegIn.persist()
    vdeg.count()

    val initPin = Iterate.pinned(vdeg.select(col("id"), lit(1.0 / v).as("rank"), col("deg")))
    var ranks = initPin.df
    var prevPin: Option[Iterate.Pinned] = Some(initPin)
    var iter = 0
    var done = false
    val nIter = cfg.fixedIter.getOrElse(cfg.maxIter)
    while (!done && iter < nIter) {
      val t0 = System.nanoTime()
      val dangling =
        if (mayDangle)
          ranks.filter(col("deg") === 0.0)
            .agg(coalesce(sum("rank"), lit(0.0))).collect()(0).getDouble(0)
        else 0.0
      val plan = iterPlan(sym, ranks, vdeg, v, dangling,
        withDelta = cfg.fixedIter.isEmpty, cfg)
      if (cfg.fixedIter.isEmpty) {
        // tol mode: |delta| vs the previous ranks rides the SAME plan; the
        // pin job below both materializes and sums it (zero extra jobs).
        val pinned = Iterate.pinSums(plan, Seq("delta"))
        done = pinned.sums(0) < cfg.tol
        ranks = pinned.df.select("id", "rank", "deg")
        prevPin.foreach(_.release())
        prevPin = Some(pinned)
      } else {
        val pinned = Iterate.pinSums(plan, Seq.empty)
        ranks = pinned.df
        prevPin.foreach(_.release())
        prevPin = Some(pinned)
      }
      iterMs += (System.nanoTime() - t0) / 1000000
      iter += 1
    }
    sym.unpersist(); vdeg.unpersist()
    (ranks.select("id", "rank"), iterMs.toSeq)
  }

  /** Broadcast-strategy loop with DRIVER-RESIDENT ranks (V fits the
    * broadcast budget, hence the driver) on the Superstep engine. An
    * iteration is exactly ONE single-stage job: packed-adjacency scan,
    * per-vertex contribution kernel, V-row primitive collect; nothing is
    * pinned. Each round broadcasts ONE bare double[] — the pre-divided
    * rank/deg when unweighted (the same IEEE division the row plan does
    * per edge, with one read per edge), the rank alone when weighted
    * (strength array broadcast once) — hub packs included, whose segment
    * partials a V-row aggregate sums. The rank update stays IN-PLAN, same
    * arithmetic shape as the shuffle path's expression (rank/deg per
    * contribution row); only the tol-mode |delta| sum moves to the driver (same values,
    * different summation order — a stopping heuristic, not a result). No
    * dangling term: this path requires an edge-derived vertex set (min
    * degree 1). */
  private def runDriverState(spark: org.apache.spark.sql.SparkSession,
      packed: graft.graph.PackedAdj, ids: Array[Long], degs0: Array[Double], v: Double,
      cfg: Config, ownsPack: Boolean): (DataFrame, Seq[Long]) = {
    import graft.util.StateMap
    val iterMs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val run = new Superstep.Run(spark, ids, Some(packed), ownsPack)
    val n = run.n
    val degs = run.align(degs0)
    val qR = new StateMap.Ref[org.apache.spark.broadcast.Broadcast[Array[Double]]](null)
    val job = run.values(iterPlanPackedIdx(run.dense.get, qR,
      if (cfg.weighted) Some(run.once(degs.clone())) else None, v, cfg, emitPos = true))
    var ranks = Array.fill(n)(1.0 / v)
    val nIter = cfg.fixedIter.getOrElse(cfg.maxIter)
    var iter = 0
    var done = false
    while (!done && iter < nIter) {
      val t0 = System.nanoTime()
      if (cfg.weighted) run.publish(qR, ranks.clone())
      else {
        val q = new Array[Double](n)
        var z = 0
        while (z < n) { q(z) = ranks(z) / degs(z); z += 1 }
        run.publish(qR, q)
      }
      val parts = run.collect(job, iter)
      val next = ranks.clone() // min-degree-1: every vertex receives a row
      var delta = 0.0
      var p = 0
      while (p < parts.length) {
        val (pos, rs) = parts(p)
        var k = 0
        while (k < pos.length) {
          val at = pos(k)
          if (at >= 0) {
            delta += math.abs(rs(k) - ranks(at))
            next(at) = rs(k)
          }
          k += 1
        }
        p += 1
      }
      ranks = next
      if (cfg.fixedIter.isEmpty) done = delta < cfg.tol
      iterMs += (System.nanoTime() - t0) / 1000000
      iter += 1
    }
    run.close()
    (Superstep.frame(spark, run.ids, "rank", ranks), iterMs.toSeq)
  }

  /** One co-partitioned-shuffle iteration's (unpinned) next-state plan —
    * exposed so StrategySpec can inspect the physical shape. */
  private[graft] def iterPlan(sym: DataFrame, ranks: DataFrame, vdeg: DataFrame,
      v: Double, dangling: Double, withDelta: Boolean,
      cfg: Config): DataFrame = {
    val contribCol =
      if (cfg.weighted) col("rank") * col("weight") / col("deg")
      else col("rank") / col("deg")
    val rankSide = ranks.filter(col("deg") > 0.0)
      .select(col("id").as("src"), col("rank"), col("deg"))
    val contribs = sym
      .join(rankSide, Seq("src"))
      .select(col("dst"), contribCol.as("c"))
      .groupBy(col("dst").as("id")).agg(sum("c").as("s"))
    val newRank =
      lit((1.0 - cfg.damping) / v) +
        lit(cfg.damping) * (coalesce(col("s"), lit(0.0)) + lit(dangling / v))
    val base = vdeg.join(contribs, Seq("id"), "left")
    if (withDelta) {
      val oldSide = ranks.select(col("id"), col("rank").as("old"))
      base.join(oldSide, Seq("id"))
        .select(col("id"), newRank.as("rank"), col("deg"),
          abs(newRank - col("old")).as("delta"))
    } else base.select(col("id"), newRank.as("rank"), col("deg"))
  }

  /** The driver-state iteration's plan over broadcast rank/degree maps —
    * exposed so StrategySpec can assert it stays free of shuffle
    * exchanges. Same per-row arithmetic shape as iterPlan (rank/deg, or
    * rank*weight/deg when weighted) so results agree with the shuffle path
    * to summation order. The isNotNull filter mirrors the inner join's
    * drop of src outside the rank state (never hit for edge-derived
    * vertex sets, where deg covers every src). */
  private[graft] def iterPlanMap(sym: DataFrame,
      rankOf: graft.util.StateMap.Ref[org.apache.spark.broadcast.Broadcast[graft.util.StateMap.LongDoubleMap]],
      degOf: graft.util.StateMap.Ref[org.apache.spark.broadcast.Broadcast[graft.util.StateMap.LongDoubleMap]],
      v: Double, cfg: Config): DataFrame = {
    import graft.util.StateMap
    val rank = StateMap.lookup(rankOf, col("src"))
    val dg = StateMap.lookup(degOf, col("src"))
    val contribCol =
      if (cfg.weighted) rank * col("weight") / dg
      else rank / dg
    val newRank =
      lit((1.0 - cfg.damping) / v) +
        lit(cfg.damping) * (coalesce(col("s"), lit(0.0)) + lit(0.0))
    sym
      .select(col("dst"), contribCol.as("c"))
      .filter(col("c").isNotNull)
      .groupBy(col("dst").as("id")).agg(sum("c").as("s"))
      .select(col("id"), newRank.as("rank"))
  }

  /** The driver-state iteration plan over a pack (the production
    * broadcast-state path): a V-row scan of the packed in-neighbor lists
    * where a codegen'd kernel (PackedKernels.kContribIdx) sums
    * rank(u)/deg(u) over each vertex's in-neighbors in one pass — no
    * aggregate operator at all unless the pack has hub vertices
    * (maxSegs > 1), whose per-segment partial sums a (myIdx, id) sum
    * combines. Same per-contribution arithmetic as iterPlan/iterPlanMap;
    * per-vertex accumulation order is the sorted neighbor array
    * (deterministic across runs). */
  private[graft] def iterPlanPackedIdx(pidx: graft.graph.PackedAdj,
      qR: graft.util.StateMap.Ref[org.apache.spark.broadcast.Broadcast[Array[Double]]],
      degArrR: Option[graft.util.StateMap.Ref[org.apache.spark.broadcast.Broadcast[Array[Double]]]],
      v: Double, cfg: Config, emitPos: Boolean = false): DataFrame = {
    val newRank =
      lit((1.0 - cfg.damping) / v) +
        lit(cfg.damping) * (coalesce(col("s"), lit(0.0)) + lit(0.0))
    val wcol = if (pidx.weighted) Some(col("wts")) else None
    // emitPos: the driver-state loop keys its merge on the dense state
    // POSITION (myIdx) — no id->index probe, primitive-array collect.
    val contrib = pidx.df
      .select(col("id"), col("myIdx"),
        PackedKernels.prContribIdx(col("nbrs"), wcol, qR, degArrR).as("s"))
      .filter(col("s").isNotNull)
    val s = if (pidx.maxSegs > 1) contrib.groupBy("myIdx", "id").agg(sum("s").as("s")) else contrib
    s.select(if (emitPos) col("myIdx") else col("id"), newRank.as("rank"))
  }

  /** Top-k vertices by rank (SURVEY.md §2.6 addition). */
  def topK(ranks: DataFrame, k: Int): DataFrame =
    ranks.orderBy(desc("rank"), asc("id")).limit(k)
}
