package graft.algo

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.Edge
import graft.graph.GraphOps
import graft.io.Iterate
import graft.util.Portable

/** M9 — spectral community detection in the spirit of the reference's
  * Spectral baseline (igraph `community_leading_eigenvector`; selected in
  * `scripts/config.py:34-41`, invoked with `clusters = number_of_communities`
  * in `scripts/exp.py:71-72`): Newman's leading-eigenvector method —
  * recursively bipartition communities by the sign pattern of the leading
  * eigenvector of the (generalized) modularity matrix, accepting a split
  * only when it increases modularity.
  *
  * Spark-first re-expression (NOT an ARPACK port): the leading eigenvector
  * is obtained by SHIFTED POWER ITERATION, and every current community is
  * iterated SIMULTANEOUSLY in one DataFrame — each power step is exactly
  * one E-row gather join + one V-row map, the same physical shape as a
  * PageRank iteration, so the operator scales like the rest of the engine
  * (cached pre-partitioned adjacency; only the V-row state moves per step).
  *
  * Math. For the first split the matrix is the modularity matrix
  *   B_ij = A_ij − d_i d_j / 2m;
  * for subdividing an existing community g it is Newman's generalized
  *   B(g)_ij = B_ij − δ_ij Σ_{k∈g} B_ik   (restricted to i,j ∈ g),
  * whose matvec is, with kin_i = within-g degree, D_g = Σ_{j∈g} d_j,
  * diag_i = kin_i − d_i D_g / 2m, s1 = Σ_{j∈g} d_j x_j:
  *   (B(g) x)_i = Σ_{j∈g,(i,j)∈E} x_j − (d_i/2m)·s1 − x_i·diag_i.
  * Power iteration runs on M = B(g) + σI with σ = 3·d_max + 1, which
  * dominates the Gershgorin bound |λ_min(B(g))| ≤ 3·d_max (λ_min(A) ≥
  * −d_max; the rank-1 term subtracts ≤ Σd²/2m ≤ d_max; the diagonal
  * another ≤ d_max), so the dominant eigenvalue of M is the algebraically
  * largest of B(g). The iterate is normalized by the PREVIOUS step's norm
  * folded into the same linear form (power iteration is linear in x), so
  * each step stays one gather + one map with no second pass.
  *
  * A community splits by sign(x) only if the modularity gain
  *   ΔQ = s·B(g)s / 4m  (s = sign vector)
  * is positive (reference semantics: leading_eigenvector stops on
  * non-positive splits) and the community budget `clusters` allows it;
  * candidate splits are ranked by ΔQ. Unlike igraph's one-community-at-a-
  * time work queue, phases here split all accepted communities at once
  * (deterministic; documented divergence — both are valid schedules of the
  * same heuristic). New labels are min(id) per group: label-permutation
  * canonical and stable across parallelism levels.
  *
  * Determinism/oracle: the start vector derives from md5
  * (Portable.uniformSym of key "sp:<id>"), so a fixed-iteration whole-graph
  * run is replayable in DuckDB level by level (q_spectral1).
  */
object Spectral {

  final case class Config(
      clusters: Int = 2,     // target community count (reference: number_of_communities)
      powerIters: Int = 80,  // power steps per split phase
      maxPhases: Int = 12,
      tol: Double = 1e-9)    // ΔQ acceptance threshold

  /** Per-vertex static table for one phase: (id, community, deg, diag). */
  private def phaseStat(sym: DataFrame, members: DataFrame, deg: DataFrame,
                        m2: Double): DataFrame = {
    // within-community degree kin_i: neighbor-community counts, keep own.
    val nbrC = sym
      .join(members.select(col("id").as("dst"), col("community").as("nc")), Seq("dst"))
      .groupBy(col("src").as("id"), col("nc"))
      .agg(count(lit(1)).cast("double").as("cnt"))
    val dg = members.join(deg, Seq("id"))
      .groupBy("community").agg(sum("deg").as("dg"))
    members.join(deg, Seq("id"))
      .join(nbrC, members("id") === nbrC("id") && col("community") === col("nc"), "left")
      .join(broadcast(dg), Seq("community"))
      .select(members("id"), col("community"), col("deg"),
        (coalesce(col("cnt"), lit(0.0)) - col("deg") * col("dg") / m2).as("diag"))
  }

  /** `iters` power steps of B(g)+σI on every community at once.
    * state-in/out: (id, community, deg, diag, x).
    *
    * Physical shape per step: one E-row gather join + one V-row map, pinned
    * in ONE job. The two per-community scalars (s1 = Σ d·x and ‖x‖²) are
    * obtained differently depending on community count:
    *   - `global = true` (single community — the first split and the oracle
    *     path): they are GLOBAL sums, so they ride the previous pin's
    *     accumulators (Iterate.pinSums) at zero extra jobs, exactly like
    *     PageRank's fused convergence counter.
    *   - general case: a per-community aggregate broadcast back (the
    *     community-count table is tiny by construction). Costs a broadcast
    *     exchange per step; a window over `community` would avoid it but
    *     single-partitions the largest community — the broadcast agg is the
    *     scale-safe form.
    * Both paths evaluate the IDENTICAL arithmetic expression, so the DuckDB
    * oracle (Oracles.spectral1) mirrors either. */
  private def leadingVectors(sym: DataFrame, state0: DataFrame, m2: Double,
                             sigma: Double, iters: Int, global: Boolean): Iterate.Pinned = {
    require(iters >= 1, "leadingVectors needs at least one power step")
    def withSums(df: DataFrame): DataFrame = df
      .withColumn("dx", col("deg") * col("x"))
      .withColumn("xx", col("x") * col("x"))
    // M·(x/||x||): the previous norm divides the whole linear form — power
    // iteration is linear in x, so this normalizes without a second pass.
    def mx(s1: Column, nrm: Column): Column =
      ((coalesce(col("y"), lit(0.0)) - col("deg") / m2 * s1
        - col("x") * col("diag")) + lit(sigma) * col("x")) / nrm

    if (global) {
      var pinned = Iterate.pinSums(withSums(state0), Seq("dx", "xx"))
      for (_ <- 1 to iters) {
        val s1 = pinned.sums(0)
        val n0 = math.sqrt(pinned.sums(1))
        val nrm = if (n0 > 0.0) n0 else 1.0
        val st = pinned.df
        val nb = sym.join(st.select(col("id").as("dst"), col("x").as("xn")), Seq("dst"))
          .groupBy(col("src").as("nid")).agg(sum("xn").as("y"))
        val next = st.join(nb, st("id") === col("nid"), "left")
          .select(st("id"), col("community"), col("deg"), col("diag"),
            mx(lit(s1), lit(nrm)).as("x"))
        val p2 = Iterate.pinSums(withSums(next), Seq("dx", "xx"))
        pinned.release()
        pinned = p2
      }
      pinned
    } else {
      var st = state0
      var prev: Option[Iterate.Pinned] = None
      for (_ <- 1 to iters) {
        val scal = st.groupBy("community").agg(
          sum(col("deg") * col("x")).as("s1"),
          sqrt(sum(col("x") * col("x"))).as("nrm"))
        val nb = sym
          .join(st.select(col("id").as("dst"), col("community").as("nc"), col("x").as("xn")),
            Seq("dst"))
          .groupBy(col("src").as("nid"), col("nc"))
          .agg(sum("xn").as("y"))
        val next = st
          .join(nb, st("id") === col("nid") && col("community") === col("nc"), "left")
          .join(broadcast(scal), Seq("community"))
          .select(st("id"), col("community"), col("deg"), col("diag"),
            mx(col("s1"), when(col("nrm") > 0.0, col("nrm")).otherwise(lit(1.0))).as("x"))
        val pinned = Iterate.pinSums(next, Seq.empty)
        st = pinned.df
        prev.foreach(_.release())
        prev = Some(pinned)
      }
      prev.get
    }
  }

  /** Fixed-iteration whole-graph leading-eigenvector iterate (the oracled
    * q_spectral1 surface): one community, so diag_i = kin_i − d_i·2m/2m = 0
    * and the matvec is the plain modularity form. Returns (id, x).
    *
    * Broadcast-state strategy (round 6): V within the broadcast budget and
    * hub-free — each power step is ONE single-stage job over the
    * dense-index packed adjacency (neighbor-sum kernel); the per-vertex
    * update arithmetic runs on the driver with the IDENTICAL expression
    * order as the DataFrame form ((y − (deg/m2)·s1 − x·diag) + σ·x)/nrm
    * with diag = 0, which at single-community whole-graph scope is exact:
    * kin = deg and (deg·m2)/m2 divides back exactly while deg·m2 stays
    * within 2^53. The x0 seed column is evaluated in-plan (same
    * Portable.uniformSym expression), never re-implemented driver-side.
    * s1/‖x‖ were previously accumulator sums (non-deterministic merge
    * order); they are now sequential index-order sums — both are valid
    * orderings of the same addends, and q_spectral1 rounds to 5 dp.
    * Falls back to the pinned-DataFrame loop over budget / on hubs. */
  def wholeGraphVector(edges: Dataset[Edge], iters: Int,
                       broadcastStateMaxRows: Long = 4000000L): DataFrame = {
    val spark = edges.sparkSession
    val symDf = GraphOps.symmetrize(edges).select("src", "dst")
    val degAgg = symDf.groupBy(col("src").as("id")).agg(count(lit(1)).as("d")).persist()
    val nL = degAgg.count()
    // ids/degrees/x0 in one collect (x0 evaluated by the SAME column
    // expression the DataFrame path uses); they are also the pack's
    // numbering and degree summary, so its build runs no stats job.
    Superstep.stateGate(degAgg.select(col("id"), col("d"),
        Portable.uniformSym(Portable.key(lit("sp"), col("id"))).as("x")),
        broadcastStateMaxRows, Some(nL)) match {
      case Some(cols) =>
        val d = cols.longs(1)
        val packed = graft.graph.PackedAdjacency.build(symDf, "dst",
          degOpt = Some(degAgg.select(col("id").as("dst"), col("d"))),
          degrees = Some(graft.graph.DegreeSummary.of(d)),
          numbering = Some(cols.longs(0)))
        if (packed.maxSegs == 1) {
          val run = new Superstep.Run(spark, packed.ids, Some(packed), ownsPack = true)
          val n = run.n
          val degs = d.map(_.toDouble)
          var x = cols.doubles(2)
          var m2 = 0.0
          var dmax = 0.0
          var i = 0
          while (i < n) { m2 += degs(i); if (degs(i) > dmax) dmax = degs(i); i += 1 }
          val sigma = 3.0 * dmax + 1.0
          val xR = new graft.util.StateMap.Ref[
            org.apache.spark.broadcast.Broadcast[Array[Double]]](null)
          val job = run.values(packed.df.select(col("myIdx"),
            GraphKernels.nbrSumIdx(col("nbrs"), xR).as("y")))
          var it2 = 0
          while (it2 < iters) {
            var s1 = 0.0
            var xx = 0.0
            var j = 0
            while (j < n) { s1 += degs(j) * x(j); xx += x(j) * x(j); j += 1 }
            val n0 = math.sqrt(xx)
            val nrm = if (n0 > 0.0) n0 else 1.0
            run.publish(xR, x)
            val parts = run.collect(job, it2)
            val next = new Array[Double](n)
            var p = 0
            while (p < parts.length) {
              val (pos, ys) = parts(p)
              var k = 0
              while (k < pos.length) {
                val at = pos(k)
                // identical association order to the DataFrame mx() column
                next(at) = ((ys(k) - degs(at) / m2 * s1 - x(at) * 0.0) +
                  sigma * x(at)) / nrm
                k += 1
              }
              p += 1
            }
            x = next
            it2 += 1
          }
          run.close()
          degAgg.unpersist()
          return Superstep.frame(spark, run.ids, "x", x)
        }
        packed.unpersist()
      case None =>
    }
    degAgg.unpersist()
    val sym = GraphOps.pinnedSym(edges, "dst")
    val deg = sym.groupBy(col("src").as("id"))
      .agg(count(lit(1)).cast("double").as("deg")).persist()
    val row = deg.agg(sum("deg"), max("deg"), min("id")).collect()(0)
    val (m2, dmax, minId) = (row.getDouble(0), row.getDouble(1), row.getLong(2))
    val sigma = 3.0 * dmax + 1.0
    val state0 = Iterate.pinSums(
      phaseStat(sym, deg.select(col("id"), lit(minId).as("community")), deg, m2)
        .withColumn("x", Portable.uniformSym(Portable.key(lit("sp"), col("id")))),
      Seq.empty)
    val vecPin = leadingVectors(sym, state0.df, m2, sigma, iters, global = true)
    val pinned = Iterate.pin(vecPin.df.select("id", "x"))
    vecPin.release(); state0.release()
    sym.unpersist(); deg.unpersist()
    pinned
  }

  /** Full recursive subdivision → (id, community). */
  def run(edges: Dataset[Edge], cfg: Config = Config()): DataFrame = {
    val sym = GraphOps.pinnedSym(edges, "dst")
    val deg = sym.groupBy(col("src").as("id"))
      .agg(count(lit(1)).cast("double").as("deg")).persist()
    val row = deg.agg(sum("deg"), max("deg"), min("id")).collect()(0)
    val (m2, dmax, minId) = (row.getDouble(0), row.getDouble(1), row.getLong(2))
    val sigma = 3.0 * dmax + 1.0

    // Pin lifetimes (ADVICE r2): every phase's state0 pin, power-iterate
    // result pin, and the superseded members pin are released as soon as
    // the NEXT members frame is materialized — a grid of Experiment points
    // otherwise accumulates one cached V-row copy per phase per point.
    var membersPin = Iterate.pinSums(
      deg.select(col("id"), lit(minId).as("community")), Seq.empty)
    var members = membersPin.df
    var nComm = 1L
    var phase = 0
    var progressed = true
    while (progressed && phase < cfg.maxPhases && nComm < cfg.clusters) {
      val state0 = Iterate.pinSums(
        phaseStat(sym, members, deg, m2)
          .withColumn("x", Portable.uniformSym(Portable.key(lit("sp"), col("id")))),
        Seq.empty)
      val stPin = leadingVectors(sym, state0.df, m2, sigma, cfg.powerIters,
        global = nComm == 1L)
      val st = stPin.df
        .withColumn("s", when(col("x") >= 0.0, 1.0).otherwise(-1.0))

      // Split verdict per community: ΔQ = s·B(g)s / 4m via one more
      // gather pass carrying the sign vector.
      val scal = st.groupBy("community").agg(sum(col("deg") * col("s")).as("s1s"))
      val nb = sym
        .join(st.select(col("id").as("dst"), col("community").as("nc"), col("s").as("sn")),
          Seq("dst"))
        .groupBy(col("src").as("nid"), col("nc"))
        .agg(sum("sn").as("ys"))
      val bs = (coalesce(col("ys"), lit(0.0)) - col("deg") / m2 * col("s1s")
        - col("s") * col("diag"))
      val verdict = st
        .join(nb, st("id") === col("nid") && col("community") === col("nc"), "left")
        .join(broadcast(scal), Seq("community"))
        .groupBy("community").agg(
          (sum(col("s") * bs) / (2.0 * m2)).as("dq"),
          sum(when(col("s") > 0.0, 1L).otherwise(0L)).as("npos"),
          sum(when(col("s") < 0.0, 1L).otherwise(0L)).as("nneg"))
      // Rank candidate splits by gain; honor the community budget.
      // orderBy+limit plans as TakeOrderedAndProject — a distributed
      // per-partition top-k merged on the driver, so even this per-community
      // table never funnels through a single-partition WindowExec. The
      // (dq desc, community asc) order is total, so the selected set is
      // identical to the old row_number() <= budget ranking.
      val budget = (cfg.clusters - nComm).toInt
      val accepted = verdict
        .filter(col("dq") > cfg.tol && col("npos") > 0 && col("nneg") > 0)
        .orderBy(desc("dq"), asc("community"))
        .limit(budget)
        .select(col("community"), lit(true).as("doSplit"))
      // Canonical relabel = min id per (community, sign-group). Round 3 did
      // this with min().over(Window.partitionBy(community, grp)) — a window
      // that buffers EACH COMMUNITY in one task (phase 1: the whole graph in
      // two tasks). Aggregate-and-broadcast-join instead: the group-min
      // table has ≤ 2 rows per community (tiny — bounded by cfg.clusters
      // after the budget filter), the V-row side never re-sorts.
      val grouped = st
        .join(broadcast(accepted), Seq("community"), "left")
        .withColumn("grp", when(col("doSplit"), col("s")).otherwise(lit(0.0)))
      val grpMin = grouped.groupBy("community", "grp").agg(min("id").as("newc"))
      val relabeled = grouped
        .join(broadcast(grpMin), Seq("community", "grp"))
        .select(col("id"), col("newc").as("community"))
      val pinned = Iterate.pinSums(relabeled, Seq.empty)
      stPin.release(); state0.release(); membersPin.release()
      membersPin = pinned
      members = pinned.df
      val n2 = members.select("community").distinct().count()
      progressed = n2 > nComm
      nComm = n2
      phase += 1
    }
    sym.unpersist(); deg.unpersist()
    members
  }
}
