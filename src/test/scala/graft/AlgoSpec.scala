package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.algo.{ConnectedComponents, Hedonic, LabelPropagation, PageRank}
import graft.graph.GraphOps

/** Driver-side serial re-implementations used as schedule-independent
  * oracles (SURVEY.md §5, §7.4.1): tiny graphs only, collected to the
  * driver. These re-derive the *math*, not the engine's dataflow.
  */
object SerialOracle {

  /** Serial asynchronous hedonic sweep — the reference's
    * community_hedonic_traversal semantics (hedonic/__init__.py:214-228):
    * index-order sweep, immediate moves, strict improvement, candidates =
    * {current} ∪ neighbor communities, strangers exclude self. */
  def hedonicSweep(edges: Seq[(Long, Long)], init: Map[Long, Long],
                   alpha: Double, maxSweeps: Int = 100): Map[Long, Long] = {
    val nbrs = edges.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val ids = nbrs.keys.toSeq.sorted
    val m = scala.collection.mutable.Map(init.toSeq: _*)
    def size(c: Long) = m.values.count(_ == c)
    def payoff(id: Long, c: Long): Double = {
      val friends = nbrs(id).count(m(_) == c)
      val own = if (m(id) == c) 1 else 0
      val strangers = size(c) - friends - own
      friends * (1 - alpha) - strangers * alpha
    }
    var sweeps = 0
    var movedAny = true
    while (movedAny && sweeps < maxSweeps) {
      movedAny = false
      ids.foreach { id =>
        val cur = m(id)
        val cands = nbrs(id).map(m(_)) + cur
        // strict improvement; tie-break current-then-smallest (engine rule)
        val best = cands.toSeq.sortBy(c => (-payoff(id, c), if (c == cur) 0 else 1, c)).head
        if (payoff(id, best) > payoff(id, cur)) { m(id) = best; movedAny = true }
      }
      sweeps += 1
    }
    m.toMap
  }

  /** Power-iteration PageRank on the symmetrized graph, same semantics as
    * the engine (damping, dangling redistribution, fixed iterations). */
  def pageRank(edges: Seq[(Long, Long)], damping: Double, iters: Int): Map[Long, Double] = {
    val sym = edges.flatMap { case (u, v) => Seq(u -> v, v -> u) }
    val ids = sym.flatMap { case (u, v) => Seq(u, v) }.distinct.sorted
    val out = sym.groupBy(_._1).map { case (k, vs) => k -> vs.size }
    val in = sym.groupBy(_._2).map { case (k, vs) => k -> vs.map(_._1) }
    val n = ids.size.toDouble
    var r = ids.map(_ -> 1.0 / n).toMap
    (1 to iters).foreach { _ =>
      val dangling = ids.filter(out.getOrElse(_, 0) == 0).map(r).sum
      r = ids.map { v =>
        val s = in.getOrElse(v, Nil).map(u => r(u) / out(u)).sum
        v -> ((1 - damping) / n + damping * (s + dangling / n))
      }.toMap
    }
    r
  }

  /** Serial triangle count (set intersection over canonical edges). */
  def triangles(edges: Seq[(Long, Long)]): Long = {
    val canon = edges.map { case (u, v) => (math.min(u, v), math.max(u, v)) }.distinct
    val eset = canon.toSet
    val verts = canon.flatMap { case (u, v) => Seq(u, v) }.distinct.sorted
    verts.combinations(3).count { case Seq(a, b, c) =>
      eset((a, b)) && eset((a, c)) && eset((b, c))
    }
  }

  /** Serial connected components: label = min id in component. */
  def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val nbrs = edges.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    val verts = nbrs.keys.toSeq
    val seen = scala.collection.mutable.Map.empty[Long, Long]
    verts.sorted.foreach { v0 =>
      if (!seen.contains(v0)) {
        var frontier = Set(v0)
        val comp = scala.collection.mutable.Set(v0)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(nbrs(_)).filterNot(comp)
          comp ++= frontier
        }
        val label = comp.min
        comp.foreach(seen(_) = label)
      }
    }
    seen.toMap
  }
}

class HedonicSpec extends SparkSpec {

  test("payoff formula matches hand computation (strangers exclude self)") {
    // Triangle 0-1-2 plus pendant 3 on 2; members: {0,1}->A(0), {2,3}->B(1)
    val e = edgesOf(Seq((0, 1), (1, 2), (0, 2), (2, 3)))
    val m = membersOf(Seq((0L, 0L), (1L, 0L), (2L, 1L), (3L, 1L)))
    val alpha = 0.25
    val p = Hedonic.payoffs(GraphOps.symmetrize(e).select("src", "dst"), m, alpha)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("community")) ->
        (r.getAs[Long]("friends"), r.getAs[Long]("strangers"), r.getAs[Double]("payoff"))).toMap
    // node 2 in own community B: friends = {3} = 1, strangers = 2-1-1 = 0
    assert(p((2L, 1L)) == ((1L, 0L, 1 * 0.75 - 0 * 0.25)))
    // node 2 toward community A: friends = {0,1} = 2, strangers = 2-2 = 0
    assert(p((2L, 0L)) == ((2L, 0L, 2 * 0.75)))
    // node 3 in own community B: friends = {2} = 1, strangers = 0
    assert(p((3L, 1L)) == ((1L, 0L, 0.75)))
    // node 0 in own community A: friends = {1}, strangers = 0
    assert(p((0L, 0L)) == ((1L, 0L, 0.75)))
    // node 0 toward B: friends = {2}, strangers = |B|-1 = 1
    assert(p((0L, 1L)) == ((1L, 1L, 0.75 - 0.25)))
  }

  test("converges to an equilibrium on Zachary from singletons (post-condition)") {
    val e = edgesOf(Fixtures.zachary)
    val init = GraphOps.vertices(e).select(col("id"), col("id").as("community"))
    val (members, metrics) = Hedonic.run(e, init, Hedonic.Config(maxSupersteps = 80))
    assert(metrics.last.moved == 0)
    val alpha = GraphOps.density(e)
    assert(Hedonic.equilibriumFraction(e, members, alpha) == 1.0)
    val k = members.select("community").distinct().count()
    assert(k > 1 && k < 34) // nontrivial communities
  }

  test("deterministic: identical result on rerun, and converges from a multi-label init") {
    val e = edgesOf(Fixtures.kite)
    val init = GraphOps.vertices(e).select(col("id"), (col("id") % 5).as("community"))
    val (m1, met1) = Hedonic.run(e, init, Hedonic.Config(maxSupersteps = 40))
    val (m2, _) = Hedonic.run(e, init, Hedonic.Config(maxSupersteps = 40))
    assert(met1.last.frontier == 0, s"did not converge in ${met1.size} supersteps")
    assert(toMap(m1) == toMap(m2))
  }

  test("serial sweep oracle also lands in an engine-validated equilibrium; potentials agree") {
    val e = edgesOf(Fixtures.kite)
    val alpha = GraphOps.density(e)
    val serial = SerialOracle.hedonicSweep(
      Fixtures.kite, Fixtures.kite.flatMap(p => Seq(p._1, p._2)).distinct
        .map(id => id -> id).toMap, alpha)
    val serialDf = membersOf(serial.toSeq)
    // The serial fixpoint must satisfy the engine's equilibrium check —
    // cross-validates the payoff formula between both implementations.
    assert(Hedonic.equilibriumFraction(e, serialDf, alpha) == 1.0)
    // And the engine's potential of the serial partition must match a hand
    // computation path: potential is schedule-independent given (graph, m).
    val pot = Hedonic.potential(e, serialDf, alpha)
    assert(!pot.isNaN)
  }

  test("resumes from checkpoint to the identical final state") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val e = edgesOf(Fixtures.kite)
    val init = GraphOps.vertices(e).select(col("id"), col("id").as("community"))
    // Full run, checkpointing every 2 supersteps.
    val (full, _) = Hedonic.run(e, init,
      Hedonic.Config(maxSupersteps = 40, checkpointEvery = 2, checkpointDir = Some(dir + "/a")))
    // Interrupted run: stop after 3 supersteps, then resume from disk.
    val (_, _) = Hedonic.run(e, init,
      Hedonic.Config(maxSupersteps = 3, checkpointEvery = 2, checkpointDir = Some(dir + "/b")))
    val (resumed, _) = Hedonic.run(e, init,
      Hedonic.Config(maxSupersteps = 40, checkpointEvery = 2, checkpointDir = Some(dir + "/b")))
    assert(toMap(full) == toMap(resumed))
  }

  /** Interrupts a Zachary run after 3 supersteps (snapshots at 0 and 2) on
    * the `interrupted` state budget, resumes it to convergence on the
    * `resumed` budget; returns the superstep=2 file names and the resumed
    * membership next to an uninterrupted run's. */
  private def resumeAcross(interrupted: Long, resumed: Long)
      : (Set[String], Map[Long, Long], Map[Long, Long]) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-x")
    val e = edgesOf(Fixtures.zachary)
    val init = GraphOps.vertices(e).select(col("id"), col("id").as("community"))
    def cfg(steps: Int, budget: Long) = Hedonic.Config(maxSupersteps = steps,
      checkpointEvery = 2, checkpointDir = Some(dir.toString), broadcastStateMaxRows = budget)
    val (full, _) = Hedonic.run(e, init, Hedonic.Config(maxSupersteps = 80))
    val (_, cut) = Hedonic.run(e, init, cfg(3, interrupted))
    assert(cut.size == 3 && cut.last.frontier > 0, "converged before the interruption")
    val files = java.nio.file.Files.list(dir.resolve("superstep=2")).iterator().asScala
      .map(_.getFileName.toString).toSet
    val (out, _) = Hedonic.run(e, init, cfg(80, resumed))
    (files, toMap(full), toMap(out))
  }

  test("interrupted on the driver-state path (state.bin), resumed on the shuffle path") {
    val (files, full, resumed) = resumeAcross(4000000L, 0L)
    assert(files == Set("state.bin"))
    assert(resumed == full)
  }

  test("interrupted on the shuffle path (parquet), resumed on the driver-state path") {
    val (files, full, resumed) = resumeAcross(0L, 4000000L)
    assert(files.exists(_.endsWith(".parquet")) && !files.contains("state.bin"))
    assert(resumed == full)
  }

  test("a truncated state.bin fails the resume loudly, naming the file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-t")
    val e = edgesOf(Fixtures.zachary)
    val init = GraphOps.vertices(e).select(col("id"), col("id").as("community"))
    def cfg(steps: Int) =
      Hedonic.Config(maxSupersteps = steps, checkpointEvery = 2, checkpointDir = Some(dir.toString))
    Hedonic.run(e, init, cfg(3))
    val state = dir.resolve("superstep=2").resolve("state.bin")
    val ch = java.nio.channels.FileChannel.open(state, java.nio.file.StandardOpenOption.WRITE)
    try ch.truncate(ch.size() / 2) finally ch.close()
    // the manifest still names superstep 2: no silent restart from init,
    // no resume from the partial arrays
    val err = intercept[IllegalStateException](Hedonic.run(e, init, cfg(80)))
    assert(err.getMessage.contains(state.toString))
  }
}

class PageRankSpec extends SparkSpec {

  test("ranks sum to 1 and match serial power iteration at 1e-6 (Zachary, 20 iters)") {
    val e = edgesOf(Fixtures.zachary)
    val got = PageRank.run(e, PageRank.Config(fixedIter = Some(20)))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    val want = SerialOracle.pageRank(Fixtures.zachary, 0.85, 20)
    assert(got.keySet == want.keySet)
    got.foreach { case (id, r) =>
      assert(math.abs(r - want(id)) <= 1e-8 + 1e-6 * math.abs(want(id)),
        s"rank mismatch at $id: $r vs ${want(id)}")
    }
  }

  test("closed form on a star graph K1,4") {
    // Symmetrized star: center 0, leaves 1..4.
    val e = edgesOf(Seq((0, 1), (0, 2), (0, 3), (0, 4)))
    val got = PageRank.run(e, PageRank.Config(tol = 1e-12, maxIter = 200))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // Fixpoint of rl = (1-d)/5 + d*rc/4 and rc = (1-d)/5 + 4d*rl:
    // rc = (1+4d)/(5(1+d)), then rl from the first equation.
    val d = 0.85
    val rc = (1 + 4 * d) / (5 * (1 + d))
    val rl = (1 - d) / 5.0 + d * rc / 4
    assert(math.abs(got(0L) - rc) < 1e-9)
    (1L to 4L).foreach(l => assert(math.abs(got(l) - rl) < 1e-9))
  }

  test("topK is deterministic and ordered") {
    val e = edgesOf(Fixtures.zachary)
    val ranks = PageRank.run(e, PageRank.Config(fixedIter = Some(10)))
    val top = PageRank.topK(ranks, 3).collect().map(_.getLong(0)).toSeq
    // 33 and 0 are the two hubs of the karate club.
    assert(top.take(2).toSet == Set(33L, 0L))
  }

  test("topK plans a bounded top-k, not a global sort") {
    import org.apache.spark.sql.execution.{SortExec, TakeOrderedAndProjectExec}
    val e = edgesOf(Fixtures.zachary)
    val ranks = PageRank.run(e, PageRank.Config(fixedIter = Some(10)))
    val top = PageRank.topK(ranks, 5)
    // the physical plan before adaptive execution wraps it
    val plan = top.queryExecution.sparkPlan
    assert(plan.collect { case t: TakeOrderedAndProjectExec => t }.size == 1, plan.toString)
    assert(plan.collect { case s: SortExec if s.global => s }.isEmpty, plan.toString)
    val sorted = ranks.collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, r) => (-r, id) }.take(5).map(_._1).toSeq
    assert(top.collect().map(_.getLong(0)).toSeq == sorted)
  }
}

class ConnectedComponentsSpec extends SparkSpec {

  test("three components, labels = min id (exact)") {
    val e = edgesOf(Fixtures.threeComponents)
    val got = toMap(ConnectedComponents.run(e))
    assert(got == SerialOracle.components(Fixtures.threeComponents))
  }

  test("both strategies agree with naive propagation on a long chain and Zachary") {
    val chain = (0L until 40L).map(i => (i, i + 1))
    for (g <- Seq(chain, Fixtures.zachary)) {
      val e = edgesOf(g)
      val naive = toMap(ConnectedComponents.runNaive(e))
      // default budget -> driver union-find; budget 0 (no gate job) and a
      // budget below the edge count (a gate that ships no rows) ->
      // large/small-star
      assert(toMap(ConnectedComponents.run(e)) == naive)
      assert(toMap(ConnectedComponents.run(e, maxDriverEdges = 0L)) == naive)
      assert(toMap(ConnectedComponents.run(e, maxDriverEdges = 3L)) == naive)
    }
  }

  test("random graphs: both strategies == serial BFS (seeded)") {
    val rnd = new scala.util.Random(1234)
    (1 to 3).foreach { _ =>
      val n = 30
      val pairs = (0 until 45).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter(p => p._1 != p._2)
      val e = edgesOf(pairs)
      val expect = SerialOracle.components(pairs)
      assert(toMap(ConnectedComponents.run(e)) == expect)
      assert(toMap(ConnectedComponents.run(e, maxDriverEdges = 0L)) == expect)
    }
  }
}

class LabelPropagationSpec extends SparkSpec {

  test("two cliques with a bridge converge; each clique uniform") {
    val cliqueA = for (i <- 0L until 5L; j <- (i + 1) until 5L) yield (i, j)
    val cliqueB = for (i <- 10L until 15L; j <- (i + 1) until 15L) yield (i, j)
    val e = edgesOf(cliqueA ++ cliqueB :+ ((4L, 10L)))
    val labels = toMap(LabelPropagation.run(e))
    assert(labels.filterKeys(_ < 5).values.toSet.size == 1)
    assert(labels.filterKeys(_ >= 10).values.toSet.size == 1)
  }

  test("single step adopts majority neighbor label with smallest-label tie-break") {
    // path 0-1-2; labels 0,1,2: node 1 sees {0,2} tie -> smallest (0).
    val e = edgesOf(Seq((0, 1), (1, 2)))
    val init = membersOf(Seq((0L, 0L), (1L, 1L), (2L, 2L)))
      .select(col("id"), col("community").as("label"))
    val stepped = LabelPropagation.step(GraphOps.symmetrize(e).select("src", "dst"), init)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("bestLabel")).toMap
    assert(stepped(1L) == 0L)
    assert(stepped(0L) == 1L && stepped(2L) == 1L)
  }

  test("deterministic across reruns") {
    val e = edgesOf(Fixtures.zachary)
    assert(toMap(LabelPropagation.run(e)) == toMap(LabelPropagation.run(e)))
  }
}
