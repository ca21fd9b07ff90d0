package graft

import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._
import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, Superstep}

/** The StateGate budget decision shared by every driver-state strategy
  * (Superstep.stateGate): exact at the boundary, job-free at budget 0,
  * and never fooled by a truncated collect. */
class StateGateSpec extends SparkSpec {

  // 8 vertices, 9 edges
  private val pairs = Seq[(Long, Long)](
    (0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3), (5, 6), (6, 7))

  test("budget V takes the driver path, V-1 the shuffle path, same output") {
    val e = edgesOf(pairs)
    val labels = graft.graph.GraphOps.vertices(e).select(col("id"), col("id").as("label"))
    assert(Superstep.stateGate(labels, 8L).map(_.length).contains(8))
    assert(Superstep.stateGate(labels, 7L).isEmpty)
    assert(toMap(LabelPropagation.run(e, broadcastStateMaxRows = 8L)) ==
      toMap(LabelPropagation.run(e, broadcastStateMaxRows = 7L)))
    // CC's gate counts edge rows: the driver union-find frame carries no
    // aggregate, the star loop's labels do.
    val driver = ConnectedComponents.run(e, maxDriverEdges = 9L)
    val star = ConnectedComponents.run(e, maxDriverEdges = 8L)
    def aggregates(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collectFirst { case a: Aggregate => a }.isDefined
    assert(!aggregates(driver))
    assert(aggregates(star))
    assert(toMap(driver) == toMap(star))
  }

  test("budget 0 decides over-budget without submitting a gate job") {
    val state = spark.range(8).select(col("id"), col("id").as("community"))
    val (zero, zeroJobs) = jobsOf("gate-zero")(Superstep.stateGate(state, 0L))
    assert(zero.isEmpty)
    assert(zeroJobs == 0, "budget 0 submitted a job")
    // control: a positive budget's gate job does reach the listener
    val (v, vJobs) = jobsOf("gate-v")(Superstep.stateGate(state, 8L))
    assert(v.isDefined)
    assert(vJobs > 0, "listener never saw the control job")
  }

  test("a count in hand: over budget submits no job, within budget collects all rows") {
    val state = spark.range(8).select(col("id"), col("id").as("label"))
    // budget V-1 with the count V in hand: decided without a job
    val (over, overJobs) = jobsOf("known-over")(Superstep.stateGate(state, 7L, Some(8L)))
    assert(over.isEmpty)
    assert(overJobs == 0, "an over-budget count in hand submitted a job")
    // budget V: one exact collect of every row
    val (fit, fitJobs) = jobsOf("known-fits")(Superstep.stateGate(state, 8L, Some(8L)))
    assert(fit.map(_.map(_.getLong(0)).sorted.toSeq).contains(0L until 8L))
    assert(fitJobs == 1)
  }

  test("hub-free own-pack PageRank: three set-up jobs, then one job per iteration") {
    // Set-up = count the degree table, collect it (ids, degrees and the
    // pack's degree summary), materialize the reindexed pack; no stats,
    // segment-join or separate degree-collect job. Adaptive execution off,
    // as it splits each shuffle stage into a job of its own.
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val e = edgesOf(pairs)
      for (k <- Seq(1, 4)) {
        val ((_, iters), jobs) = jobsOf(s"pagerank-$k")(
          PageRank.runTimed(e, PageRank.Config(fixedIter = Some(k))))
        assert(iters.size == k)
        assert(jobs == 3 + k, s"fixedIter=$k")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("a truncated collect is never taken as complete") {
    // the cap clamps to Int.MaxValue - 2, so the capped collect returns at
    // most Int.MaxValue - 1 rows; that length means "more than the cap"
    assert(!Superstep.fits(Int.MaxValue - 1L, Long.MaxValue))
    assert(Superstep.fits(Int.MaxValue - 2L, Long.MaxValue))
  }
}
