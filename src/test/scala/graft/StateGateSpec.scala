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
    assert(fit.map(_.longs(0).sorted.toSeq).contains(0L until 8L))
    assert(fitJobs == 1)
  }

  test("hub-free own-pack PageRank: three set-up jobs, then one job per iteration") {
    // Set-up = count the degree table, collect it (ids, degrees, the
    // pack's numbering and degree summary), materialize the numbered pack;
    // no stats, segment-join, reindex or separate degree-collect job. Adaptive execution off,
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

  /** (id, v) rows with exactly `sizes(p)` rows in partition p, ids in
    * row order. */
  private def partitioned(sizes: Seq[Int]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val rdd = spark.sparkContext.parallelize(sizes.indices, sizes.size)
      .mapPartitions(_.flatMap(p => Iterator.tabulate(sizes(p))(j => (p * 1000L + j, p))))
      .map { case (id, p) => Row(id, id * 0.5 + p) }
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("id", LongType, nullable = false), StructField("v", DoubleType, nullable = false))))
  }

  test("a state within budget and no count in hand: one job, rows as collect gives them") {
    withoutAqe {
      // an RDD-backed frame: the optimizer can neither drop a limit over
      // it (as over a range) nor evaluate one on the driver (as over a
      // local relation), so a capped collect of it would take two jobs
      val state = partitioned(Seq(25, 25, 25, 25))
      val (got, jobs) = jobsOf("gate-unknown")(Superstep.stateGate(state, 100L))
      assert(jobs == 1)
      val rows = state.collect()
      assert(got.get.length == 100)
      assert(got.get.longs(0).toSeq == rows.map(_.getLong(0)).toSeq)
      assert(got.get.doubles(1).toSeq == rows.map(_.getDouble(1)).toSeq)
    }
  }

  test("counts that prove a state over budget: one job, no rows shipped") {
    withoutAqe {
      // budget 10000 over 4 partitions: each task reads at most 2502 of
      // its 25000 rows and ships only its count
      val state = spark.range(0, 100000, 1, 4).select(col("id"), col("id").as("label"))
      val (got, bytes) = resultBytesOf("gate-over")(Superstep.stateGate(state, 10000L))
      assert(got.isEmpty)
      assert(bytes.size == 1, "a second job ran after the counts decided")
      // shipping 2501 rows of two longs would be 40 KB a task
      assert(bytes.head < 16000L, s"the over-budget gate shipped ${bytes.head} bytes")
    }
  }

  test("a skewed state takes the overflow path, same values and order as collect") {
    withoutAqe {
      // jobs: the gate, a counts-only read of the overflowing partitions
      // and, once their counts fit, one job that ships them
      for (sizes <- Seq(Seq(0, 50, 0, 0), Seq(60, 27, 0, 0), Seq(30, 30, 30, 0))) {
        val state = partitioned(sizes)
        val rows = state.collect()
        val total = sizes.sum.toLong
        for (budget <- Seq(total, total + 13)) {
          val (got, jobs) = jobsOf(s"gate-skew-$budget")(Superstep.stateGate(state, budget))
          assert(got.map(_.longs(0).toSeq).contains(rows.map(_.getLong(0)).toSeq), s"$sizes")
          assert(got.get.doubles(1).toSeq == rows.map(_.getDouble(1)).toSeq, s"$sizes")
          assert(jobs == 3, s"$sizes at budget $budget")
        }
        assert(Superstep.stateGate(state, total - 1).isEmpty, s"$sizes")
      }
    }
  }

  test("a count in hand that disagrees with the rows throws") {
    val state = spark.range(8).select(col("id"), col("id").as("label"))
    for (wrong <- Seq(7L, 9L))
      intercept[IllegalStateException](Superstep.stateGate(state, 100L, Some(wrong)))
  }

  test("CC within budget: one gate job; below the edge count: the star loop, same labels") {
    withoutAqe {
      // pinned, as callers' edge tables are: 4 cached partitions
      import spark.implicits._
      val e = graft.io.Iterate.pin(edgesOf(Fixtures.zachary).toDF()).as[graft.model.Edge]
      val naive = toMap(ConnectedComponents.runNaive(e))
      // the output frame is lazy: the gate is the only job before it
      val (driver, jobs) = jobsOf("cc-driver")(ConnectedComponents.run(e))
      assert(jobs == 1)
      assert(toMap(driver) == naive)
      // 78 edges, budget 3: every task overflows at 2 rows read and ships
      // only its count, so the gate decides in one job with no rows
      val (_, gate) = resultBytesOf("cc-gate-over")(
        Superstep.stateGate(e.select(col("src"), col("dst")), 3L))
      assert(gate.size == 1 && gate.head < 16000L)
      assert(toMap(ConnectedComponents.run(e, maxDriverEdges = 3L)) == naive)
    }
  }

  test("a truncated collect is never taken as complete") {
    // the cap clamps to Int.MaxValue - 2, so the capped collect returns at
    // most Int.MaxValue - 1 rows; that length means "more than the cap"
    assert(!Superstep.fits(Int.MaxValue - 1L, Long.MaxValue))
    assert(Superstep.fits(Int.MaxValue - 2L, Long.MaxValue))
  }
}
