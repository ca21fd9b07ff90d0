package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._
import graft.algo.{ConnectedComponents, LabelPropagation, Superstep}

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
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(
          Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      val state = spark.range(8).select(col("id"), col("id").as("community"))
      sc.setJobGroup("gate-zero", "budget 0")
      assert(Superstep.stateGate(state, 0L).isEmpty)
      // control: a positive budget's gate job does reach the listener
      sc.setJobGroup("gate-v", "budget V")
      assert(Superstep.stateGate(state, 8L).isDefined)
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains("gate-v") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("gate-v"), "listener never saw the control job")
      assert(!groups.contains("gate-zero"), "budget 0 submitted a job")
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
    }
  }

  test("a truncated collect is never taken as complete") {
    // the cap clamps to Int.MaxValue - 2, so the capped collect returns at
    // most Int.MaxValue - 1 rows; that length means "more than the cap"
    assert(!Superstep.fits(Int.MaxValue - 1L, Long.MaxValue))
    assert(Superstep.fits(Int.MaxValue - 2L, Long.MaxValue))
  }
}
