package graft

import org.apache.spark.SparkEnv
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.Final
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.BroadcastBlockId
import graft.algo.TriangleCount

/** TriangleCount's two strategies: the driver CSR within the edge budget
  * and the distributed plan over it give the serial oracle's count. */
class TriangleCountSpec extends SparkSpec {

  private def complete(vs: Seq[Long]): Seq[(Long, Long)] =
    for (i <- vs.indices; j <- i + 1 until vs.size) yield (vs(i), vs(j))

  /** G(n, p) on ids spread over the whole long range (negative ones too). */
  private def gnp(seed: Long, n: Int, p: Double): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val id = (i: Int) => (i + 1) * 0x9E3779B97F4A7C15L
    for (i <- 0 until n; j <- i + 1 until n if rnd.nextDouble() < p) yield (id(i), id(j))
  }

  private val graphs: Seq[(String, Seq[(Long, Long)])] = Seq(
    "K4" -> complete(0L until 4L),
    "Zachary" -> Fixtures.zachary,
    "kite" -> Fixtures.kite,
    "star with chords" -> ((1L to 50L).map(i => (0L, i)) ++ (1L to 49L by 2).map(i => (i, i + 1))),
    "K30" -> complete(0L until 30L),
    "two disjoint K5s" -> (complete(0L until 5L) ++ complete(100L until 105L)),
    "bipartite" -> (for (i <- 0L until 6L; j <- 10L until 16L if (i + j) % 3 != 0) yield (i, j)),
    "empty" -> Seq.empty) ++
    (1 to 4).map(s => s"G(40, 0.25) seed $s" -> gnp(s, 40, 0.25))

  test("K4 has 4 triangles; Zachary has 45; kite matches serial oracle") {
    val k4 = for (i <- 0L until 4L; j <- (i + 1) until 4L) yield (i, j)
    assert(TriangleCount.count(edgesOf(k4)) == 4L)
    assert(TriangleCount.count(edgesOf(Fixtures.zachary)) == 45L)
    assert(TriangleCount.count(edgesOf(Fixtures.kite)) ==
      SerialOracle.triangles(Fixtures.kite))
  }

  test("per-vertex counts sum to 3x total") {
    val e = edgesOf(Fixtures.zachary)
    val per = TriangleCount.perVertex(e).agg(sum("triangles")).collect()(0).getLong(0)
    assert(per == 3 * 45L)
  }

  test("triangle-free graph counts zero") {
    val chain = (0L until 10L).map(i => (i, i + 1))
    assert(TriangleCount.count(edgesOf(chain)) == 0L)
  }

  test("driver CSR and distributed plan both give the serial count") {
    graphs.foreach { case (name, pairs) =>
      val e = edgesOf(pairs)
      val want = SerialOracle.triangles(pairs)
      val m = pairs.size.toLong
      assert(TriangleCount.countWithin(e, math.max(m, 1L)) == want, s"$name: driver path")
      assert(TriangleCount.countWithin(e, 0L) == want, s"$name: distributed path")
    }
  }

  test("budget E: the gate and one count job; E - 1: the distributed plan; 0: no gate job") {
    withoutAqe {
      // A local table: the distributed plan broadcasts, one job per
      // broadcast, so its job count tells it from the driver path's two.
      val e = edgesOf(Fixtures.zachary)
      val (within, withinJobs) = jobsOf("tc-within")(TriangleCount.countWithin(e, 78L))
      val (over, overJobs) = jobsOf("tc-over")(TriangleCount.countWithin(e, 77L))
      val (zero, zeroJobs) = jobsOf("tc-zero")(TriangleCount.countWithin(e, 0L))
      assert(Seq(within, over, zero) == Seq(45L, 45L, 45L))
      assert(withinJobs == 2)
      assert(zeroJobs > 2, "the distributed plan ran as few jobs as the driver path")
      assert(overJobs == zeroJobs + 1, "E - 1 ran more than the gate before the distributed plan")
      // an empty table: the gate alone, no count job
      val empty = edgesOf(Seq.empty)
      val (_, gateJobs) = jobsOf("tc-empty-gate")(
        graft.algo.Superstep.stateGate(empty.select(col("src"), col("dst")), 10L))
      val (none, emptyJobs) = jobsOf("tc-empty")(TriangleCount.countWithin(empty, 10L))
      assert(none == 0L && emptyJobs == gateJobs)
    }
  }

  test("the driver path destroys its CSR broadcast") {
    // A job's task binary is a broadcast too, released only when it is
    // garbage collected: the two jobs may leave two, never a third.
    def live: Set[Long] = SparkEnv.get.blockManager.getMatchingBlockIds(_.isBroadcast)
      .collect { case BroadcastBlockId(id, _) => id }.toSet
    val e = edgesOf(complete(0L until 30L))
    val before = live
    assert(TriangleCount.countWithin(e, 435L) == 4060L)
    val deadline = System.nanoTime() + 10000000000L
    while ((live -- before).size > 2 && System.nanoTime() < deadline) Thread.sleep(20)
    assert((live -- before).size <= 2, s"live broadcasts after the count: ${live -- before}")
  }

  test("the distributed plan builds its adjacency once") {
    // A reused exchange is a leaf here, so a reused subtree counts once.
    def finalAggregates(df: DataFrame, fn: String): Int = {
      def walk(p: SparkPlan): Int = p match {
        case a: BaseAggregateExec =>
          a.aggregateExpressions.count(x => x.mode == Final && x.aggregateFunction.prettyName == fn) +
            a.children.map(walk).sum
        case o => o.children.map(walk).sum
      }
      walk(df.queryExecution.executedPlan)
    }
    withoutAqe {
      val plan = TriangleCount.distributed(edgesOf(Fixtures.zachary))
      assert(finalAggregates(plan, "collect_list") == 1, plan.queryExecution.executedPlan.toString)
      assert(plan.head().getLong(0) == 45L)
    }
  }
}
