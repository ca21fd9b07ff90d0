package graft.algo

import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.Edge
import graft.graph.GraphOps
import graft.util.StateMap

/** Triangle counting — north-rule addition N4. The wedge primitive appears
  * in the reference as neighbor-set intersection
  * (scripts/reciprocity_clustering.py:70-73).
  *
  * Orientation: edge u->v iff (deg(u), u) < (deg(v), v) — a strict total
  * order on vertices, so every triangle {x < y < z} in that order is found
  * exactly once, at edge (x, y) with w = z, and no out-neighbor row holds
  * more than sqrt(2E) ids (the arboricity argument), hub or not. Each
  * oriented edge (u, v) contributes |N+(u) ∩ N+(v)|, a two-pointer merge
  * over rows sorted ascending; no wedge is ever materialized.
  *
  * Strategy split (`count`), as in ConnectedComponents.run, with its default
  * budget of 4M edges:
  *  - Within the budget: the StateGate (Superstep.stateGate) ships the
  *    (src, dst) pairs as two primitive arrays in ONE named job, 16 B per
  *    edge. The driver numbers the vertices (StateMap.Numbering), ranks
  *    them by (degree, id) and builds the oriented CSR over those ranks:
  *    int offsets (V + 1) and an int neighbor array (E), each row sorted
  *    ascending — primitive arrays and sorts, nothing boxed. The CSR is
  *    broadcast once, ONE `runJob` with a named task class (Superstep's
  *    object doc: ClosureCleaner skips it) sums the intersections over
  *    defaultParallelism strided slices of the rows, and the broadcast is
  *    destroyed when the job ends. Two jobs, no shuffle; an empty edge
  *    table returns 0 after the gate alone.
  *  - Over the budget: the distributed plan below. The oriented edges are
  *    joined with the degree table, and then with their adjacency, on
  *    both endpoints, and each table is one subtree referenced twice. As
  *    a broadcast build its second use is a reused exchange, so the
  *    adjacency is aggregated once; under sort-merge joins only the
  *    partial-aggregate shuffle is reused and the final merge runs per
  *    use.
  */
object TriangleCount {

  /** Degree-oriented edge list: one row u->v per edge with
    * (deg(u), u) < (deg(v), v). Both endpoints read the one degree table. */
  private def oriented(edges: Dataset[Edge]): DataFrame = {
    val deg = GraphOps.degrees(edges)
    val lower = struct(col("ds.degree"), col("e.src")) < struct(col("dd.degree"), col("e.dst"))
    edges.toDF().as("e")
      .join(deg.as("ds"), col("e.src") === col("ds.id"))
      .join(deg.as("dd"), col("e.dst") === col("dd.id"))
      .select(when(lower, col("e.src")).otherwise(col("e.dst")).as("u"),
        when(lower, col("e.dst")).otherwise(col("e.src")).as("v"))
  }

  /** Oriented edges (u, v) with both endpoints' sorted out-neighbor arrays
    * (nu, nv) read from one adjacency table (inner joins: an endpoint with
    * no out-edges closes nothing). */
  private def withAdjacency(edges: Dataset[Edge]): DataFrame = {
    val e = oriented(edges)
    val adj = e.groupBy(col("u")).agg(sort_array(collect_list(col("v"))).as("nbrs"))
    e.as("e")
      .join(adj.as("a"), col("e.u") === col("a.u"))
      .join(adj.as("b"), col("e.v") === col("b.u"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("a.nbrs").as("nu"),
        col("b.nbrs").as("nv"))
  }

  /** Global triangle count (see the object doc for the strategy split). */
  def count(edges: Dataset[Edge]): Long = countWithin(edges, ConnectedComponents.DriverEdges)

  /** `count` with the driver budget in edges; a budget <= 0 runs the
    * distributed plan with no gate job. */
  private[graft] def countWithin(edges: Dataset[Edge], maxDriverEdges: Long): Long =
    Superstep.stateGate(edges.select(col("src"), col("dst")), maxDriverEdges) match {
      case Some(pairs) =>
        countDriver(edges.sparkSession.sparkContext, pairs.longs(0), pairs.longs(1))
      case None => distributed(edges).head().getLong(0)
    }

  /** The over-budget plan: one row, the sum of per-edge intersection sizes,
    * each a zero-allocation two-pointer merge
    * (GraphKernels.sortedIntersectCount). */
  private[graft] def distributed(edges: Dataset[Edge]): DataFrame =
    withAdjacency(edges)
      .select(GraphKernels.sortedIntersectCount(col("nu"), col("nv")).as("t"))
      .agg(coalesce(sum(col("t")), lit(0L)).as("n"))

  /** Oriented CSR over orientation ranks: row r is off(r) until off(r + 1)
    * of `nbr`, the ranks of r's out-neighbors, ascending. */
  private final class Csr(val off: Array[Int], val nbr: Array[Int]) extends Serializable

  /** The driver CSR of canonical edges (src(i), dst(i)). */
  private def csr(src: Array[Long], dst: Array[Long]): Csr = {
    val num = new StateMap.Numbering
    val m = src.length
    val a = new Array[Int](m)
    val b = new Array[Int](m)
    var deg = new Array[Int](64)
    var i = 0
    while (i < m) {
      a(i) = num(src(i))
      b(i) = num(dst(i))
      if (num.size > deg.length) deg = java.util.Arrays.copyOf(deg, 2 * deg.length)
      deg(a(i)) += 1
      deg(b(i)) += 1
      i += 1
    }
    // rank = position in (degree, id) order: ids sorted, then a stable
    // counting sort by degree
    val n = num.size
    val byId = num.ids
    java.util.Arrays.sort(byId)
    val next = new Array[Int](m + 2) // next(d): degree d's next rank; degrees are at most m
    var p = 0
    while (p < n) { next(deg(p) + 1) += 1; p += 1 }
    var d = 1
    while (d < next.length) { next(d) += next(d - 1); d += 1 }
    val rank = new Array[Int](n)
    var j = 0
    while (j < n) {
      val q = num(byId(j))
      rank(q) = next(deg(q))
      next(deg(q)) += 1
      j += 1
    }
    // rows: each edge once, from its lower-ranked endpoint
    val off = new Array[Int](n + 1)
    i = 0
    while (i < m) { off(math.min(rank(a(i)), rank(b(i))) + 1) += 1; i += 1 }
    var r = 0
    while (r < n) { off(r + 1) += off(r); r += 1 }
    val fill = java.util.Arrays.copyOf(off, n)
    val nbr = new Array[Int](m)
    i = 0
    while (i < m) {
      val ra = rank(a(i))
      val rb = rank(b(i))
      val u = math.min(ra, rb)
      nbr(fill(u)) = math.max(ra, rb)
      fill(u) += 1
      i += 1
    }
    r = 0
    while (r < n) { java.util.Arrays.sort(nbr, off(r), off(r + 1)); r += 1 }
    new Csr(off, nbr)
  }

  /** Within-budget count: the CSR broadcast once, one named count job over
    * strided row slices, the broadcast destroyed after it. */
  private def countDriver(sc: SparkContext, src: Array[Long], dst: Array[Long]): Long =
    if (src.isEmpty) 0L
    else {
      val g = sc.broadcast(csr(src, dst))
      try {
        val slices = math.max(1, sc.defaultParallelism)
        val rdd = sc.parallelize(0 until slices, slices)
        sc.runJob(rdd, new CountTask(g, slices), rdd.partitions.indices).sum
      } finally g.destroy()
    }

  /** Σ |N+(u) ∩ N+(v)| over the oriented edges (u, v) of rows u = s,
    * s + stride, ... for the task's slice s. N+(v) holds ranks above v, so
    * the merge reads N+(u) only past v. A named class, not a lambda. */
  private final class CountTask(csr: Broadcast[Csr], stride: Int)
      extends ((TaskContext, Iterator[Int]) => Long) with Serializable {
    def apply(ctx: TaskContext, slices: Iterator[Int]): Long = {
      val off = csr.value.off
      val nbr = csr.value.nbr
      val rows = off.length - 1
      var t = 0L
      while (slices.hasNext) {
        var u = slices.next()
        while (u < rows) {
          val uEnd = off(u + 1)
          var k = off(u)
          while (k < uEnd) {
            val v = nbr(k)
            var x = k + 1
            var y = off(v)
            val vEnd = off(v + 1)
            while (x < uEnd && y < vEnd) {
              val wx = nbr(x)
              val wy = nbr(y)
              if (wx == wy) { t += 1; x += 1; y += 1 }
              else if (wx < wy) x += 1
              else y += 1
            }
            k += 1
          }
          u += stride
        }
      }
      t
    }
  }

  /** One row (a, b, c) per triangle: a = the orientation-minimal apex,
    * b < c by vertex id. */
  def triangles(edges: Dataset[Edge]): DataFrame =
    withAdjacency(edges)
      .select(col("u").as("a"), col("v"),
        explode(array_intersect(col("nu"), col("nv"))).as("w"))
      .select(col("a"), least(col("v"), col("w")).as("b"),
        greatest(col("v"), col("w")).as("c"))

  /** Per-vertex triangle participation counts. */
  def perVertex(edges: Dataset[Edge]): DataFrame = {
    val t = triangles(edges)
    t.select(col("a").as("id"))
      .unionByName(t.select(col("b").as("id")))
      .unionByName(t.select(col("c").as("id")))
      .groupBy("id").agg(org.apache.spark.sql.functions.count(lit(1)).as("triangles"))
  }
}
