package graft.algo

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.Edge
import graft.graph.GraphOps
import graft.io.Iterate
import graft.util.StateMap

/** Connected components — north-rule addition N2. Serial analog in the
  * reference: BFS reachability in scripts/robustness/edges.py:8-28.
  *
  * Primary algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond") — O(log^2 V) rounds on
  * pathological chains vs O(diameter) for naive min-propagation, which is
  * the difference between ~10 and ~10,000 shuffles on a 100 TB path-shaped
  * graph. `runNaive` (diameter-bound) is kept as the in-repo cross-check
  * oracle; a property test asserts both agree on random graphs.
  *
  * Hub safety (the round-1 fix): both star operations are expressed as a
  * per-group MIN aggregate joined back to the pair stream — never a
  * `collect_set` of the neighborhood. A 10^8-degree hub vertex therefore
  * contributes 10^8 ordinary shuffle rows across many partitions (AQE can
  * split further) instead of one array row that OOMs a single task.
  *
  * Labels are canonical: comp = min vertex id of the component, so the
  * "exact up to permutation" bar is met exactly.
  *
  * Small inputs skip the loop: an edge table within `maxDriverEdges` is
  * collected by the StateGate (Superstep.stateGate) — ONE named job that
  * ships (src, dst) as two primitive arrays — and resolved by a driver
  * union-find. Each of the job's P tasks reads at most about
  * maxDriverEdges / P rows, so an over-budget table is decided from the
  * capped counts with no second job (rows ship only from partitions within
  * their share); the driver never holds more than maxDriverEdges + 1 + P
  * pairs.
  */
object ConnectedComponents {

  /** One large-star + small-star round, exchange-fused (round 6): the
    * large-star dedup repartitions by the NEW src (the larger endpoint) so
    * its dropDuplicates needs no own exchange AND establishes exactly the
    * partitioning the small-star's groupBy/join need — large-star output is
    * already directed (every emitted dst = m < src), so the small-star's
    * greatest/least normalization and its re-exchange both disappear.
    * Three exchanges per round (sym groupBy, large-star dedup, small-star
    * dedup) instead of five; identical pair sets at every step.
    *
    * large-star: for every node u, m = min(N(u) + {u}); link every strictly
    * larger neighbor v > u to m. small-star: with N-(u) the smaller
    * neighbors and m = min(N-(u) + {u}) = min(N-(u)), link
    * (N-(u) + {u}) \ {m} to m. Aggregate+join formulation throughout — a
    * 10^8-degree hub contributes ordinary shuffle rows, never an array. */
  private def round(pairs: DataFrame): DataFrame = {
    val sym = pairs.unionByName(
      pairs.select(col("dst").as("src"), col("src").as("dst")))
    val mins = sym.groupBy("src").agg(min(col("dst")).as("mn"))
      .select(col("src"), least(col("src"), col("mn")).as("m"))
    val ls = sym.join(mins, Seq("src"))
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst"))
      .repartition(col("src"))
      .dropDuplicates("src", "dst")
    val mins2 = ls.groupBy("src").agg(min(col("dst")).as("m"))
    val nbrLinks = ls.join(mins2, Seq("src"))
      .filter(col("dst") =!= col("m"))
      .select(col("dst").as("src"), col("m").as("dst"))
    val selfLinks = mins2.select(col("src"), col("m").as("dst"))
    nbrLinks.unionByName(selfLinks)
      .repartition(col("src"))
      .dropDuplicates("src", "dst")
  }

  /** The default driver budget in edges (16 B each on the driver), shared
    * with TriangleCount.count. */
  private[algo] val DriverEdges = 4000000L

  def run(edges: Dataset[Edge], maxIter: Int = 50,
          maxDriverEdges: Long = DriverEdges): DataFrame = {
    // Scale-gated strategy split (round 6) — the engine's broadcast-state
    // playbook (Hedonic.run / LabelPropagation.run): a pair table within
    // the driver budget is resolved with ONE collect + union-find instead
    // of the star-contraction loop, whose per-round fixed cost (3
    // exchanges + pin + convergence check, x O(log^2 V) rounds) dwarfs
    // the actual work on small inputs — dedupSurvivors' pair graphs and
    // Leiden.refine's intra-community slices are tiny by construction at
    // any corpus scale. The gate (Superstep.stateGate) is one named job
    // that ships the (src, dst) pairs as two primitive arrays; each task
    // reads at most about budget / P rows, so an over-budget table is
    // proven so from the capped counts with no second job. Partitions
    // within their share have shipped their rows by then (none ship only
    // when every partition overflows); the driver holds at most
    // budget + 1 + P pairs in any case. Larger inputs
    // run the large/small-star loop below unchanged, so the 100 TB path
    // is exactly the code it was. Labels are identical by construction:
    // union-by-minimum keeps every union-find root the component minimum,
    // the same canonical comp = min(component) the star loop converges
    // to (AlgoSpec pins both paths against runNaive).
    Superstep.stateGate(edges.select(col("src"), col("dst")), maxDriverEdges) match {
      case Some(pairs) => return runDriver(edges.sparkSession, pairs.longs(0), pairs.longs(1))
      case None =>
    }
    // Per round: pin + cache-count (pinCount, InternalRow cache — no
    // row boxing) + the union-distinct job only when the counts already
    // agree; the previous round's count carries forward (the old loop
    // recounted it) and the previous cache is released each round.
    // No initial distinct or pin (round 6): Dataset[Edge] is canonical by
    // contract (src < dst, deduped — GraphOps scaladoc), so the old
    // `.distinct()` was a full extra exchange of the edge set, and the old
    // initial pin a full extra cache pass — callers' edge tables are
    // already cached (pinEdges) and round 0 reads them once either way.
    var pairs = edges.select(col("src"), col("dst"))
    var nPrev = pairs.count()
    var prevRelease: () => Unit = () => ()
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      val nextPin = Iterate.pinCount(round(pairs))
      val next = nextPin.df
      val nNext = nextPin.sums(0).toLong
      // Set-equality convergence: |A| == |B| == |A union B|.
      done = nNext == nPrev &&
        next.unionByName(pairs).distinct().count() == nPrev
      prevRelease()
      prevRelease = () => nextPin.release()
      pairs = next
      nPrev = nNext
      iter += 1
    }
    // Fixpoint is a star forest: every pair is (v, componentMin), so the
    // labeled ids are exactly the non-minimum vertices and the missing
    // roots are exactly the DISTINCT comp values (every root has at least
    // one member row — edge-table vertices all have a neighbor). Deriving
    // roots from the labels replaces the old 2E-row vertices().distinct()
    // + anti-join with one small aggregate (round 6); identical rows.
    val labels = pairs.groupBy(col("src").as("id")).agg(min(col("dst")).as("comp"))
    val roots = labels.select(col("comp")).distinct()
      .select(col("comp").as("id"), col("comp"))
    labels.unionByName(roots)
  }

  /** Driver-side union-find over a budget-bounded pair collect (the small
    * branch of run()'s strategy split). Vertices get dense positions
    * (StateMap.Numbering) and the parent table is an int array over them,
    * so no value is boxed. Union-by-minimum: merging roots attaches the
    * one with the larger id to the smaller, so every root stays its
    * component's minimum id and find(v) is exactly the star loop's
    * canonical comp label; path halving keeps it near-linear. */
  private def runDriver(spark: org.apache.spark.sql.SparkSession,
                        src: Array[Long], dst: Array[Long]): DataFrame = {
    val num = new StateMap.Numbering
    var parent = Array.tabulate(64)(identity) // unnumbered positions are roots
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var i = 0
    while (i < src.length) {
      val a = num(src(i))
      val b = num(dst(i))
      if (num.size > parent.length) {
        val old = parent.length
        parent = java.util.Arrays.copyOf(parent, 2 * old)
        var j = old
        while (j < parent.length) { parent(j) = j; j += 1 }
      }
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) { if (num.id(ra) < num.id(rb)) parent(rb) = ra else parent(ra) = rb }
      i += 1
    }
    val ids = num.ids
    Superstep.frame(spark, ids, "comp", Array.tabulate(ids.length)(j => ids(find(j))))
  }

  /** Naive min-label propagation — O(diameter) supersteps; the in-repo
    * oracle for `run` on small/random graphs. */
  def runNaive(edges: Dataset[Edge], maxIter: Int = 200): DataFrame = {
    val sym = GraphOps.symmetrize(edges).select("src", "dst").persist()
    sym.count()
    var labels = GraphOps.vertices(edges).select(col("id"), col("id").as("comp"))
      .transform(Iterate.pin)
    var prevPin: Option[Iterate.Pinned] = None
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      val nbrMin = sym.join(labels.select(col("id").as("src"), col("comp")), Seq("src"))
        .groupBy(col("dst").as("id")).agg(min("comp").as("nmin"))
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"),
          (coalesce(col("nmin"), col("comp")) < col("comp")).as("chg"))
      val pinned = Iterate.pinSums(next, Seq("chg"))
      done = pinned.sums(0) == 0.0
      labels = pinned.df.select("id", "comp")
      prevPin.foreach(_.release())
      prevPin = Some(pinned)
      iter += 1
    }
    sym.unpersist()
    labels
  }
}
