package graft.graph

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.Edge

/** Core graph primitives over the canonical edge table.
  *
  * Representation: undirected simple graph as `Dataset[Edge]` with
  * `src < dst`, no self-loops, deduped (reference graphs are simple
  * undirected, scripts/utils.py:98-102). Algorithms consume the
  * symmetrized (both-directions) view so each gather is a single
  * equi-join on the neighbor column.
  */
object GraphOps {

  /** Canonicalize an arbitrary pair table: swap to src < dst, drop
    * self-loops, merge duplicates (summing weight). */
  def canonicalize(df: DataFrame): Dataset[Edge] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
        least(col("src"), col("dst")).cast("long").as("src"),
        greatest(col("src"), col("dst")).cast("long").as("dst"),
        coalesce(col("weight"), lit(1.0)).cast("double").as("weight"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(sum("weight").as("weight"))
      .as[Edge]
  }

  /** Both-directions view: one row per (node, neighbor). Doubles the rows
    * but makes every gather a single equi-join — the standard trade. */
  def symmetrize(edges: Dataset[Edge]): DataFrame =
    edges.toDF().unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst"), col("weight")).toDF())

  /** Symmetrized view PRE-PARTITIONED on the superstep join key, sorted
    * within partitions, and persisted (north rule: "hash-partitioned ...
    * adjacency Datasets"). The cached InMemoryRelation reports
    * HashPartitioning(key) + the sort order, so every iteration's gather
    * join reuses the cached layout instead of re-exchanging (and re-sorting)
    * the E-row edge side — only the V-row state side shuffles per
    * superstep. At 66M edges x 20+ supersteps that cached exchange is the
    * single largest shuffle saving in the engine. Caller must unpersist. */
  /** `sorted = true` additionally sorts within partitions so the shuffle
    * path's per-round sort-merge join reuses the cached order. The
    * broadcast-state strategy needs only the hash partitioning (its
    * aggregates are hash-based and its joins broadcast), and the in-cache
    * sort of an E-row table is a real one-time cost (external TimSort +
    * spill at 133M rows / 8 partitions) — so broadcast-mode callers pass
    * sorted = false. */
  def pinnedSym(edges: Dataset[Edge], key: String,
                weighted: Boolean = false, sorted: Boolean = true): DataFrame = {
    val cols = if (weighted) Seq("src", "dst", "weight") else Seq("src", "dst")
    val base = symmetrize(edges).select(cols.map(col): _*).repartition(col(key))
    val s = (if (sorted) base.sortWithinPartitions(key) else base).persist()
    s.count()
    s
  }

  /** Distinct vertex ids present in the edge table. NB: isolated vertices
    * never appear here (reference drops degree-0 vertices too,
    * scripts/real_nets.py:131). */
  def vertices(edges: Dataset[Edge]): DataFrame =
    edges.select(col("src").as("id"))
      .unionByName(edges.select(col("dst").as("id")))
      .distinct()

  /** Per-vertex degree (unweighted). */
  def degrees(edges: Dataset[Edge]): DataFrame =
    symmetrize(edges).groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))

  /** Per-vertex strength: sum of incident edge weights — the weighted
    * degree of the engine's co-occurrence graph (weight = shared paths). */
  def strengths(edges: Dataset[Edge]): DataFrame =
    symmetrize(edges).groupBy(col("src").as("id"))
      .agg(sum(col("weight").cast("double")).as("strength"))

  /** P3 subgraph induction: edges with BOTH endpoints in `vertexIds(id)` —
    * two semi-joins, no gather. The reference's per-community real-network
    * mode induces (community ∪ neighbors) before running hedonic
    * (reference scripts/example.py:33-36, scripts/real_nets.py:125-164). */
  def inducedSubgraph(edges: Dataset[Edge], vertexIds: DataFrame): Dataset[Edge] = {
    val spark = edges.sparkSession
    import spark.implicits._
    val vs = vertexIds.select(col("id"))
    edges.toDF()
      .join(vs.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(vs.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
      .select("src", "dst", "weight")
      .as[Edge]
  }

  /** The reference's per-community vertex set: members of `community` under
    * `members(id, community)` UNION their direct neighbors
    * (scripts/example.py:33-36 `com + neighbors`). */
  def communityWithNeighbors(edges: Dataset[Edge], members: DataFrame,
                             community: Long): DataFrame = {
    val inside = members.filter(col("community") === community).select("id")
    val nbrs = symmetrize(edges)
      .join(inside.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .select(col("dst").as("id"))
    inside.unionByName(nbrs).distinct()
  }

  /** (V, E) in ONE job (round 6): the degree aggregate's row count is V
    * and its degree sum is exactly 2E on a canonical edge table — the old
    * two jobs (edges.count + a 2E-row distinct) collapse into one pass. */
  def vertexEdgeCounts(edges: Dataset[Edge]): (Long, Long) = {
    val s = degreeSummary(edges)
    (s.vertices, s.degSum / 2)
  }

  /** V, 2E and the max degree of the symmetrized edges in one job — the
    * degree summary PackedAdjacency.build takes in place of its own. */
  def degreeSummary(edges: Dataset[Edge]): DegreeSummary =
    DegreeSummary.of(symmetrize(edges).groupBy(col("src")).agg(count(lit(1)).as("d")))

  /** Graph density 2E/(V(V-1)) — the reference's default resolution alpha
    * (hedonic/__init__.py:78,215; scripts/experiment.py:76). Driver-side
    * scalar; one job over the edge table (2.0*E == (2E).toDouble exactly
    * for any E < 2^52, so the value is bit-identical to the old
    * two-count form). */
  def density(edges: Dataset[Edge]): Double = {
    val (v, e) = vertexEdgeCounts(edges)
    if (v < 2) 0.0 else 2.0 * e / (v.toDouble * (v - 1))
  }

  /** CSR-packed adjacency: id -> sorted neighbor array (SURVEY.md §4.3.4).
    * Denser shuffle payload for gathers on moderate-degree graphs. */
  def adjacency(edges: Dataset[Edge]): DataFrame =
    symmetrize(edges).groupBy(col("src").as("id"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
}
