package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Plan-evidence dump: `.explain("formatted")` for the load-bearing
  * queries, written to PLANS.md. What to look for (and what the round's
  * plan review checks):
  *  - parquet scans show ReadSchema restricted to referenced columns and
  *    PushedFilters for predicates (column pruning / predicate pushdown);
  *  - membership/community-size sides of gather joins are
  *    BroadcastHashJoin (small side), edge-side never broadcast;
  *  - aggregates are partial+final HashAggregate pairs (map-side combine);
  *  - WholeStageCodegen spans cover the hot path (no codegen breaks from
  *    UDFs — the engine has none);
  *  - triangle counting reuses the oriented-edge exchange (ReusedExchange).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val picks = Seq(
      "q_edges", "q_gather", "q_payoff", "q_pagerank3", "q_triangles",
      "q_dedup_exact", "q_jaccard_pairs", "q_ann_topk", "q_events_window",
      // round-2 additions: LSH production path, chunk-pair simhash, the
      // sparse-graph game ops, weighted rank, media decode plumbing
      "q_lsh_embed_pairs", "q_simhash_pairs", "q_induced", "q_onepass",
      "q_wpagerank3", "q_media_features",
      // round-4 additions: winnow sketch (rows + per-doc window frame,
      // codegen'd md5 projection) and the containment candidate plan
      "q_winnow_fp", "q_containment",
      // round-5 additions: real ImageIO decode (mapPartitions batch shape),
      // columnar BPE replace-chain, quality verdict projection, hashed
      // text embeddings, IVF recall instrumentation
      "q_media_real", "q_bpe_count", "q_quality", "q_text_embed", "q_ann_recall",
      "q_dup_survivors")
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan evidence for the load-bearing queries\n\n")
    sb.append(s"Generated by `graft.Explain` on `$sfDir`. Reviewed for: column\n")
    sb.append("pruning (`ReadSchema`), predicate pushdown (`PushedFilters`),\n")
    sb.append("broadcast of small join sides, partial+final HashAggregate, and\n")
    sb.append("WholeStageCodegen coverage (engine has zero UDFs on hot paths).\n")
    picks.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }

    // The CSR-packed broadcast-state superstep plans that Hedonic/PageRank/
    // LPA.run execute per round. Over a hub-free pack (the indexed and delta
    // shapes) the whole superstep is InMemoryTableScan -> Project(kernel) ->
    // Filter -> Project inside ONE WholeStageCodegen span — no aggregate, no
    // exchange, no join. A hub pack (segCap = 2 splits the degree-3 vertex)
    // adds the hub branch: per-segment partials -> (myIdx, key) aggregate ->
    // the shared decide tail, unioned with the single-segment rows.
    {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      import graft.util.StateMap
      val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L))
        .map { case (a, b) => graft.model.Edge(a, b, 1.0) }.toDS()
      val symDf = graft.graph.GraphOps.symmetrize(edges).select("src", "dst")
      val ids = (0L to 3L).toArray
      val sc = spark.sparkContext
      val hub = graft.graph.PackedAdjacency.build(symDf, "src", segCap = 2)
      val pidx = graft.graph.PackedAdjacency.build(symDf, "src", numbering = Some(ids))
      val run = new graft.algo.Superstep.Run(spark, ids, Some(pidx))
      val sizeR = new StateMap.Ref(sc.broadcast(StateMap.longLong(ids, Array.fill(4)(1L), 4)))
      val commArrR = new StateMap.Ref(sc.broadcast(ids.clone()))
      val qR = new StateMap.Ref(sc.broadcast(Array.fill(4)(0.125)))
      // The delta transport: state enters as a DeltaState.Payload resolved
      // once per task.
      run.delta.publish(0, ids, scala.collection.mutable.LongMap(ids.map(_ -> 1L): _*))
      val dState = run.delta.ref
      val shapes = Seq(
        "packed_hedonic_superstep" ->
          graft.algo.Hedonic.stepPlanPackedIdxDelta(hub, dState, 0.1,
            graft.util.Portable.parityGate(col("id"), 0)),
        "packed_pagerank_iteration" ->
          graft.algo.PageRank.iterPlanPackedIdx(hub, qR, None, 4.0,
            graft.algo.PageRank.Config()),
        "packed_lpa_step" ->
          graft.algo.LabelPropagation.stepPlanPackedIdxDelta(hub, dState, lit(true)))
      val idxShapes = Seq(
        "indexed_hedonic_superstep" ->
          graft.algo.Hedonic.stepPlanPackedIdx(pidx, commArrR, sizeR, 0.1,
            graft.util.Portable.parityGate(col("id"), 0)),
        "delta_hedonic_superstep" ->
          graft.algo.Hedonic.stepPlanPackedIdxDelta(pidx, dState, 0.1,
            graft.util.Portable.parityGate(col("id"), 0)),
        "indexed_pagerank_iteration" ->
          graft.algo.PageRank.iterPlanPackedIdx(pidx, qR, None, 4.0,
            graft.algo.PageRank.Config()),
        "delta_lpa_step" ->
          graft.algo.LabelPropagation.stepPlanPackedIdxDelta(pidx, dState, lit(true)))
      shapes.foreach { case (name, df) =>
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        sb.append(s"\n## $name (hub pack, segCap = 2, per-round plan)\n\n```\n$plan```\n")
      }
      idxShapes.foreach { case (name, df) =>
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        sb.append(s"\n## $name (dense-index strategy, per-round plan)\n\n```\n$plan```\n")
      }
      run.close()
      pidx.unpersist(); hub.unpersist()
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
