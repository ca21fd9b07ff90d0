package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-6 noop-sink micro-bench (guide §1.4): isolates the expensive
  * sub-steps of the declared queries so optimization work is measured on
  * the computation, not the sink or the surrounding pins. Does NOT replace
  * graft.Bench (frozen harness) — numbers from here are cited in
  * OPTIMIZATION_r06.md only.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *          sbt "runMain graft.tools.BenchExtra probe1,probe2"
  */
object BenchExtra {
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    def timed(name: String)(body: => Unit): Unit = {
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      body
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[extra] $name%-32s $dt%8.2f s")
      spark.sparkContext.setJobDescription(null)
    }
    def purge(): Unit =
      try spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      catch { case _: Throwable => () }

    val probes: Map[String, () => Unit] = Map(
      // ---- graph extraction prologue (paid by ~25 queries)
      "extract_noop" -> (() => timed("extract_noop") {
        noop(graft.ingest.EdgeExtraction.cooccurrence(li, "l_suppkey", "l_partkey", 1000).toDF())
      }),
      "extract_pin" -> (() => timed("extract_pin") {
        graft.io.Iterate.pin(
          graft.ingest.EdgeExtraction.cooccurrence(li, "l_suppkey", "l_partkey", 1000).toDF())
      }),
      "extract_sparse_noop" -> (() => timed("extract_sparse_noop") {
        noop(graft.ingest.EdgeExtraction.cooccurrence(li, "l_suppkey", "l_orderkey", 1000).toDF())
      }),
      "extract_thin_noop" -> (() => timed("extract_thin_noop") {
        noop(graft.ingest.EdgeExtraction.cooccurrence(
          li.filter(col("l_quantity") <= 1), "l_suppkey", "l_partkey", 1000).toDF())
      }),
      // ---- triangle counting isolated from extraction
      "triangles_only" -> (() => timed("triangles_only") {
        val e = graft.io.Iterate.pin(
          graft.ingest.EdgeExtraction.cooccurrence(li, "l_suppkey", "l_partkey", 1000).toDF())
          .as[graft.model.Edge]
        timed("  count_inner") {
          println("    triangles = " + graft.algo.TriangleCount.count(e))
        }
      }),
      // ---- ARI pieces
      "ari_after_pin" -> (() => timed("ari_after_pin") {
        val e = graft.io.Iterate.pin(
          graft.ingest.EdgeExtraction.cooccurrence(li, "l_suppkey", "l_partkey", 1000).toDF())
          .as[graft.model.Edge]
        timed("  ari_inner") {
          val p1 = graft.graph.GraphOps.vertices(e)
            .select(col("id"), (col("id") % 3).as("community"))
          val p2 = spark.read.parquet(s"$sfDir/supplier.parquet")
            .select(col("s_suppkey").as("id"), col("s_nationkey").cast("long").as("community"))
          println("    ari = " + graft.eval.Metrics.adjustedRandIndex(p1, p2))
        }
      }),
      // ---- jaccard pieces
      "jaccard_noop" -> (() => timed("jaccard_noop") {
        noop(graft.dedup.Dedup.jaccardPairs(docs, 0.4))
      }),
      "containment_noop" -> (() => timed("containment_noop") {
        noop(graft.dedup.Dedup.containmentPairs(docs, 0.6))
      }),
      "shingle_noop" -> (() => timed("shingle_noop") {
        noop(graft.dedup.Dedup.shingleTable(docs, "doc_id", "text", 3))
      }),
      // ---- bpe
      "bpe_count_noop" -> (() => timed("bpe_count_noop") {
        noop(docs.select(col("doc_id"), graft.text.TextOps.bpeCount(col("text")).as("bpe_tokens")))
      }),
      // ---- frontier loop isolated from extraction
      "frontier_only" -> (() => timed("frontier_only") {
        val e = graft.io.Iterate.pin(
          graft.ingest.EdgeExtraction.cooccurrence(
            li.filter(col("l_quantity") <= 1), "l_suppkey", "l_partkey", 1000).toDF())
          .as[graft.model.Edge]
        timed("  frontier_inner") {
          val init = graft.graph.GraphOps.vertices(e)
            .select(col("id"), (col("id") % 3).as("community"))
          val (m, metrics) = graft.algo.HedonicFrontier.run(e, init,
            graft.algo.Hedonic.Config(maxSupersteps = 40))
          noop(m)
          println(s"    supersteps=${metrics.size} " +
            s"walls=${metrics.map(_.wallMs).mkString(",")}")
        }
      }),
      // ---- pagerank isolated
      "pagerank3_only" -> (() => timed("pagerank3_only") {
        val e = graft.io.Iterate.pin(
          graft.ingest.EdgeExtraction.cooccurrence(li, "l_suppkey", "l_partkey", 1000).toDF())
          .as[graft.model.Edge]
        timed("  pagerank3_inner") {
          noop(graft.algo.PageRank.run(e,
            graft.algo.PageRank.Config(fixedIter = Some(3)))
            .select(col("id"), round(col("rank"), 6).as("rank")))
        }
      }),
      // ---- dup survivors CC part
      "survivors_cc" -> (() => timed("survivors_cc") {
        val d = docs.select(col("doc_id"), col("text"))
        val planted = d.filter(col("doc_id") < 5)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        val all = d.unionByName(planted)
        val pairs = graft.dedup.Dedup.jaccardPairs(all, 0.4)
        timed("  pairs_part") { noop(pairs) }
        timed("  cc_join_part") {
          noop(graft.dedup.Dedup.dedupSurvivors(all, pairs))
        }
      }),
      // ---- token/shingle/simhash isolation
      "text_pipeline" -> (() => timed("text_pipeline") {
        timed("  tokens_noop") {
          noop(docs.select(col("doc_id"), graft.text.TextOps.tokens(col("text")).as("t")))
        }
        timed("  shingle_noop") {
          noop(graft.dedup.Dedup.shingleTable(docs, "doc_id", "text", 3))
        }
        timed("  simhash_noop") {
          noop(graft.dedup.Dedup.simhash(docs))
        }
        timed("  simhash_pairs_noop") {
          noop(graft.dedup.Dedup.simhashPairs(docs, 3))
        }
      }),
      // ---- spectral + cc + density isolation
      "graph_misc" -> (() => timed("graph_misc") {
        val eThin = graft.io.Iterate.pin(
          graft.ingest.EdgeExtraction.cooccurrence(
            li.filter(col("l_quantity") <= 1), "l_suppkey", "l_partkey", 1000).toDF())
          .as[graft.model.Edge]
        timed("  spectral20") {
          noop(graft.algo.Spectral.wholeGraphVector(eThin, iters = 20)
            .select(col("id"), round(col("x"), 5).as("x")))
        }
        val e = graft.io.Iterate.pin(
          graft.ingest.EdgeExtraction.cooccurrence(li, "l_suppkey", "l_partkey", 1000).toDF())
          .as[graft.model.Edge]
        timed("  cc_dense") { noop(graft.algo.ConnectedComponents.run(e)) }
        timed("  density2jobs") { println("    d=" + graft.graph.GraphOps.density(e)) }
        timed("  merge_gain") {
          val alpha = graft.graph.GraphOps.density(e)
          val m0 = graft.graph.GraphOps.vertices(e)
            .select(col("id"), (col("id") % 3).as("community"))
          noop(graft.algo.Leiden.mergeGains(e, m0, alpha))
        }
        timed("  move1") {
          val alpha = graft.graph.GraphOps.density(e)
          val m0 = graft.graph.GraphOps.vertices(e)
            .select(col("id"), (col("id") % 3).as("community"))
          val (next, _, _) = graft.algo.Hedonic.step(
            graft.graph.GraphOps.symmetrize(e).select("src", "dst"), m0, alpha, lit(true))
          noop(next)
        }
      }),
      // ---- jaccard sub-steps
      "jaccard_steps" -> (() => timed("jaccard_steps") {
        import org.apache.spark.sql.expressions.Window
        val sh0 = graft.dedup.Dedup.shingleTable(docs, "doc_id", "text", 3)
        timed("  sh0") { noop(sh0) }
        val dfs = sh0.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") <= 1000)
        val sh = sh0.join(dfs, Seq("sh")).persist()
        timed("  sh_persist") { sh.count() }
        val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
        val pref = sh
          .withColumn("rk", row_number().over(
            Window.partitionBy("id").orderBy(col("df"), col("sh"))))
          .join(sizes, Seq("id"))
          .filter(col("rk") <= col("sz") - ceil(lit(0.4) * col("sz") - lit(1e-9)) + 1)
          .select(col("sh"), col("id"), col("sz"))
        timed("  pref") { noop(pref) }
        val cands = pref.select(col("sh"), col("id").as("ida"), col("sz").as("sza"))
          .join(pref.select(col("sh"), col("id").as("idb"), col("sz").as("szb")), Seq("sh"))
          .filter(col("ida") < col("idb"))
          .filter(lit(0.4) * greatest(col("sza"), col("szb")) - lit(1e-9)
            <= least(col("sza"), col("szb")))
          .select("ida", "idb", "sza", "szb").distinct()
        timed("  cands") { noop(cands) }
        val candsP = cands.persist()
        timed("  cands_count") { println("    cands=" + candsP.count()) }
        println("    sh_rows=" + sh.count())
        val inter = candsP
          .join(sh.select(col("id").as("ida"), col("sh")), Seq("ida"))
          .join(sh.select(col("id").as("idb"), col("sh")), Seq("idb", "sh"))
          .groupBy("ida", "idb", "sza", "szb").agg(count(lit(1)).as("inter"))
        timed("  inter_cached_cands") { noop(inter) }
        sh.unpersist(); candsP.unpersist()
      }),
      // ---- pagerank inner breakdown
      "pagerank_steps" -> (() => timed("pagerank_steps") {
        val e = graft.io.Iterate.pin(
          graft.ingest.EdgeExtraction.cooccurrence(li, "l_suppkey", "l_partkey", 1000).toDF())
          .as[graft.model.Edge]
        timed("  vertices_count") {
          val vt = graft.graph.GraphOps.vertices(e).select("id").persist()
          println("    v=" + vt.count()); vt.unpersist()
        }
        timed("  pack_build") {
          val sym = graft.graph.GraphOps.symmetrize(e).select("src", "dst")
          val p = graft.graph.PackedAdjacency.build(sym, "dst")
          println("    maxSegs=" + p.maxSegs + " degSum=" + p.degSum)
          p.unpersist()
        }
        timed("  run_timed") {
          val (out, ms) = graft.algo.PageRank.runTimed(e,
            graft.algo.PageRank.Config(fixedIter = Some(3)))
          noop(out.select(col("id"), round(col("rank"), 6).as("rank")))
          println("    iterMs=" + ms.mkString(","))
        }
      }),
      // ---- NEW-shape jaccard/containment decomposition (ranked cache)
      "dedup_steps2" -> (() => timed("dedup_steps2") {
        import org.apache.spark.sql.expressions.Window
        val t = 0.4
        val sh = graft.dedup.Dedup.shingleTable(docs, "doc_id", "text", 3)
          .repartition(col("sh"))
          .withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
          .filter(col("df") <= 1000)
          .withColumn("sz", count(lit(1)).over(Window.partitionBy("id")))
          .withColumn("rk", row_number().over(
            Window.partitionBy("id").orderBy(col("df"), col("sh"))))
          .select("id", "sh", "sz", "rk")
          .persist()
        timed("  cache_build") { println("    rows=" + sh.count()) }
        val pref = sh
          .filter(col("rk") <= col("sz") - ceil(lit(t) * col("sz") - lit(1e-9)) + 1)
          .select(col("sh"), col("id"), col("sz"), col("rk"))
        val cands = pref.select(col("sh"), col("id").as("ida"), col("sz").as("sza"),
            col("rk").as("rka"))
          .join(pref.select(col("sh"), col("id").as("idb"), col("sz").as("szb"),
            col("rk").as("rkb")), Seq("sh"))
          .filter(col("ida") < col("idb"))
          .filter(lit(t) * greatest(col("sza"), col("szb")) - lit(1e-9)
            <= least(col("sza"), col("szb")))
          .groupBy("ida", "idb", "sza", "szb")
          .agg(count(lit(1)).as("cnt"), max(col("rka")).as("ma"), max(col("rkb")).as("mb"))
          .filter(col("cnt") + least(col("sza") - col("ma"), col("szb") - col("mb"))
            >= lit(t) / (1.0 + t) * (col("sza") + col("szb")) - lit(1e-9))
          .select("ida", "idb", "sza", "szb").persist()
        timed("  cands") { println("    cands=" + cands.count()) }
        val inter = cands
          .join(sh.select(col("id").as("ida"), col("sh")), Seq("ida"))
          .join(sh.select(col("id").as("idb"), col("sh")), Seq("idb", "sh"))
          .groupBy("ida", "idb", "sza", "szb").agg(count(lit(1)).as("inter"))
        timed("  verify_join") { noop(inter) }
        sh.unpersist(); cands.unpersist()
      }),
      // ---- Leiden contraction: old two-slice shape vs diagonal fold, and
      // the full leiden_full query body, interleaved to cancel host drift
      "leiden_ab" -> (() => timed("leiden_ab") {
        val eThin = graft.io.Iterate.pin(
          graft.ingest.EdgeExtraction.cooccurrence(
            li.filter(col("l_quantity") <= 1), "l_suppkey", "l_partkey", 1000).toDF())
          .as[graft.model.Edge]
        val m0 = graft.graph.GraphOps.vertices(eThin)
          .select(col("id"), (col("id") % 3).as("community"))
        val alpha = graft.graph.GraphOps.density(eThin)
        def oldGains(): org.apache.spark.sql.DataFrame = {
          val m1 = m0.select(col("id").as("src"), col("community").as("c1"))
          val m2 = m0.select(col("id").as("dst"), col("community").as("c2"))
          val lifted = eThin.toDF().join(m1, Seq("src")).join(m2, Seq("dst"))
          val metaEdges = lifted.filter(col("c1") =!= col("c2"))
            .select(least(col("c1"), col("c2")).as("ca"),
              greatest(col("c1"), col("c2")).as("cb"))
            .groupBy("ca", "cb").agg(count(lit(1)).as("between"))
          val eIn = lifted.filter(col("c1") === col("c2"))
            .groupBy(col("c1").as("community")).agg(count(lit(1)).as("ein"))
          val stats = m0.groupBy("community").agg(count(lit(1)).as("n"))
            .join(eIn, Seq("community"), "left")
            .select(col("community"), col("n"), coalesce(col("ein"), lit(0L)).as("ein"))
          metaEdges
            .join(stats.select(col("community").as("ca"), col("n").as("na")), Seq("ca"))
            .join(stats.select(col("community").as("cb"), col("n").as("nb")), Seq("cb"))
            .withColumn("gain", col("between") - lit(alpha) * col("na") * col("nb"))
        }
        for (i <- 1 to 3) {
          timed(s"  gains_old_$i") { noop(oldGains()) }
          timed(s"  gains_new_$i") { noop(graft.algo.Leiden.mergeGains(eThin, m0, alpha)) }
        }
        for (i <- 1 to 2) {
          timed(s"  leiden_full_$i") {
            noop(graft.algo.Leiden.run(eThin, m0, levels = 2,
              hedonicCfg = graft.algo.Hedonic.Config(maxSupersteps = 30), mergeRounds = 10))
          }
        }
      }),
      // ---- containment sub-steps
      "containment_steps" -> (() => timed("containment_steps") {
        import org.apache.spark.sql.expressions.Window
        val t = 0.6
        val sh0 = graft.dedup.Dedup.shingleTable(docs, "doc_id", "text", 3)
        val dfs = sh0.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") <= 1000)
        val sh = sh0.join(dfs, Seq("sh")).persist()
        val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
        val ranked = sh
          .withColumn("rk", row_number().over(
            Window.partitionBy("id").orderBy(col("df"), col("sh"))))
          .join(sizes, Seq("id"))
        val pref = ranked
          .filter(col("rk") <= col("sz") - ceil(lit(t) * col("sz") - lit(1e-9)) + 1)
          .select(col("sh"), col("id"), col("sz"), col("rk"))
        timed("  ranked") { noop(ranked) }
        val raw = pref.select(col("sh"), col("id").as("ida"), col("sz").as("sza"),
            col("rk").as("rka"))
          .join(ranked.select(col("sh"), col("id").as("idb"), col("sz").as("szb"),
            col("rk").as("rkb")), Seq("sh"))
          .filter(col("ida") =!= col("idb"))
        timed("  raw_count") { println("    raw=" + raw.count()) }
        val cands = raw
          .groupBy("ida", "idb", "sza", "szb")
          .agg(count(lit(1)).as("cnt"), max(col("rka")).as("ma"), max(col("rkb")).as("mb"))
          .filter(lit(t) * col("sza") - lit(1e-9) <= col("szb"))
          .filter(col("cnt") + least(col("sza") - col("ma"), col("szb") - col("mb"))
            >= lit(t) * col("sza") - lit(1e-9))
          .select("ida", "idb", "sza")
        val candsP = cands.persist()
        timed("  cands_count") { println("    cands=" + candsP.count()) }
        val inter = candsP
          .join(sh.select(col("id").as("ida"), col("sh")), Seq("ida"))
          .join(sh.select(col("id").as("idb"), col("sh")), Seq("idb", "sh"))
          .groupBy("ida", "idb", "sza").agg(count(lit(1)).as("inter"))
        timed("  inter") { noop(inter) }
        sh.unpersist(); candsP.unpersist()
      }),
      // ---- one-shot gather family: inner costs after the extraction pin
      "gather_family" -> (() => timed("gather_family") {
        val e = graft.io.Iterate.pin(
          graft.ingest.EdgeExtraction.cooccurrence(li, "l_suppkey", "l_partkey", 1000).toDF())
          .as[graft.model.Edge]
        val eS = graft.io.Iterate.pin(
          graft.ingest.EdgeExtraction.cooccurrence(li, "l_suppkey", "l_orderkey", 1000).toDF())
          .as[graft.model.Edge]
        def m0(ed: org.apache.spark.sql.Dataset[graft.model.Edge]) =
          graft.graph.GraphOps.vertices(ed).select(col("id"), (col("id") % 3).as("community"))
        val symD = graft.graph.GraphOps.symmetrize(e).select("src", "dst")
        val symS = graft.graph.GraphOps.symmetrize(eS).select("src", "dst")
        timed("  gather_inner") { noop(graft.algo.Hedonic.gather(symD, m0(e))) }
        timed("  payoff_inner") {
          val alpha = graft.graph.GraphOps.density(e)
          noop(graft.algo.Hedonic.payoffs(symD, m0(e), alpha)
            .select(col("id"), col("community"), col("friends"), col("strangers"),
              round(col("payoff"), 6).as("payoff")))
        }
        timed("  satisfaction_inner") { noop(graft.eval.Metrics.satisfaction(e, m0(e))) }
        timed("  robustness_inner") {
          println("    rob=" + graft.eval.Metrics.robustness(e, m0(e)))
        }
        timed("  spectrum_inner") {
          noop(graft.eval.Metrics.resolutionSpectrum(e, m0(e), (0 to 10).map(_ / 10.0))
            .select(col("alpha"), round(col("equilibrium_fraction"), 6).as("equilibrium_fraction")))
        }
        timed("  onepass_inner") { noop(graft.algo.Hedonic.onePass(symS, m0(eS))) }
        timed("  wanting_inner") { noop(graft.algo.Hedonic.wantingToMove(symS, m0(eS))) }
        timed("  stability_inner") {
          noop(graft.algo.Hedonic.communityStability(symS, m0(eS), 0L))
        }
      }),
      // ---- gather family: plain m0 (distinct re-derived per reference)
      // vs pinned m0 (one distinct job, every reference scans the cache)
      "m0pin_ab" -> (() => timed("m0pin_ab") {
        val e = graft.io.Iterate.pin(
          graft.ingest.EdgeExtraction.cooccurrence(li, "l_suppkey", "l_partkey", 1000).toDF())
          .as[graft.model.Edge]
        val symD = graft.graph.GraphOps.symmetrize(e).select("src", "dst")
        def m0 = graft.graph.GraphOps.vertices(e)
          .select(col("id"), (col("id") % 3).as("community"))
        def payoffOut(m: org.apache.spark.sql.DataFrame) = {
          val alpha = graft.graph.GraphOps.density(e)
          graft.algo.Hedonic.payoffs(symD, m, alpha)
            .select(col("id"), col("community"), col("friends"), col("strangers"),
              round(col("payoff"), 6).as("payoff"))
        }
        timed("  payoff_plain") { noop(payoffOut(m0)) }
        timed("  payoff_m0pin") { noop(payoffOut(graft.io.Iterate.pin(m0))) }
        timed("  spectrum_plain") {
          noop(graft.eval.Metrics.resolutionSpectrum(e, m0, (0 to 10).map(_ / 10.0)))
        }
        timed("  spectrum_m0pin") {
          noop(graft.eval.Metrics.resolutionSpectrum(e, graft.io.Iterate.pin(m0),
            (0 to 10).map(_ / 10.0)))
        }
        timed("  satisfaction_plain") { noop(graft.eval.Metrics.satisfaction(e, m0)) }
        timed("  satisfaction_m0pin") {
          noop(graft.eval.Metrics.satisfaction(e, graft.io.Iterate.pin(m0)))
        }
      }),
      // ---- lpa1: plan-side step vs map-state one-shot A/B
      "lpa1_ab" -> (() => timed("lpa1_ab") {
        val e = graft.io.Iterate.pin(
          graft.ingest.EdgeExtraction.cooccurrence(li, "l_suppkey", "l_partkey", 1000).toDF())
          .as[graft.model.Edge]
        val labels = graft.graph.GraphOps.vertices(e)
          .select(col("id"), (col("id") % 3).as("label"))
        val symP = graft.graph.GraphOps.symmetrize(e).select("src", "dst")
        val symW = graft.graph.GraphOps.symmetrize(e)
        timed("  step_plain") {
          noop(graft.algo.LabelPropagation.step(symP, labels)
            .select(col("id"), col("bestLabel").as("label")))
        }
        timed("  best_oneshot") {
          noop(graft.algo.LabelPropagation.bestLabels(symP, labels)
            .select(col("id"), col("bestLabel").as("label")))
        }
        timed("  wstep_plain") {
          noop(graft.algo.LabelPropagation.step(symW, labels, weighted = true)
            .select(col("id"), col("bestLabel").as("label")))
        }
        timed("  wbest_oneshot") {
          noop(graft.algo.LabelPropagation.bestLabels(symW, labels, weighted = true)
            .select(col("id"), col("bestLabel").as("label")))
        }
      }),
      // ---- gather micro-decomposition
      "gather_micro" -> (() => timed("gather_micro") {
        val e = graft.io.Iterate.pin(
          graft.ingest.EdgeExtraction.cooccurrence(li, "l_suppkey", "l_partkey", 1000).toDF())
          .as[graft.model.Edge]
        val m0 = graft.graph.GraphOps.vertices(e)
          .select(col("id"), (col("id") % 3).as("community"))
        val symD = graft.graph.GraphOps.symmetrize(e).select("src", "dst")
        timed("  scan_pin") { noop(e.toDF()) }
        timed("  sym_noop") { noop(symD) }
        timed("  m0_noop") { noop(m0) }
        timed("  join_noop") {
          noop(symD.join(m0.select(col("id").as("dst"), col("community")), Seq("dst"))
            .select(col("src").as("id"), col("community")))
        }
        timed("  join_agg_noop") {
          noop(symD.join(m0.select(col("id").as("dst"), col("community")), Seq("dst"))
            .select(col("src").as("id"), col("community"))
            .groupBy("id", "community").agg(count(lit(1)).as("friends")))
        }
        timed("  full_gather") { noop(graft.algo.Hedonic.gather(symD, m0)) }
        timed("  full_gather2") { noop(graft.algo.Hedonic.gather(symD, m0)) }
      }),
      // ---- gather: plain vs broadcast-members A/B
      "gather_bcast_ab" -> (() => timed("gather_bcast_ab") {
        val e = graft.io.Iterate.pin(
          graft.ingest.EdgeExtraction.cooccurrence(li, "l_suppkey", "l_partkey", 1000).toDF())
          .as[graft.model.Edge]
        val m0 = graft.graph.GraphOps.vertices(e)
          .select(col("id"), (col("id") % 3).as("community"))
        val symD = graft.graph.GraphOps.symmetrize(e).select("src", "dst")
        timed("  gather_plain") { noop(graft.algo.Hedonic.gather(symD, m0)) }
        timed("  gather_bcast") {
          // inline gather with the members side explicitly broadcast
          val nbrComm = broadcast(m0.select(col("id").as("dst"), col("community")))
          val friendRows = symD.join(nbrComm, Seq("dst"))
            .select(col("src").as("id"), col("community"), lit(1L).cast("double").as("friends"))
          noop(friendRows
            .unionByName(m0.select(col("id"), col("community"), lit(0.0).as("friends")))
            .groupBy("id", "community").agg(sum("friends").as("friends"))
            .withColumn("friends", col("friends").cast("long")))
        }
        timed("  gather_plain2") { noop(graft.algo.Hedonic.gather(symD, m0)) }
        timed("  gather_bcast2") {
          val nbrComm = broadcast(m0.select(col("id").as("dst"), col("community")))
          val friendRows = symD.join(nbrComm, Seq("dst"))
            .select(col("src").as("id"), col("community"), lit(1L).cast("double").as("friends"))
          noop(friendRows
            .unionByName(m0.select(col("id"), col("community"), lit(0.0).as("friends")))
            .groupBy("id", "community").agg(sum("friends").as("friends"))
            .withColumn("friends", col("friends").cast("long")))
        }
      }),
      // ---- q_move1 A/B: one ungated superstep via run() (pack build +
      // dense-index kernel) vs a map-state one-shot that skips the pack
      // (stepPlanMap over the symmetrized rows, state as broadcast maps).
      "move1_ab" -> (() => timed("move1_ab") {
        import graft.util.StateMap
        val e = graft.io.Iterate.pin(
          graft.ingest.EdgeExtraction.cooccurrence(li, "l_suppkey", "l_partkey", 1000).toDF())
          .as[graft.model.Edge]
        val m0 = graft.graph.GraphOps.vertices(e)
          .select(col("id"), (col("id") % 3).as("community"))
        timed("  via_run") {
          val (next, _) = graft.algo.Hedonic.run(e, m0,
            graft.algo.Hedonic.Config(maxSupersteps = 1, parityGating = false))
          noop(next)
        }
        timed("  map_oneshot") {
          val spark2 = e.sparkSession
          val alpha = graft.graph.GraphOps.density(e)
          val init = m0.collect()
          val n = init.length
          val ids = new Array[Long](n); val comms = new Array[Long](n)
          val idx = new scala.collection.mutable.LongMap[Int](n * 2)
          val sizes = new scala.collection.mutable.LongMap[Long]()
          var i = 0
          while (i < n) {
            ids(i) = init(i).getLong(0); comms(i) = init(i).getLong(1)
            idx(ids(i)) = i
            sizes(comms(i)) = sizes.getOrElse(comms(i), 0L) + 1L
            i += 1
          }
          val sc = spark2.sparkContext
          val commR = new StateMap.Ref(sc.broadcast(StateMap.longLong(ids, comms, n)))
          val sizeR = new StateMap.Ref(sc.broadcast(StateMap.longLong(sizes)))
          val sym = graft.graph.GraphOps.symmetrize(e).select("src", "dst")
          val rows = graft.algo.Hedonic.stepPlanMap(sym, commR, sizeR, alpha, lit(true))
            .collect()
          var k = 0
          while (k < rows.length) {
            val r = rows(k)
            idx.get(r.getLong(0)).foreach { at =>
              if (r.getBoolean(2)) comms(at) = r.getLong(1)
            }
            k += 1
          }
          println(s"    movers=${rows.length}")
          noop(graft.algo.Superstep.frame(spark2, ids, "community", comms))
        }
      }),
      // ---- containment candidate-count A/B (deterministic, noise-free):
      // old candidate rule (distinct + size prune) vs new (groupBy + the
      // one-sided positional bound) over the same ranked shingle cache.
      "containment_cands" -> (() => timed("containment_cands") {
        import org.apache.spark.sql.expressions.Window
        val t = 0.6
        val sh = graft.dedup.Dedup.shingleTable(docs, "doc_id", "text", 3)
          .repartition(col("sh"))
          .withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
          .filter(col("df") <= 1000)
          .withColumn("sz", count(lit(1)).over(Window.partitionBy("id")))
          .withColumn("rk", row_number().over(
            Window.partitionBy("id").orderBy(col("df"), col("sh"))))
          .select("id", "sh", "sz", "rk")
          .persist()
        val pref = sh
          .filter(col("rk") <= col("sz") - ceil(lit(t) * col("sz") - lit(1e-9)) + 1)
          .select(col("sh"), col("id"), col("sz"))
        val joined = pref.select(col("sh"), col("id").as("ida"), col("sz").as("sza"))
          .join(sh.select(col("sh"), col("id").as("idb"), col("sz").as("szb"),
            col("rk").as("rkb")), Seq("sh"))
          .filter(col("ida") =!= col("idb"))
          .filter(lit(t) * col("sza") - lit(1e-9) <= col("szb"))
        val old = joined.select("ida", "idb").distinct().count()
        val nw = joined
          .groupBy("ida", "idb", "sza", "szb")
          .agg(count(lit(1)).as("cnt"), max(col("rkb")).as("mb"))
          .filter(col("cnt") + least(
              ceil(lit(t) * col("sza") - lit(1e-9)) - 1,
              col("szb") - col("mb"))
            >= lit(t) * col("sza") - lit(1e-9))
          .count()
        println(s"    cands old=$old new=$nw")
        sh.unpersist()
      }),
      // ---- extraction sub-steps (dense part graph)
      "extract_steps" -> (() => timed("extract_steps") {
        val rp = li.select(col("l_suppkey").cast("long").as("id"),
          col("l_partkey").as("pk")).distinct()
        timed("  rp_distinct") { noop(rp) }
        val fanout = rp.groupBy("pk").agg(count(lit(1)).as("k"))
        val kept = rp.join(fanout.filter(col("k") <= 1000).select("pk"), Seq("pk"))
        timed("  kept") { noop(kept) }
        val a = kept.select(col("pk"), col("id").as("src"))
        val b = kept.select(col("pk"), col("id").as("dst"))
        val pairs = a.join(b, Seq("pk")).filter(col("src") < col("dst"))
        timed("  pairs_preagg") { noop(pairs) }
        timed("  pairs_agg") {
          noop(pairs.groupBy("src", "dst").agg(count(lit(1)).cast("double").as("weight")))
        }
      })
    )

    val picks = if (args.nonEmpty) args(0).split(",").map(_.trim).toSeq else probes.keys.toSeq.sorted
    picks.foreach { p =>
      probes.get(p) match {
        case Some(f) => f(); purge()
        case None => System.err.println(s"[extra] unknown probe $p")
      }
    }
    spark.stop()
  }
}
