package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.graph.GraphOps
import graft.ingest.{EdgeExtraction, RepoTable}
import graft.model.Edge

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  test("canonicalize: swaps, drops self-loops, merges duplicates") {
    val raw = Seq((2L, 1L, 1.0), (1L, 2L, 2.0), (3L, 3L, 1.0), (1L, 4L, 1.0))
      .toDF("src", "dst", "weight")
    val e = GraphOps.canonicalize(raw).collect().sortBy(x => (x.src, x.dst))
    assert(e.map(x => (x.src, x.dst, x.weight)).toSeq ==
      Seq((1L, 2L, 3.0), (1L, 4L, 1.0)))
  }

  test("degrees and density on a triangle + pendant") {
    val e = edgesOf(Seq((0, 1), (1, 2), (0, 2), (2, 3)))
    val deg = GraphOps.degrees(e).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(deg == Map(0L -> 2, 1L -> 2, 2L -> 3, 3L -> 1))
    // V=4, E=4 => density = 2*4/(4*3) = 2/3
    assert(math.abs(GraphOps.density(e) - 2.0 / 3.0) < 1e-12)
  }

  test("symmetrize doubles rows; vertices are edge-derived") {
    val e = edgesOf(Seq((0, 1), (1, 2)))
    assert(GraphOps.symmetrize(e).count() == 4)
    assert(toMap(GraphOps.vertices(e).select(col("id"), col("id"))).keySet == Set(0L, 1L, 2L))
  }

  test("adjacency packs sorted neighbor arrays") {
    val e = edgesOf(Seq((0, 1), (0, 2), (1, 2)))
    val adj = GraphOps.adjacency(e).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(adj(0L) == Seq(1L, 2L) && adj(1L) == Seq(0L, 2L) && adj(2L) == Seq(0L, 1L))
  }
}

class EdgeExtractionSpec extends SparkSpec {
  import spark.implicits._

  test("co-occurrence: weight = number of shared paths, canonical src<dst") {
    // repos 1,2 share paths a,b; repos 2,3 share c; repo 4 alone.
    val files = Seq(
      (1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"), (2L, "c"), (3L, "c"), (4L, "z")
    ).toDF("id", "pk")
    val e = EdgeExtraction.cooccurrence(files, "id", "pk")
      .collect().map(x => (x.src, x.dst) -> x.weight).toMap
    assert(e == Map((1L, 2L) -> 2.0, (2L, 3L) -> 1.0))
  }

  test("hub-path fanout cap drops stopword-like paths, observable via hubPathCount") {
    // path "hub" shared by 5 repos, path "p" by 2.
    val rows = (1L to 5L).map(i => (i, "hub")) :+ (1L, "p") :+ (2L, "p")
    val files = rows.toDF("id", "pk")
    assert(EdgeExtraction.hubPathCount(
      files.select(col("id").as("repo"), col("pk").as("path")), 3) == 1L)
    val e = EdgeExtraction.cooccurrence(files, "id", "pk", maxPathFanout = 3)
      .collect().map(x => (x.src, x.dst)).toSet
    assert(e == Set((1L, 2L))) // only the non-hub path contributes
  }

  test("sha256 invariant: stamped per row, preserved through edge extraction") {
    val cfg = RepoTable.Config(nBlocks = 2, reposPerBlock = 5, pathsPerBlock = 5,
      pIn = 0.9, pOut = 0.1, seed = 7L)
    val files = RepoTable.withSha(RepoTable.generate(spark, cfg)).cache()
    // invariant: sha == sha2(content,256) on every row
    assert(files.filter(col("sha") =!= sha2(col("content"), 256)).count() == 0)
    val (verts, edges) = EdgeExtraction.extract(files, dense = true)
    assert(edges.count() > 0)
    // extraction must not mutate the file table: same row count, same sha set
    val before = files.select("sha").as[String].collect().sorted.toSeq
    val after = RepoTable.withSha(files.drop("sha")).select("sha").as[String]
      .collect().sorted.toSeq
    assert(before == after)
    // dense ids are 0..V-1
    val ids = verts.select("id").as[Long].collect().sorted.toSeq
    assert(ids == (0L until ids.length).toSeq)
    files.unpersist()
  }

  test("sparse generator: deterministic, planted structure, calibrated cross density") {
    val cfg = RepoTable.Config(nBlocks = 4, reposPerBlock = 25, pathsPerBlock = 20,
      pIn = 0.5, pOut = 0.02, seed = 3L)
    val a = RepoTable.generateSparse(spark, cfg, foreignSample = 16)
    val b = RepoTable.generateSparse(spark, cfg, foreignSample = 16)
    assert(a.orderBy("repo", "path").collect().toSeq ==
      b.orderBy("repo", "path").collect().toSeq)
    // planted structure: same-block (repo, path) cells dominate
    val withBlocks = a.select(
      regexp_extract(col("repo"), "^org(\\d+)/", 1).cast("long").as("rb"),
      regexp_extract(col("path"), "^src/b(\\d+)/", 1).cast("long").as("pb"))
    val intra = withBlocks.filter(col("rb") === col("pb")).count()
    val cross = withBlocks.filter(col("rb") =!= col("pb")).count()
    // E[intra] = 100*20*0.5 = 1000; E[cross] = 100*80*0.02 = 160
    assert(intra > 700 && intra < 1300, s"intra=$intra")
    assert(cross > 60 && cross < 320, s"cross=$cross")
    // the sparse and dense generators agree on schema
    assert(a.schema == RepoTable.generate(spark, cfg).schema)
  }

  test("generator is deterministic and plants block structure") {
    val cfg = RepoTable.Config(nBlocks = 2, reposPerBlock = 10, pathsPerBlock = 10,
      pIn = 0.7, pOut = 0.05, seed = 11L)
    val a = RepoTable.generate(spark, cfg).orderBy("repo", "path").collect()
    val b = RepoTable.generate(spark, cfg).orderBy("repo", "path").collect()
    assert(a.toSeq == b.toSeq)
    val gt = RepoTable.groundTruth(RepoTable.generate(spark, cfg), cfg)
    assert(toMap(gt).values.toSet == Set(0L, 1L))
  }

  // ------------------------------------------------ streaming pair pass

  /** The self-join + window formulation `cooccurrence` used before the
    * streaming pair pass — kept here as the identity oracle only. */
  private def selfJoinOracle(files: DataFrame, idCol: String, pathCol: String,
                             cap: Int): Seq[(Long, Long, Double)] = {
    import org.apache.spark.sql.expressions.Window
    val kept = files
      .select(col(idCol).cast("long").as("id"), col(pathCol).as("pk"))
      .repartition(col("pk"))
      .dropDuplicates("id", "pk")
      .withColumn("k", count(lit(1)).over(Window.partitionBy("pk")))
      .filter(col("k") <= cap)
    val a = kept.select(col("pk"), col("id").as("src"))
    val b = kept.select(col("pk"), col("id").as("dst"))
    rowsOf(a.join(b, Seq("pk"))
      .filter(col("src") < col("dst"))
      .groupBy("src", "dst")
      .agg(count(lit(1)).cast("double").as("weight"))
      .as[Edge])
  }

  private def rowsOf(e: Dataset[Edge]): Seq[(Long, Long, Double)] =
    e.collect().map(x => (x.src, x.dst, x.weight)).toSeq.sorted

  private def withShufflePartitions[T](n: Int)(body: => T): T = {
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", old)
  }

  private val cap = 6

  /** Random (id, path-number) rows: path groups of cap-1, cap, cap+1 and
    * 50*cap distinct ids (each also with a null id and with duplicates),
    * random small groups over a shared id pool (so pairs recur and weights
    * exceed 1), duplicate rows, null ids and null paths. */
  private def randomRows(seed: Long): Seq[(Option[Long], Option[Int])] = {
    val rnd = new scala.util.Random(seed)
    val pool = Vector.fill(40)(rnd.nextLong() >> rnd.nextInt(60))
    def ids(k: Int) = rnd.shuffle(pool ++ Vector.fill(50 * cap)(rnd.nextLong())).distinct.take(k)
    val sizes = Seq(cap - 1, cap, cap + 1, 50 * cap)
    val boundary = sizes.zipWithIndex.flatMap { case (k, g) =>
      val plain = ids(k).map(i => (Option(i), Option(g)))
      val nulled = (None +: ids(k).map(Option(_))).map(i => (i, Option(100 + g)))
      val duped = ids(k).flatMap(i => Seq.fill(1 + rnd.nextInt(3))((Option(i), Option(200 + g))))
      plain ++ nulled ++ duped
    }
    val small = (0 until 60).flatMap { g =>
      Seq.fill(1 + rnd.nextInt(cap + 2)) {
        (if (rnd.nextInt(15) == 0) None else Some(pool(rnd.nextInt(pool.size))),
          Option(1000 + g))
      }
    }
    val nullPaths = pool.take(5).map(i => (Option(i), Option.empty[Int]))
    rnd.shuffle(boundary ++ small ++ nullPaths ++ small.take(20))
  }

  test("streaming pair pass matches the self-join formulation row for row") {
    withShufflePartitions(5) {
      for (seed <- 1L to 4L) {
        val rows = randomRows(seed)
        val byLong = rows.map { case (i, p) => (i, p.map(_.toLong * 7919L - 3L)) }
          .toDF("id", "pk")
        val byString = rows.map { case (i, p) => (i, p.map(g => s"src/p$g.scala")) }
          .toDF("id", "pk")
        for (files <- Seq(byLong, byString); c <- Seq(cap, cap - 1, 1, 0)) {
          val got = rowsOf(EdgeExtraction.cooccurrence(files, "id", "pk", c))
          assert(got == selfJoinOracle(files, "id", "pk", c),
            s"seed=$seed cap=$c pk=${files.schema("pk").dataType}")
          if (c == cap) assert(got.exists(_._3 > 1.0) && got.size > 50)
        }
      }
    }
  }

  test("extract (hash ids): inline ids equal hashVertexIds ids, null repos drop out") {
    withShufflePartitions(3) {
      val rows = randomRows(11L).map { case (i, p) =>
        (i.map(x => s"org/r${x & 31}"), p.map(g => s"lib/f$g.py"))
      }
      val files = rows.toDF("repo", "path")
      assert(files.filter(col("repo").isNull).count() > 0)
      val (verts, edges) = EdgeExtraction.extract(files, maxPathFanout = cap)
      val hashed = EdgeExtraction.hashVertexIds(files)
      assert(verts.collect().toSeq.map(_.toString).sorted ==
        hashed.collect().toSeq.map(_.toString).sorted)
      val got = rowsOf(edges)
      // the old extraction: an inner join to the hash vertex table
      assert(got == selfJoinOracle(files.join(hashed, Seq("repo")), "id", "path", cap))
      val nullId = hashed.filter(col("repo").isNull).select("id").as[Long].head()
      assert(got.nonEmpty && !got.exists(e => e._1 == nullId || e._2 == nullId))
    }
  }

  test("hubPathCount equals the number of path groups the pass drops") {
    val rows = randomRows(21L).collect { case (Some(i), p) => (i, p) }
    val files = rows.toDF("repo", "path")
    for (c <- Seq(cap - 1, cap, cap + 1)) {
      val dropped = rows.collect { case (i, Some(p)) => (p, i) }
        .groupBy(_._1).count { case (_, m) => m.map(_._2).distinct.size > c }
      assert(dropped > 0)
      assert(EdgeExtraction.hubPathCount(files, c) == dropped.toLong, s"cap=$c")
    }
  }

  test("plan: one pk exchange, one (src, dst) exchange, no join, window or broadcast") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    // bottom-up shuffle keys, and the count of joins, windows and broadcasts
    def shape(df: DataFrame): (Seq[Seq[String]], Int) = {
      def walk(p: SparkPlan): (Seq[Seq[String]], Int) = {
        val below = p.children.map(walk)
        val keys = below.flatMap(_._1)
        val bad = below.map(_._2).sum
        p match {
          case s: ShuffleExchangeExec =>
            (keys :+ s.outputPartitioning.asInstanceOf[
              org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]
              .expressions.flatMap(_.references.map(_.name)), bad)
          case _: BaseJoinExec | _: WindowExec | _: BroadcastExchangeExec => (keys, bad + 1)
          case _ => (keys, bad)
        }
      }
      walk(df.queryExecution.executedPlan)
    }
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val rows = randomRows(31L)
      val cooc = EdgeExtraction.cooccurrence(rows.toDF("id", "pk"), "id", "pk", cap)
      val files = rows.map { case (i, p) =>
        (i.map(x => s"org/r${x & 31}"), p.map(g => s"lib/f$g.py"))
      }.toDF("repo", "path")
      val (_, edges) = EdgeExtraction.extract(files, maxPathFanout = cap)
      val expected = (Seq(Seq("pk"), Seq("src", "dst")), 0)
      assert(shape(cooc.toDF()) == expected, cooc.queryExecution.executedPlan.toString)
      assert(shape(edges.toDF()) == expected, edges.queryExecution.executedPlan.toString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }
}
