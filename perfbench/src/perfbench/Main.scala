package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.algo.{ConnectedComponents, Hedonic, LabelPropagation, PageRank, TriangleCount}
import graft.graph.{GraphOps, PackedAdj, PackedAdjacency}
import graft.ingest.{EdgeExtraction, RepoTable}
import graft.model.Edge

/** Link-graph benchmark: one workload per run, driven through the engine's
  * public functions only. Prints every metric by name with its unit and, as
  * the last line of stdout, one JSON object
  * `{"correct", "attempted", "failed", "metrics"}`.
  *
  * Usage: Main --workload <repo-pipeline|superstep-loop|shuffle-state>
  *   --seed <n> --seconds <s> --trace <0|1> [--blocks <n>] [--work-dir <dir>]
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        blocks: Int, workDir: String)

  val Workloads: Seq[String] = Seq("repo-pipeline", "superstep-loop", "shuffle-state")

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val workload = kv.getOrElse("workload", "")
    require(Workloads.contains(workload), s"unknown workload '$workload'; one of " +
      Workloads.mkString(", "))
    val args = Args(workload, kv.getOrElse("seed", "1").toLong,
      kv.getOrElse("seconds", "10").toInt, kv.getOrElse("trace", "0") == "1",
      kv.getOrElse("blocks", "10").toInt, kv.getOrElse("work-dir", "perfbench-work"))
    println(new Bench(args).run())
  }
}

/** One benchmark run. Set-up is made `SetupRounds` times (each in a fresh
  * Spark session) and its median reported; then the workload's operation
  * repeats until `seconds` have passed (at least `MinReps` times). Output
  * checks run after each operation, outside its timing. */
final class Bench(a: Main.Args) {
  private val SetupRounds = 3
  private val MinReps = 2
  private val PageRankIters = 10

  private val trace = new Trace(a.trace)
  private val heap = new HeapPeak
  private var spark: SparkSession = _
  private def sc = spark.sparkContext
  private val cores = math.min(4, Runtime.getRuntime.availableProcessors())
  private val repoCfg = RepoTable.Config(nBlocks = a.blocks, reposPerBlock = 100,
    pathsPerBlock = 200, pIn = 0.2, pOut = 0.0005, seed = a.seed)

  // end-to-end samples, per-layer samples from return values, run counters
  private val e2e = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private val layer = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private var attempted = 0
  private var failed = 0
  private val info = ArrayBuffer.empty[String]
  private val firstHash = mutable.HashMap.empty[String, Int]
  private var checking = true

  private def sample(m: mutable.Map[String, ArrayBuffer[Double]], k: String, v: Double): Unit =
    m.getOrElseUpdate(k, ArrayBuffer.empty) += v

  // ---------------------------------------------------------------- session

  private def startSession(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.local.dir", abs("spark-local"))
      .config("spark.sql.warehouse.dir", abs("warehouse"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.task.maxDirectResultSize", "64m")
      .config("spark.sql.inMemoryColumnarStorage.batchSize", "1024")
      // Adaptive execution re-plans after every exchange and so splits each
      // shuffle stage into its own job: on inputs this size that driver
      // round trip, not the engine, was most of every operation's time.
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    sc.setLogLevel("WARN")
    trace.attach(sc)
  }

  private def abs(sub: String): String =
    Paths.get(a.workDir, sub).toAbsolutePath.normalize.toString

  // ------------------------------------------------------------ operations

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Times `body` as one call into `layerName`. */
  private def timed[T](layerName: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = trace.span(sc, layerName)(body)
    (r, secs(t0))
  }

  /** Counts one operation: it fails when any check is false or throws. */
  private def checked(op: String)(checks: => Seq[(Boolean, String)]): Unit = if (checking) {
    attempted += 1
    val saved = trace.scope
    trace.scope = Some("check")
    val bad =
      try checks.collect { case (false, what) => what }
      catch { case e: Exception => Seq(s"check threw $e") }
      finally trace.scope = saved
    if (bad.nonEmpty) {
      failed += 1
      bad.foreach(w => System.err.println(s"CHECK FAILED [${a.workload}/$op] $w"))
    }
  }

  /** Output hash must repeat across repetitions of one seed. */
  private def sameAsFirst(key: String, h: Int): (Boolean, String) = {
    val first = firstHash.getOrElseUpdate(key, h)
    (first == h, s"$key output hash $h differs from first repetition's $first")
  }

  private def hashLL(xs: Array[(Long, Long)]): Int =
    scala.util.hashing.MurmurHash3.arrayHash(xs.flatMap { case (x, y) => Array(x, y) })
  private def hashLD(xs: Array[(Long, Double)]): Int =
    scala.util.hashing.MurmurHash3.arrayHash(
      xs.flatMap { case (x, y) => Array(x, java.lang.Double.doubleToLongBits(y)) })

  private def collectLL(df: DataFrame): Array[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
  private def collectLD(df: DataFrame): Array[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)

  // ---------------------------------------------------------------- inputs

  final case class Graph(edges: Dataset[Edge], nEdges: Long, nVerts: Long, alpha: Double,
                         init: DataFrame, release: () => Unit)

  /** The sha-stamped repo table, materialized. */
  private def generate(cfg: RepoTable.Config, check: Boolean): (DataFrame, Long) = {
    val ((files, n), _) = timed("ingest.gen") {
      val f = RepoTable.withSha(RepoTable.generateSparse(spark, cfg)).persist()
      (f, f.count())
    }
    if (check) checked("ingest.gen") { Seq(
      (n > 0, "empty repo table"),
      (files.filter(col("sha") =!= sha2(col("content"), 256)).count() == 0,
        "rows whose sha is not sha256(content)")) }
    (files, n)
  }

  /** Repo table -> the graph the algorithms consume: the materialized edge
    * table and its vertex set (the singleton init). */
  private def extract(files: DataFrame, check: Boolean): Graph = {
    val ((edges, nEdges, verts, nVerts), t) = timed("ingest.extract") {
      val e = EdgeExtraction.extract(files)._2.persist()
      val n = e.count()
      val v = GraphOps.vertices(e).persist()
      (e, n, v, v.count())
    }
    sample(e2e, "extract_s", t)
    sample(layer, "ingest.extract.edges", nEdges.toDouble)
    if (check) checked("ingest.extract") { Seq(
      (nEdges > 0, "no edges"),
      (edges.filter(col("src") >= col("dst")).count() == 0, "edge with src >= dst"),
      (edges.select("src", "dst").distinct().count() == nEdges, "duplicate edge")) }
    // The same density formula Hedonic.run applies when alpha is unset.
    val alpha = if (nVerts < 2) 0.0 else 2.0 * nEdges / (nVerts.toDouble * (nVerts - 1))
    Graph(edges, nEdges, nVerts, alpha, verts.select(col("id"), col("id").as("community")),
      () => { verts.unpersist(); edges.unpersist(); () })
  }

  private def pack(g: Graph): PackedAdj = timed("graph.pack") {
    PackedAdjacency.build(GraphOps.symmetrize(g.edges).select("src", "dst"), "src",
      partitions = Some(cores), cachePartitions = Some(cores))
  }._1

  // ------------------------------------------------------------- algorithms

  final case class Outputs(members: Array[(Long, Long)], ranks: Array[(Long, Double)],
                           labels: Array[(Long, Long)], comps: Array[(Long, Long)])

  /** How the algorithms are called. `Defaults` is the plain user job
    * (density alpha, PageRank to tolerance, each algorithm packing its own
    * adjacency); the others pass the set-up's alpha, run PageRank for a
    * fixed iteration count, and pick the strategy: broadcast state over one
    * shared pack, or co-partitioned shuffle state. */
  sealed trait Strategy
  case object Defaults extends Strategy
  final case class Shared(p: PackedAdj) extends Strategy
  case object ShuffleState extends Strategy

  private def hedonic(g: Graph, st: Strategy, ckptDir: Option[String]): (Array[(Long, Long)], Double) = {
    val cfg0 = Hedonic.Config(checkpointDir = ckptDir, packPartitions = Some(cores),
      cachePartitions = Some(cores))
    val ((members, ms), t) = timed("algo.hedonic") {
      val (m, ms) = st match {
        case Defaults     => Hedonic.run(g.edges, g.init, cfg0)
        case Shared(p)    => Hedonic.run(g.edges, g.init, cfg0.copy(alpha = Some(g.alpha)), Some(p))
        case ShuffleState => Hedonic.run(g.edges, g.init,
          cfg0.copy(alpha = Some(g.alpha), broadcastStateMaxRows = 0L))
      }
      (collectLL(m), ms)
    }
    val steps = ms.size
    val loop = ms.map(_.wallMs).sum / 1e3
    sample(layer, "algo.hedonic.supersteps", steps)
    sample(layer, "algo.hedonic.loop_s", loop)
    sample(layer, "algo.hedonic.prologue_s", t - loop)
    sample(layer, "algo.hedonic.step_ms", if (steps > 0) loop * 1e3 / steps else 0.0)
    sample(layer, "algo.hedonic.moved", ms.map(_.moved).sum.toDouble)
    sample(e2e, "hedonic_s", t)
    sample(e2e, "hedonic_edges_per_s", 2.0 * g.nEdges * steps / t)
    checked("algo.hedonic") {
      val df = spark.createDataFrame(members.toSeq).toDF("id", "community")
      Seq((ms.nonEmpty && ms.last.frontier == 0L, "did not reach equilibrium"),
        (members.length == g.nVerts, s"${members.length} members for ${g.nVerts} vertices"),
        (Hedonic.equilibriumFraction(g.edges, df, g.alpha) == 1.0,
          "equilibriumFraction below 1.0"),
        sameAsFirst("hedonic", hashLL(members)))
    }
    (members, t)
  }

  private def pagerank(g: Graph, st: Strategy): (Array[(Long, Double)], Double) = {
    val fixed = PageRank.Config(fixedIter = Some(PageRankIters), packPartitions = Some(cores),
      cachePartitions = Some(cores))
    val ((ranks, iters), t) = timed("algo.pagerank") {
      val (r, ms) = st match {
        case Defaults     => PageRank.runTimed(g.edges,
          PageRank.Config(packPartitions = Some(cores), cachePartitions = Some(cores)))
        case Shared(p)    => PageRank.runTimed(g.edges, fixed, packedOpt = Some(p))
        case ShuffleState => PageRank.runTimed(g.edges, fixed.copy(broadcastStateMaxRows = 0L))
      }
      (collectLD(r), ms)
    }
    val loop = iters.sum / 1e3
    sample(layer, "algo.pagerank.iters", iters.size)
    sample(layer, "algo.pagerank.loop_s", loop)
    sample(layer, "algo.pagerank.prologue_s", t - loop)
    sample(e2e, "pagerank_s", t)
    sample(e2e, "pagerank_edges_per_s", 2.0 * g.nEdges * iters.size / t)
    checked("algo.pagerank") {
      val total = ranks.map(_._2).sum
      Seq((ranks.length == g.nVerts, s"${ranks.length} ranks for ${g.nVerts} vertices"),
        (math.abs(total - 1.0) <= 1e-6, s"ranks sum to $total"),
        sameAsFirst("pagerank", hashLD(ranks)))
    }
    (ranks, t)
  }

  private def lpa(g: Graph, st: Strategy): (Array[(Long, Long)], Double) = {
    val (labels, t) = timed("algo.lpa") {
      collectLL(st match {
        case Defaults     => LabelPropagation.run(g.edges)
        case Shared(p)    => LabelPropagation.run(g.edges, packedOpt = Some(p))
        case ShuffleState => LabelPropagation.run(g.edges, broadcastStateMaxRows = 0L)
      })
    }
    sample(e2e, "lpa_s", t)
    checked("algo.lpa") {
      Seq((labels.length == g.nVerts, s"${labels.length} labels for ${g.nVerts} vertices"),
        sameAsFirst("lpa", hashLL(labels)))
    }
    (labels, t)
  }

  private def cc(g: Graph, st: Strategy): (Array[(Long, Long)], Double) = {
    val (comps, t) = timed("algo.cc") {
      collectLL(st match {
        case ShuffleState => ConnectedComponents.run(g.edges, maxDriverEdges = 0L)
        case _            => ConnectedComponents.run(g.edges)
      })
    }
    sample(e2e, "cc_s", t)
    checked("algo.cc") {
      Seq((comps.length == g.nVerts, s"${comps.length} labels for ${g.nVerts} vertices"),
        (comps.forall { case (id, c) => c <= id }, "component label above a member id"),
        sameAsFirst("cc", hashLL(comps)))
    }
    (comps, t)
  }

  private def triangles(g: Graph): Double = {
    val (n, t) = timed("algo.triangles")(TriangleCount.count(g.edges))
    checked("algo.triangles") { Seq((n > 0, "no triangles"), sameAsFirst("triangles", n.##)) }
    t
  }

  // --------------------------------------------------------------- workloads

  /** What set-up leaves for the timed operation. */
  final case class Inputs(files: Option[DataFrame], g: Option[Graph], st: Strategy)

  /** The workload's inputs from a materialized repo table: the table itself
    * for repo-pipeline, else the extracted graph (and its shared pack). */
  private def prepare(files: DataFrame, check: Boolean): Inputs =
    if (a.workload == "repo-pipeline") Inputs(Some(files), None, Defaults)
    else {
      val g = extract(files, check)
      files.unpersist()
      Inputs(None, Some(g), if (a.workload == "superstep-loop") Shared(pack(g)) else ShuffleState)
    }

  /** One repetition of the workload's operation; returns its job time. */
  private def repetition(rep: Int, in: Inputs, ref: Option[Outputs]): Double = in match {
    case Inputs(Some(files), _, _) =>
      val t0 = System.nanoTime()
      val g = extract(files, check = true)
      val tExtract = secs(t0)
      val ck = abs(s"checkpoint/rep$rep")
      val (_, tH) = hedonic(g, Defaults, Some(ck))
      val ckFiles = Files.walk(Paths.get(ck)).iterator().asScala.toSeq
      sample(layer, "io.checkpoint.snapshots",
        ckFiles.count(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("superstep=")))
      sample(layer, "io.checkpoint.bytes",
        ckFiles.filter(Files.isRegularFile(_)).map(Files.size(_)).sum.toDouble)
      deleteTree(Paths.get(ck))
      val (_, tP) = pagerank(g, Defaults)
      val (_, tC) = cc(g, Defaults)
      val (_, tL) = lpa(g, Defaults)
      val tT = triangles(g)
      if (rep == 0) info += s"vertices=${g.nVerts} edges=${g.nEdges}"
      g.release()
      tExtract + tH + tP + tC + tL + tT
    case Inputs(_, Some(g), st) =>
      val (m, tH) = hedonic(g, st, None)
      val (r, tP) = pagerank(g, st)
      val (l, tL) = lpa(g, st)
      val (c, tC) = cc(g, st)
      ref.foreach { o =>
        checked("strategy-identity") {
          Seq((m.sameElements(o.members), "hedonic membership differs from broadcast state"),
            (l.sameElements(o.labels), "LPA labels differ from broadcast state"),
            (c.sameElements(o.comps), "CC labels differ from the driver union-find"),
            (r.length == o.ranks.length && r.zip(o.ranks).forall { case ((i, x), (j, y)) =>
              i == j && math.abs(x - y) <= 1e-6 }, "PageRank differs beyond 1e-6"))
        }
      }
      tH + tP + tL + tC
    case _ => sys.error("no inputs")
  }

  /** Runs `body` with checks off and its Spark work charged to `scope`,
    * then puts every sample and counter back as it was. */
  private def untracked[T](scope: String)(body: => T): T = {
    val saved = (e2e.map { case (k, v) => k -> v.clone() }, layer.map { case (k, v) => k -> v.clone() },
      firstHash.clone(), info.size)
    trace.scope = Some(scope)
    checking = false
    try body
    finally {
      trace.scope = None
      checking = true
      e2e.clear(); e2e ++= saved._1
      layer.clear(); layer ++= saved._2
      firstHash.clear(); firstHash ++= saved._3
      info.remove(saved._4, info.size - saved._4)
    }
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  def run(): String = {
    // Set-up, SetupRounds times, each in a fresh session: the session and
    // the workload's inputs, built from scratch.
    var in: Inputs = null
    for (round <- 1 to SetupRounds) {
      val last = round == SetupRounds
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      startSession()
      val (files, nFiles) = generate(repoCfg, check = last)
      in = prepare(files, check = last)
      sample(e2e, "setup_s", secs(t0))
      if (last) info += s"files=$nFiles" + in.g.fold("")(g => s" vertices=${g.nVerts} edges=${g.nEdges}")
    }
    info += s"setup_rounds_s=${e2e("setup_s").map(x => "%.2f".format(x)).mkString(",")}"

    // Warm-up on the graph workloads: one untimed repetition on the real
    // inputs, so plan code generation and JIT compilation of the kernels
    // are done before timing starts. repo-pipeline has none: its
    // repetitions are mostly per-job overhead, and warming them costs about
    // one more.
    if (in.g.isDefined) {
      val tWarm = System.nanoTime()
      untracked("warmup")(repetition(-1, in, None))
      info += f"warmup_s=${secs(tWarm)}%.2f"
    }

    // Reference outputs of the broadcast-state strategy over a shared pack
    // for the strategy-identity check; untimed, and counted in no metric.
    val ref = in.st match {
      case ShuffleState => untracked("check") {
        val g = in.g.get
        val st = Shared(pack(g))
        val o = Outputs(hedonic(g, st, None)._1, pagerank(g, st)._1, lpa(g, st)._1, cc(g, st)._1)
        st.p.unpersist()
        Some(o)
      }
      case _ => None
    }

    val cached = ArrayBuffer.empty[Int]
    val stored = ArrayBuffer.empty[Long]
    val t0 = System.nanoTime()
    var rep = 0
    var broken = false
    while (!broken && (rep < MinReps || secs(t0) < a.seconds)) {
      heap.reset()
      try {
        sample(e2e, "job_s", repetition(rep, in, ref))
        sample(e2e, "peak_heap_mb", heap.peakMb())
      } catch { case e: Exception =>
        // An operation that throws fails, and ends the timed loop.
        attempted += 1; failed += 1; broken = true
        System.err.println(s"OPERATION FAILED [${a.workload}] rep $rep")
        e.printStackTrace()
      }
      cached += sc.getPersistentRDDs.size
      stored += sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      rep += 1
    }
    info += s"repetitions=$rep measured_s=${"%.1f".format(secs(t0))} " +
      s"cached_rdds_after_each=${cached.mkString(",")} " +
      s"storage_bytes_after_each=${stored.mkString(",")}"
    layer.get("algo.hedonic.supersteps").foreach(s => info += s"hedonic_supersteps=${s.mkString(",")}")
    layer.get("algo.pagerank.iters").foreach(s => info += s"pagerank_iters=${s.mkString(",")}")
    trace.drain(sc)
    if (a.trace) info += s"groups ${trace.summary}"
    sample(layer, "session.cached_rdds", cached.last)
    sample(layer, "session.storage_bytes", stored.last.toDouble)
    val out = result()
    spark.stop()
    out
  }

  // ------------------------------------------------------------------ report

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def result(): String = {
    val units = Map("setup_s" -> "s", "job_s" -> "s", "extract_s" -> "s", "hedonic_s" -> "s",
      "pagerank_s" -> "s", "lpa_s" -> "s", "cc_s" -> "s",
      "hedonic_edges_per_s" -> "1/s", "pagerank_edges_per_s" -> "1/s", "peak_heap_mb" -> "MB")
    val okFrac = if (attempted == 0) 0.0 else (attempted - failed).toDouble / attempted
    val endToEnd = units.keys.toSeq.sorted.flatMap(k =>
      e2e.get(k).map(xs => (k, median(xs.toSeq), units(k)))) :+ (("ok_frac", okFrac, "ratio"))
    endToEnd.foreach { case (k, v, u) =>
      info += s"$k=$v $u" + e2e.get(k).fold("")(xs => s" (median of ${xs.size}: ${xs.mkString(", ")})") }
    val metrics =
      if (!a.trace) endToEnd
      else {
        val derived = Seq(
          "algo.hedonic.supersteps" -> "count", "algo.hedonic.loop_s" -> "s",
          "algo.hedonic.prologue_s" -> "s", "algo.hedonic.step_ms" -> "ms",
          "algo.hedonic.moved" -> "count", "algo.pagerank.iters" -> "count",
          "algo.pagerank.loop_s" -> "s", "algo.pagerank.prologue_s" -> "s",
          "ingest.extract.edges" -> "count", "io.checkpoint.snapshots" -> "count",
          "io.checkpoint.bytes" -> "bytes", "session.cached_rdds" -> "count",
          "session.storage_bytes" -> "bytes"
        ).map { case (k, u) =>
          val xs = layer.getOrElse(k, ArrayBuffer.empty[Double])
          (k, if (xs.isEmpty) 0.0 else xs.sum / xs.size, u)
        }
        Trace.Layers.flatMap(trace.layerMetrics(_, cores)) ++ derived ++
          e2e.get("job_s").map(xs => ("trace.job_s", median(xs.toSeq), "s"))
      }
    info.foreach(l => println(s"# ${a.workload} seed=${a.seed} $l"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("correct", failed == 0 && attempted > 0)
    root.put("attempted", attempted)
    root.put("failed", failed)
    val m = root.putObject("metrics")
    metrics.foreach { case (k, v, u) => m.putObject(k).put("value", v).put("unit", u) }
    mapper.writeValueAsString(root)
  }
}
