package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.util.{Columns, StateMap}

/** CSR-packed adjacency cache (see PackedAdjacency.build): one row per
  * vertex segment, (id, myIdx[, nsegs], nbrs: array<int>[, wts]). Every
  * pack is numbered: neighbor arrays hold POSITIONS in the numbering `ids`
  * (-1 = endpoint outside it) and `myIdx` is the row's own. On the driver
  * `ids(i)` is the vertex at position i and, when the build numbered the
  * pack itself, `deg(i)` its degree. Kernels read per-round state as a
  * bare primitive array indexed by position — one direct load per
  * neighbor instead of ~2 random hash-probe cache lines — and int arrays
  * halve the cache against long ids.
  * `maxSegs == 1` means no vertex exceeded the segment cap: one row per
  * vertex and no `nsegs` column, so plan builders skip the hub branch.
  * Otherwise a vertex's `nsegs` rows share its `myIdx`. `degSum`
  * (directed half-edges, 2E on a symmetrized input) and `vertices` (V)
  * come from the build's degree summary. Caller owns the cache lifetime
  * (unpersist()). */
final case class PackedAdj(df: DataFrame, maxSegs: Int, weighted: Boolean,
                           degSum: Long, vertices: Long, ids: Array[Long],
                           deg: Option[Array[Long]]) {
  def unpersist(): Unit = { df.unpersist(); () }
}

/** One pass over a per-vertex degree table: V (rows), `degSum` (the sum of
  * degrees — 2E on a symmetrized edge table) and the largest degree. */
final case class DegreeSummary(vertices: Long, degSum: Long, maxDeg: Long)

object DegreeSummary {
  /** The summary of collected degrees (one per vertex). */
  def of(degrees: Array[Long]): DegreeSummary = {
    var sum = 0L
    var mx = 0L
    var i = 0
    while (i < degrees.length) { sum += degrees(i); mx = math.max(mx, degrees(i)); i += 1 }
    DegreeSummary(degrees.length, sum, mx)
  }

  /** The summary of a per-vertex degree table (column "d"), in one job. */
  def of(degAgg: DataFrame): DegreeSummary = {
    val c = Columns.of(degAgg.agg(count(lit(1)), coalesce(sum(col("d")), lit(0L)),
      coalesce(max(col("d")), lit(0L))))
    DegreeSummary(c.longs(0)(0), c.longs(1)(0), c.longs(2)(0))
  }
}

/** CSR-packed adjacency: one row per vertex holding its neighbor ids as a
  * sorted array (north rule: "sparse gather-scatter over hash-partitioned
  * CSR-packed adjacency Datasets").
  *
  * Why pack, when the row cache already avoids per-superstep exchanges?
  * Measured on the 66.7M-edge scaling graph (round-3 stage telemetry): the
  * row-based superstep — 133M-row cache scan -> broadcast-map lookup ->
  * two-level hash aggregate — burned 1.32x more TOTAL CPU at 32 cores than
  * at 8 for identical work (155.8 vs 117.9 CPU-s/superstep). The
  * aggregation hash maps hold millions of (id, community) groups, so every
  * row costs several DRAM-random probes, and at 32 threads the socket's
  * memory system saturates — precisely what the N-vs-4N efficiency target
  * penalizes. Packed, a superstep is a V-row scan whose per-vertex kernel
  * (graft.algo.PackedKernels) counts neighbor communities in an
  * L1-resident scratch map: the only sequential traffic is the packed
  * array cache and the only shared random reads are the broadcast state
  * maps (16 MB at V=500k — L3-resident), with NO aggregate operator at all
  * on the common path.
  *
  * Hub safety (the 100-TB concern): a vertex with more neighbors than
  * `segCap` is split into ceil(deg/segCap) segments keyed by
  * xxhash64(neighbor) % nsegs, so no single row exceeds ~segCap elements
  * (8 MB of longs at the default 1<<20) — the bounded-row answer to the
  * collect_set hub bomb this engine already purged from connected
  * components. Segmenting bounds row length, not id space, so segments
  * carry positions like every other row. Per-vertex decisions for
  * multi-segment vertices flow through a partial-counts + regular-aggregate
  * branch in the plan builders; `maxSegs` tells them whether that branch
  * can be elided.
  *
  * Arrays are sorted by neighbor id so per-vertex float accumulation
  * order — and therefore every kernel output — is deterministic across
  * runs and partitionings; numbering keeps that order (positions are
  * assigned per neighbor, the array is not re-sorted).
  *
  * Numbering (every pack, hub or not): the build numbers the vertices
  * itself, once, so every algorithm call over a shared pack scans it as
  * it is.
  * A build given no `numbering` takes it from its own degree table — the
  * V-row (id, degree) collect that also yields the degree summary, so the
  * build stays at two jobs — and the pack then carries its ids and
  * degrees. An own-pack build is handed the caller's state ids instead;
  * pack vertices outside them get -1. Either way the id -> position remap
  * runs inside the assembly scan, and only the int layout is cached.
  *
  * The degree join and the position map are broadcast: build() is only
  * used by the broadcast-state strategy, whose precondition is V small
  * enough to broadcast. The build costs one E-row shuffle (the groupBy) —
  * the same price as the row cache's repartition — amortized over all
  * supersteps.
  */
object PackedAdjacency {

  /** Pack `sym` (symmetrized edges: src, dst[, weight]) by `key`; the
    * other endpoint column becomes the neighbor array. When `weighted`,
    * a parallel `wts` array<double> is produced (same order as nbrs).
    *
    * Assembly is shuffle -> in-partition binary sort -> linear scan
    * (mapPartitions), NOT groupBy(collect_list): collect_list grows a
    * boxed-object buffer per group, and at 133M edges the allocation
    * churn made the build GC-bound — measured SLOWER at 32 cores than at
    * 8 (30+40 s stages, half the task time off-CPU). The sort path keeps
    * rows binary end-to-end (UnsafeExternalSorter radix/spill machinery),
    * and the scan allocates exactly one primitive array per vertex
    * segment. This is the classic distributed CSR build; the in-partition
    * sort also hands every kernel a sorted neighbor array for free
    * (deterministic float accumulation order).
    *
    * Only the int layout is cached, never the long-id table it is
    * assembled from. Measured necessity: at 1.67e9 pre-assembly rows on 2x12 GB
    * executors, caching the long-array table (13.4 GB) while the pack sort
    * runs drove execution memory to zero; the int table (6.7 GB) fits. */
  /** `partitions`: pack-shuffle output count (defaults to the session's
    * shuffle partitions). This sizes the SORT tasks — keep it data-sized;
    * shrinking it to per-core counts made each in-partition sort huge and
    * slow (build 208 s -> 385 s measured at 12 partitions / 4 cores). Use
    * `cachePartitions` below to size what the iteration loop scans. */
  /** `cachePartitions`: re-exchange the ASSEMBLED pack (V rows, hash on
    * id) down to a cluster-sized partition count before it is cached. The
    * iteration loop launches one task per cached partition EVERY round and
    * task dispatch is driver-serial (~4-5 ms each measured on 4x1-core
    * executor JVMs: 64 tasks = ~0.3 s/round against 0.29 s of compute), so
    * cache granularity should track executor cores, not the E-row
    * extraction partitioning. A narrow coalesce can NOT do this job: below
    * the cache it collapses the pack sort to the same width (build 208 s ->
    * 385 s measured); above it, CoalesceExec rejects columnar input and
    * forces an interpreted ColumnarToRow outside whole-stage codegen (4-9 s
    * of extra CPU per round measured). The extra exchange moves only the
    * packed rows (~8 B/edge) and is amortized over all supersteps. */
  /** `degOpt`: a precomputed per-`key` row-count table (columns: key, "d")
    * — round-6 setup dedup: callers that already aggregated degrees (the
    * strategy decision / rank-degree table) pass it so the build does not
    * re-aggregate the E-row input. It feeds the degree collect or stats
    * job and the hub segment join. */
  /** `degrees`: the caller's summary of `sym`'s per-`key` degree table
    * (V, 2E, max degree — GraphOps.degreeSummary or DegreeSummary.of over
    * collected degrees). Contract: it must describe this same `sym`; it
    * replaces the build's own stats job, and `maxSegs` — hence the
    * layout — is derived from its max degree. Either way the segment join
    * is elided only when `maxSegs == 1` proves every vertex is a single
    * segment: rows are then keyed with constant seg = 0, nsegs = 1 —
    * exactly what the join would assign — so no broadcast-build job runs.
    * Hub graphs keep the join. */
  /** `numbering`: the caller's state ids (an own-pack build): position i
    * of the pack is vertex numbering(i). Without it the build numbers
    * itself from its degree collect (see the object doc). */
  def build(sym: DataFrame, key: String, weighted: Boolean = false,
            segCap: Int = 1 << 20,
            partitions: Option[Int] = None,
            cachePartitions: Option[Int] = None,
            degOpt: Option[DataFrame] = None,
            degrees: Option[DegreeSummary] = None,
            numbering: Option[Array[Long]] = None): PackedAdj = {
    val spark = sym.sparkSession
    import spark.implicits._
    val nbr = if (key == "src") "dst" else "src"
    lazy val degAgg = degOpt.getOrElse(sym.groupBy(col(key)).agg(count(lit(1)).as("d")))
    // Stats come from the V-row degree frame, NOT from scanning the packed
    // table afterwards: maxSegs decides the layout before anything is
    // cached. A build that numbers itself collects the whole frame, which
    // is its numbering, its degrees and its summary at once.
    val own = Option.when(numbering.isEmpty) {
      val c = Columns.of(degAgg.select(col(key), col("d")))
      (c.longs(0), c.longs(1))
    }
    val st = degrees.orElse(own.map(o => DegreeSummary.of(o._2)))
      .getOrElse(DegreeSummary.of(degAgg))
    val maxSegs = math.max(1L, (st.maxDeg + segCap - 1) / segCap).toInt
    val ids = numbering.getOrElse(own.get._1)
    val (input, segs) =
      if (maxSegs == 1) (sym, Seq(lit(0L).as("seg"), lit(1).as("nsegs")))
      else {
        val nseg = degAgg
          .select(col(key), ceil(col("d") / lit(segCap.toDouble)).cast("int").as("nsegs"))
        (sym.join(broadcast(nseg), Seq(key)),
          Seq(pmod(xxhash64(col(nbr)), col("nsegs").cast("long")).as("seg"), col("nsegs")))
      }
    val keyed = input
      .select(((col(key).as("id") +: segs :+ col(nbr).as("n")) ++
        (if (weighted) Seq(col("weight").cast("double").as("w")) else Nil)): _*)
      .repartition(partitions.getOrElse(spark.sessionState.conf.numShufflePartitions),
        col("id"), col("seg"))
      .sortWithinPartitions("id", "seg", "n")
    // The constant weight joins after the sort: the UNWEIGHTED shuffle
    // never carries it — at 1.67e9 pre-assembly rows that column alone is
    // ~13 GB of shuffle spill for bytes the pack then discards.
    val rows = (if (weighted) keyed else keyed.withColumn("w", lit(0.0))).as[NbrRow]
    val posB = spark.sparkContext.broadcast(
      StateMap.longLong(ids, Array.tabulate(ids.length)(_.toLong), ids.length))
    val packed0 = rows.mapPartitions { it =>
      val m = posB.value
      segments(it, weighted).map { case (id, ns, nb, wt) =>
        (id, positionOf(m, id), ns, nb.map(positionOf(m, _)), wt)
      }
    }.toDF("id", "myIdx", "nsegs", "nbrs", "wts").select(layout(maxSegs, weighted): _*)
    val packed1 = cachePartitions.fold(packed0)(n => packed0.repartition(n, col("id")))
    packed1.persist()
    packed1.count()
    // unpersist, not destroy: a lost cache partition re-runs the assembly,
    // which still needs the map re-shippable.
    posB.unpersist()
    PackedAdj(packed1, maxSegs, weighted, st.degSum, st.vertices, ids, own.map(_._2))
  }

  /** The cached columns: (id, myIdx[, nsegs], nbrs[, wts]) — `nsegs` only
    * on a hub pack, so a hub-free pack's rows and plans never carry it. */
  private def layout(maxSegs: Int, weighted: Boolean): Seq[Column] =
    Seq(col("id"), col("myIdx")) ++ (if (maxSegs > 1) Seq(col("nsegs")) else Nil) ++
      Seq(col("nbrs")) ++ (if (weighted) Seq(col("wts")) else Nil)

  /** Position of vertex `k` in the numbering `m`, -1 outside it. */
  private[graft] def positionOf(m: StateMap.LongLongMap, k: Long): Int = {
    val s = m.slot(k)
    if (s < 0) -1 else m.valueAt(s).toInt
  }

  /** One partition's sorted (id, seg, n, w) rows as one row per vertex
    * segment: (id, nsegs, neighbors, weights — null when unweighted). */
  private def segments(it: Iterator[NbrRow], weighted: Boolean)
      : Iterator[(Long, Int, Array[Long], Array[Double])] =
    new Iterator[(Long, Int, Array[Long], Array[Double])] {
      private var cur: NbrRow = if (it.hasNext) it.next() else null
      private val nb = new scala.collection.mutable.ArrayBuilder.ofLong
      private val wb = new scala.collection.mutable.ArrayBuilder.ofDouble
      override def hasNext: Boolean = cur != null
      override def next(): (Long, Int, Array[Long], Array[Double]) = {
        val id = cur.id
        val seg = cur.seg
        val ns = cur.nsegs
        nb.clear(); wb.clear()
        var go = true
        while (go) {
          nb += cur.n
          if (weighted) wb += cur.w
          cur = if (it.hasNext) it.next() else null
          go = cur != null && cur.id == id && cur.seg == seg
        }
        (id, ns, nb.result(), if (weighted) wb.result() else null)
      }
    }

  /** Renumber a pack: the row at pack position p moves to `to(p)` (-1 =
    * outside the new numbering `ids`), in `myIdx` and in every neighbor
    * array; a hub pack's `nsegs` rides along. Neighbor order is
    * PRESERVED, so per-vertex float accumulation order — and every kernel
    * decision — is unchanged. One scan of the cached int layout; the
    * caller releases the copy. */
  def reindex(packed: PackedAdj, ids: Array[Long], to: Array[Int]): PackedAdj = {
    val spark = packed.df.sparkSession
    import spark.implicits._
    val toB = spark.sparkContext.broadcast(to)
    val nsegs = if (packed.maxSegs > 1) col("nsegs") else lit(1)
    val wts = if (packed.weighted) col("wts") else lit(null).cast("array<double>")
    val out = packed.df.select(col("id"), col("myIdx"), nsegs.as("nsegs"), col("nbrs"),
        wts.as("wts"))
      .as[(Long, Int, Int, Array[Int], Array[Double])]
      .mapPartitions { it =>
        val t = toB.value
        def at(p: Int): Int = if (p < 0) -1 else t(p)
        it.map { case (id, my, ns, nb, wt) => (id, at(my), ns, nb.map(at), wt) }
      }.toDF("id", "myIdx", "nsegs", "nbrs", "wts")
      .select(layout(packed.maxSegs, packed.weighted): _*)
      .persist()
    out.count()
    toB.unpersist()
    packed.copy(df = out, ids = ids, deg = None)
  }
}

/** One edge endpoint pre-assembly: vertex, segment, segment count, the
  * neighbor, its weight (0 when unweighted). All-primitive fields so the
  * assembly scan deserializes without boxing. */
private[graph] final case class NbrRow(id: Long, seg: Long, nsegs: Int, n: Long, w: Double)
