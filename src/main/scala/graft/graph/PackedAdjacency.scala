package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CSR-packed adjacency cache + hub segmentation metadata (see
  * PackedAdjacency.build). `maxSegs == 1` means no vertex exceeded the
  * segment cap, so plan builders can skip the hub-combine branch
  * entirely. `degSum` (directed half-edges, 2E on a symmetrized input)
  * and `vertices` (V) come from the build's degree summary. Caller owns
  * the cache lifetime (unpersist()). `cached` is false for a deferred
  * hub-free build (see build): its unpersist is a no-op, so it cannot
  * evict a cached pack over the same plan. */
final case class PackedAdj(df: DataFrame, maxSegs: Int, weighted: Boolean,
                           degSum: Long = 0L, vertices: Long = 0L,
                           cached: Boolean = true) {
  def unpersist(): Unit = if (cached) df.unpersist()
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
}

/** Dense-index remap of a hub-free packed adjacency: neighbor arrays hold
  * POSITIONS into the driver's state arrays (int, -1 = endpoint outside
  * the state table) and each row carries its own position (`myIdx`).
  * Kernels then read per-round state as a bare primitive array — one
  * direct 8-byte load per neighbor instead of ~2 random hash-probe cache
  * lines — and the per-round broadcast shrinks to the values array alone
  * (8 B/vertex vs the ~32 B/vertex open-addressing map). Int neighbor
  * arrays also halve the cached adjacency's sequential footprint. */
final case class PackedIdxAdj(df: DataFrame, weighted: Boolean) {
  def unpersist(): Unit = { df.unpersist(); () }
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
  * components. Per-vertex decisions for multi-segment vertices flow
  * through a partial-counts + regular-aggregate branch in the plan
  * builders; `maxSegs` tells them whether that branch can be elided.
  *
  * Arrays are sorted (array_sort) so per-vertex float accumulation order —
  * and therefore every kernel output — is deterministic across runs and
  * partitionings.
  *
  * The degree join is broadcast: build() is only used by the
  * broadcast-state strategy, whose precondition is V small enough to
  * broadcast. The build costs one E-row shuffle (the groupBy) — the same
  * price as the row cache's repartition — amortized over all supersteps.
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
    * (deterministic float accumulation order). */
  /** `deferCacheIfHubFree`: when true AND the graph turns out hub-free
    * (maxSegs == 1), the LONG-id packed table is NOT persisted — the caller
    * promises to `reindex` immediately, and reindex's single scan both
    * materializes the pack lineage and caches the INT-position table (half
    * the footprint). Measured necessity: at 1.67e9 pre-assembly rows on
    * 2x12 GB executors, caching the long-array table (13.4 GB) while the
    * pack sort runs drove execution memory to zero; the int table (6.7 GB)
    * fits. Hub graphs (maxSegs > 1) always cache, since the hash-kernel
    * plans scan the long-id table every superstep. */
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
    * re-aggregate the E-row input. It feeds the stats job (when no
    * `degrees` summary is given) and the hub segment join. */
  /** `degrees`: the caller's summary of `sym`'s per-`key` degree table
    * (V, 2E, max degree — GraphOps.degreeSummary or DegreeSummary.of over
    * collected degrees). Contract: it must describe this same `sym`; it
    * replaces the build's own stats job, and `maxSegs` — hence the
    * layout — is derived from its max degree. Without it the build runs
    * one stats job over the degree table. Either way the segment join is
    * elided only when `maxSegs == 1` proves every vertex is a single
    * segment: rows are then keyed with constant seg = 0, nsegs = 1 —
    * exactly what the join would assign — so no broadcast-build job runs
    * (and, when `degOpt` is absent, no second E-row aggregate). Hub
    * graphs keep the join. */
  def build(sym: DataFrame, key: String, weighted: Boolean = false,
            segCap: Int = 1 << 20, deferCacheIfHubFree: Boolean = false,
            partitions: Option[Int] = None,
            cachePartitions: Option[Int] = None,
            degOpt: Option[DataFrame] = None,
            degrees: Option[DegreeSummary] = None): PackedAdj = {
    val spark = sym.sparkSession
    import spark.implicits._
    val nbr = if (key == "src") "dst" else "src"
    lazy val degAgg = degOpt.getOrElse(sym.groupBy(col(key)).agg(count(lit(1)).as("d")))
    // Stats come from the V-row degree frame, NOT from scanning the packed
    // table afterwards (the old count()+max(nsegs) pair forced two full
    // materializations of the pack): maxSegs decides the hub branch before
    // any caching policy is applied.
    val st = degrees.getOrElse {
      val r = degAgg.agg(count(lit(1)), coalesce(sum(col("d")), lit(0L)),
        coalesce(max(col("d")), lit(0L))).collect()(0)
      DegreeSummary(r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val maxSegs = math.max(1L, (st.maxDeg + segCap - 1) / segCap).toInt
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
      .repartition(partitions.getOrElse(
        sym.sparkSession.sessionState.conf.numShufflePartitions),
        col("id"), col("seg"))
      .sortWithinPartitions("id", "seg", "n")
    // Two typed assembly branches so the UNWEIGHTED shuffle never carries a
    // constant 0.0 weight column — at 1.67e9 pre-assembly rows that column
    // alone is ~13 GB of shuffle spill for bytes the pack then discards.
    val packed0 =
      if (weighted)
        keyed.as[NbrRow].mapPartitions { it =>
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
                wb += cur.w
                cur = if (it.hasNext) it.next() else null
                go = cur != null && cur.id == id && cur.seg == seg
              }
              (id, ns, nb.result(), wb.result())
            }
          }
        }.toDF("id", "nsegs", "nbrs", "wts")
      else
        keyed.as[NbrRowU].mapPartitions { it =>
          new Iterator[(Long, Int, Array[Long])] {
            private var cur: NbrRowU = if (it.hasNext) it.next() else null
            private val nb = new scala.collection.mutable.ArrayBuilder.ofLong
            override def hasNext: Boolean = cur != null
            override def next(): (Long, Int, Array[Long]) = {
              val id = cur.id
              val seg = cur.seg
              val ns = cur.nsegs
              nb.clear()
              var go = true
              while (go) {
                nb += cur.n
                cur = if (it.hasNext) it.next() else null
                go = cur != null && cur.id == id && cur.seg == seg
              }
              (id, ns, nb.result())
            }
          }
        }.toDF("id", "nsegs", "nbrs")
    val packed1 = cachePartitions.fold(packed0)(n => packed0.repartition(n, col("id")))
    val defer = deferCacheIfHubFree && maxSegs == 1
    if (!defer) { packed1.persist(); packed1.count() }
    PackedAdj(packed1, maxSegs, weighted, st.degSum, st.vertices, cached = !defer)
  }

  /** Remap a hub-free (`maxSegs == 1`) packed adjacency to dense state
    * indexes (see PackedIdxAdj). `idxB` maps vertex id -> position in the
    * caller's state arrays; ids outside it become -1 (the kernels' skip,
    * mirroring the hash kernels' slot<0). One in-memory scan of the
    * already-cached packed table, amortized over all supersteps like the
    * build itself; the caller releases the id-based cache afterwards.
    * Neighbor order (sorted by original id) is PRESERVED, so per-vertex
    * float accumulation order — and every kernel decision — is unchanged. */
  def reindex(packed: PackedAdj,
      idxB: org.apache.spark.broadcast.Broadcast[graft.util.StateMap.LongLongMap])
      : PackedIdxAdj = {
    require(packed.maxSegs == 1,
      "dense-index remap requires a hub-free packed adjacency (maxSegs == 1)")
    val spark = packed.df.sparkSession
    import spark.implicits._
    def at(m: graft.util.StateMap.LongLongMap, k: Long): Int = {
      val s = m.slot(k)
      if (s < 0) -1 else m.valueAt(s).toInt
    }
    val out =
      if (packed.weighted)
        packed.df.select("id", "nbrs", "wts")
          .as[(Long, Array[Long], Array[Double])]
          .mapPartitions { it =>
            it.map { case (id, nb, wt) =>
              val m = idxB.value
              val re = new Array[Int](nb.length)
              var i = 0
              while (i < nb.length) { re(i) = at(m, nb(i)); i += 1 }
              (id, at(m, id), re, wt)
            }
          }.toDF("id", "myIdx", "nbrs", "wts")
      else
        packed.df.select("id", "nbrs")
          .as[(Long, Array[Long])]
          .mapPartitions { it =>
            it.map { case (id, nb) =>
              val m = idxB.value
              val re = new Array[Int](nb.length)
              var i = 0
              while (i < nb.length) { re(i) = at(m, nb(i)); i += 1 }
              (id, at(m, id), re)
            }
          }.toDF("id", "myIdx", "nbrs")
    val p = out.persist()
    p.count()
    PackedIdxAdj(p, packed.weighted)
  }
}

/** One edge endpoint pre-assembly: vertex, segment, segment count, the
  * neighbor, its weight (0 when unweighted). All-primitive fields so the
  * assembly scan deserializes without boxing. */
private[graph] final case class NbrRow(id: Long, seg: Long, nsegs: Int, n: Long, w: Double)

/** Unweighted twin of NbrRow — no weight column in the pack shuffle. */
private[graph] final case class NbrRowU(id: Long, seg: Long, nsegs: Int, n: Long)
