package graft.algo

import scala.collection.mutable.{ArrayBuffer, LongMap}
import scala.reflect.ClassTag
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}
import graft.graph.{PackedAdj, PackedAdjacency}
import graft.util.{Columns, DeltaState, Portable, StateMap}

/** The driver-state superstep engine shared by every broadcast-state loop
  * (Hedonic, HedonicFrontier, LabelPropagation, PageRank, Spectral) and by
  * the driver-side strategies of ConnectedComponents.
  *
  * Strategy: when the V-row state fits a row budget it lives in DRIVER
  * arrays between rounds, and a round is ONE single-stage Spark job over
  * the cached (CSR-packed) adjacency that collects only the rows that
  * change something. Each algorithm supplies its kernel plan, its merge
  * rule and its own bookkeeping; this object owns the rest:
  *
  *  - StateGate (`stateGate` / `fits`): one named job decides the
  *    strategy AND already is the driver-state collect, shipping one
  *    primitive array per column (graft.util.Columns, the primitive
  *    collect) — no `limit` plan, no SQL action, no boxed Row. The cap
  *    is clamped to `Int.MaxValue - 2` (driver arrays are int-indexed)
  *    and compared against that CLAMPED cap, so a truncated read is never
  *    taken for a complete one. A
  *    budget <= 0 means "over budget" without running a job — the
  *    forced-shuffle setting. A caller that already counted the state (a
  *    persisted degree table) passes the count: over budget is then
  *    decided with no job, within budget the collect is exact and a row
  *    count that disagrees throws. With no count, each task reads at most
  *    about cap / P rows and ships them only if its partition held no
  *    more; it always ships its count. Capped counts past the cap decide
  *    "over budget" with no second job, however large the input; the
  *    rows of partitions that did not overflow have shipped by then, so
  *    no rows ship only when every partition overflows. When a partition
  *    overflowed while the counts fit, a counts-only job and then one
  *    shipping job read the overflowed partitions again. The driver holds
  *    at most cap + 1 + P rows, and no task reads more than cap + 1.
  *    `Columns.of` is the same job without a cap, for the other
  *    driver-side collects (the pack's numbering, degree summaries).
  *  - State layout (`Run`): every pack is numbered by its build
  *    (PackedAdjacency), so a round's state is a bare primitive array
  *    indexed by pack position, hub packs included. A state whose id set
  *    IS the numbering's (aligned: an own pack numbered by the state, a
  *    shared pack's edge-derived vertex set) is laid out in pack order
  *    with one map lookup per row and no Spark job; any other state gets
  *    the pack renumbered to its own positions (PackedAdjacency.reindex,
  *    -1 for pack vertices outside it). Only the map plan that scans no
  *    pack (the Hedonic/LPA one-shot over the symmetrized rows) reads
  *    broadcast primitive maps. An own pack is released at close; a
  *    caller's shared pack never is.
  *  - Plans are built ONCE over StateMap.Ref cells and re-collected every
  *    round; the Refs carry per-round BROADCAST HANDLES (`publish`), not
  *    the state itself — a handle serializes to an id and the value ships
  *    executor-cached, while a bare array in the closure is re-deserialized
  *    by every task (measured 2x slower). No per-round planning or codegen.
  *  - Delta transport (`Delta`): the per-round broadcast is a small
  *    DeltaState.Payload — a base snapshot handle plus cumulative absolute
  *    overrides; the base is republished once the delta passes V/4.
  *  - Primitive collect (`moves` / `values`): rows come back as
  *    per-partition primitive arrays read straight off the codegen'd
  *    InternalRow iterator. Row-based DataFrame.collect deserializes and
  *    boxes every row serially on the driver — a per-round cost that does
  *    not shrink with cluster size. Rows are keyed by state POSITION; the
  *    map plan's position is looked up in-plan from the id.
  *  - Round submission (`collect`): `sc.runJob` with a NAMED serializable
  *    task function (`Task`), never `rdd.collect()` or a lambda.
  *    `RDD.collect` hands `runJob` two lambdas (captured by RDD and by
  *    SparkContext), and Spark 4.1's ClosureCleaner re-reads and
  *    ASM-parses both classes' bytecode from the spark-core jar on EVERY
  *    submit; for a class that is not a closure it returns at once.
  *    Measured on a 4-core host, local[4]: a trivial cached 4-partition
  *    RDD took 16-19 ms per `collect()` against 8-10 ms per `runJob` with
  *    a named function, and a 1000-vertex PageRank iteration on a shared
  *    pack went from 30 to 17 ms. A round's task reads its partition's
  *    InternalRows into one primitive batch directly, so no
  *    `mapPartitions` (itself a cleaned lambda) sits between plan and
  *    task either.
  *  - The output frame (`frame`): parallelized indices over the driver
  *    arrays, NOT a LocalRelation (`toDF` on a local Seq). A LocalRelation
  *    serializes V rows into the plan on every use (checkpoint, potential),
  *    and a join against it re-introduces the broadcast-build job the
  *    StateMap lookups exist to avoid. Parallelized indices
  *    ship the arrays once per job in the taskBinary, rows materialize in
  *    executors, and the LogicalRDD carries no stats, so a downstream join
  *    never tries to broadcast-build the state side.
  */
object Superstep {

  type Moves = (Array[Int], Array[Long], Array[Boolean])
  type Values = (Array[Int], Array[Double])

  /** StateGate decision: does a capped collect of `collected` rows hold
    * the whole state under `budget`? */
  private[graft] def fits(collected: Long, budget: Long): Boolean =
    budget > 0 && collected <= math.min(budget, Int.MaxValue - 2L)

  /** StateGate: the state's rows when they fit `budget`, else None (see
    * the object doc). With no count in hand, task p reads at most
    * share + 1 rows, share = ceil((cap + 1) / P), and ships them only if
    * it read at most `share`; it always ships its count. */
  def stateGate(state: DataFrame, budget: Long, known: Option[Long] = None): Option[Columns] =
    if (budget <= 0 || known.exists(!fits(_, budget))) None
    else {
      val src = new Columns.Source(state)
      known match {
        case Some(n) =>
          val bs = src.take(src.all, n.toInt + 1, n.toInt)
          val got = bs.map(_.count.toLong).sum
          if (got != n) throw new IllegalStateException(
            s"state gate: the state read ${if (got > n) "at least " else ""}$got rows, " +
              s"its count in hand is $n")
          Some(src.columns(bs))
        case None =>
          val cap = math.min(budget, Int.MaxValue - 2L).toInt
          val p = src.all.size
          val share = ((cap + 1L + p - 1) / math.max(p, 1)).toInt
          val first = src.take(src.all, share + 1, share)
          if (first.map(_.count.toLong).sum > cap) None
          else if (first.forall(_.shipped)) Some(src.columns(first))
          else overflow(src, first, cap, share)
      }
    }

  /** The gate's last step: `first` (one batch per partition) fits the cap,
    * but some partitions held more than `share` rows and shipped none.
    * Within the remaining budget `rem` each of those k partitions holds at
    * most `most` = rem - (k - 1)(share + 1) rows, since the others hold
    * more than `share` each. A counts-only job reads at most most + 1 rows
    * of each; when the counts fit `rem`, one more job ships them all. */
  private def overflow(src: Columns.Source, first: Array[Columns.Batch], cap: Int,
                       share: Int): Option[Columns] = {
    val over = first.indices.filterNot(first(_).shipped)
    val rem = cap - first.filter(_.shipped).map(_.count).sum
    val most = rem - (over.size - 1) * (share + 1)
    val counts = src.take(over, most + 1, 0).map(_.count)
    if (counts.exists(_ > most) || counts.map(_.toLong).sum > rem) return None
    val rows = src.take(over, most + 1, most)
    if (!(rows.map(_.count) sameElements counts)) throw new IllegalStateException(
      s"state gate: partitions ${over.mkString(",")} read ${counts.mkString(",")} rows, " +
        s"then ${rows.map(_.count).mkString(",")}")
    val byPart = first.clone()
    over.indices.foreach(j => byPart(over(j)) = rows(j))
    Some(src.columns(byPart))
  }

  /** (key, value) frame over the driver arrays (see the object doc). */
  def frame(spark: SparkSession, ids: Array[Long], name: String, vals: Array[Long]): DataFrame =
    frameOf(spark, ids, name, LongType, j => vals(j))

  def frame(spark: SparkSession, ids: Array[Long], name: String, vals: Array[Double]): DataFrame =
    frameOf(spark, ids, name, DoubleType, j => vals(j))

  private def frameOf(spark: SparkSession, ids: Array[Long], name: String, dt: DataType,
                      v: Int => Any): DataFrame = {
    val sc = spark.sparkContext
    val n = ids.length
    val slices = math.max(1, math.min(sc.defaultParallelism, n / 65536 + 1))
    val rdd = sc.parallelize(0 until n, slices).map(j => Row(ids(j), v(j)))
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField(name, dt, nullable = false))))
  }

  /** A round's task function: one partition's InternalRows -> one batch.
    * Subclasses are named (objects or classes), so ClosureCleaner skips
    * them (see the object doc). */
  abstract class Task[P] extends ((TaskContext, Iterator[InternalRow]) => P) with Serializable

  /** (position, long, flag) rows as one partition's primitive arrays. */
  private object MovesTask extends Task[Moves] {
    def apply(ctx: TaskContext, it: Iterator[InternalRow]): Moves = {
      val pb = new scala.collection.mutable.ArrayBuilder.ofInt
      val vb = new scala.collection.mutable.ArrayBuilder.ofLong
      val fb = new scala.collection.mutable.ArrayBuilder.ofBoolean
      while (it.hasNext) {
        val r = it.next()
        pb += r.getInt(0); vb += r.getLong(1); fb += r.getBoolean(2)
      }
      (pb.result(), vb.result(), fb.result())
    }
  }

  /** (position, double) rows as one partition's primitive arrays. */
  private object ValuesTask extends Task[Values] {
    def apply(ctx: TaskContext, it: Iterator[InternalRow]): Values = {
      val pb = new scala.collection.mutable.ArrayBuilder.ofInt
      val vb = new scala.collection.mutable.ArrayBuilder.ofDouble
      while (it.hasNext) {
        val r = it.next()
        pb += r.getInt(0); vb += r.getDouble(1)
      }
      (pb.result(), vb.result())
    }
  }

  /** A round's job: the plan's row RDD (see `Run.job`) and its task. */
  final class Job[P: ClassTag] private[Superstep] (rdd: () => RDD[InternalRow], task: Task[P]) {
    private[Superstep] def submit(sc: SparkContext): Array[P] = {
      val r = rdd()
      sc.runJob(r, task, r.partitions.indices)
    }
  }

  /** The (key, value) arrays of a LongMap, for broadcast payloads. */
  private def entries(m: LongMap[Long]): (Array[Long], Array[Long]) = {
    val ks = new Array[Long](m.size)
    val vs = new Array[Long](m.size)
    var j = 0
    m.foreachEntry { (k, v) => ks(j) = k; vs(j) = v; j += 1 }
    (ks, vs)
  }

  /** One driver-state run over the state vertices `stateIds` (in the
    * caller's collect order). `packed` is the adjacency the plans scan, if
    * any: it is scanned as it is when the state is aligned with its
    * numbering and renumbered to the state otherwise (`dense`). `ids` is
    * the run's position order — the
    * pack's when aligned — and `align` lays the caller's value arrays out
    * in it. `ownsPack` = the run built the pack itself and releases it.
    * Call `close()` when done. */
  final class Run(val spark: SparkSession, stateIds: Array[Long],
                  packed: Option[PackedAdj] = None, ownsPack: Boolean = false) {
    val sc = spark.sparkContext
    private val numbering = packed.map(_.ids)
    /** Pack position of each state row, when the state is aligned with a
      * pack numbered by someone else (the run adopts the pack's order). */
    private val order: Option[Array[Int]] =
      numbering.filterNot(_ eq stateIds).flatMap(alignment(_, stateIds))
    val ids: Array[Long] = if (order.isDefined) numbering.get else stateIds
    val n: Int = ids.length
    private lazy val posOf = StateMap.longLong(ids, Array.tabulate(n)(_.toLong), n)
    val round = new StateMap.Ref[Integer](Integer.valueOf(0))
    private val live = ArrayBuffer.empty[Broadcast[_]]  // destroyed after each collect
    private val owned = ArrayBuffer.empty[Broadcast[_]] // destroyed by close()

    private val remapped = numbering.exists(!_.eq(ids))
    /** The pack the plans scan, in this run's positions. */
    val dense: Option[PackedAdj] = packed.map { p =>
      if (!remapped) p
      else PackedAdjacency.reindex(p, ids, p.ids.map(PackedAdjacency.positionOf(posOf, _)))
    }

    /** The caller's per-row values (collect order) in this run's order. */
    def align(a: Array[Long]): Array[Long] = order.fold(a) { o =>
      val out = new Array[Long](n)
      var i = 0
      while (i < o.length) { out(o(i)) = a(i); i += 1 }
      out
    }

    def align(a: Array[Double]): Array[Double] = order.fold(a) { o =>
      val out = new Array[Double](n)
      var i = 0
      while (i < o.length) { out(o(i)) = a(i); i += 1 }
      out
    }

    val delta = new Delta(this)

    /** The parity gate on `id`, keyed on the round this run is collecting. */
    def parityGate(on: Boolean): Column =
      if (on) Portable.parityGate(col("id"), StateMap.intRef(round)) else lit(true)

    /** A broadcast that lives for the whole run. */
    def once[T: ClassTag](v: T): StateMap.Ref[Broadcast[T]] = {
      val b = sc.broadcast(v); owned += b; new StateMap.Ref(b)
    }

    /** Publish this round's value into `r`; destroyed after the collect. */
    def publish[T: ClassTag](r: StateMap.Ref[Broadcast[T]], v: T): Unit = {
      val b = sc.broadcast(v); live += b; r.value = b
    }

    private lazy val posR = once(posOf)

    /** Position-key a plan: plans over a pack already emit the state
      * position first; the map plan emits the id, looked up in-plan (ids
      * outside the state table become -1, which merges skip). */
    private def keyed(plan: DataFrame): DataFrame =
      if (dense.isDefined) plan
      else {
        val c = plan.columns
        plan.select(coalesce(StateMap.lookup(posR, col(c(0))).cast("int"), lit(-1)) +:
          c.toSeq.tail.map(col): _*)
      }

    def moves(plan: DataFrame): Job[Moves] = job(keyed(plan), MovesTask)
    def values(plan: DataFrame): Job[Values] = job(keyed(plan), ValuesTask)

    /** A round's job over `plan`. Plans over a hub-free pack only scan the
      * cached pack, so one RDD serves every round. A hub pack's plan (its
      * hub branch) and the map plan (its row aggregate) hold an exchange,
      * and re-running a physical plan reuses its shuffle output — stale
      * state — so they are re-planned each round. */
    def job[P: ClassTag](plan: DataFrame, task: Task[P]): Job[P] =
      if (dense.exists(_.maxSegs == 1)) {
        val rdd = plan.queryExecution.toRdd
        new Job(() => rdd, task)
      }
      else new Job(() => plan.select(plan.columns.map(col): _*).queryExecution.toRdd, task)

    /** Run round `epoch`'s job — one batch per partition — and release its
      * published broadcasts. */
    def collect[P](job: Job[P], epoch: Int): Array[P] = {
      round.value = Integer.valueOf(epoch)
      val parts = job.submit(sc)
      live.foreach(_.destroy()); live.clear()
      parts
    }

    def close(): Unit = {
      delta.close()
      owned.foreach(_.destroy()); owned.clear()
      if (remapped) dense.foreach(_.unpersist())
      if (ownsPack) packed.foreach(_.unpersist())
    }
  }

  /** Pack position of each state id when `state` holds exactly the
    * vertices of the numbering `pack` (same count, every id found, none
    * twice), else None. One map lookup per row. */
  private def alignment(pack: Array[Long], state: Array[Long]): Option[Array[Int]] =
    if (pack.length != state.length) None
    else {
      val pos = StateMap.longLong(pack, Array.tabulate(pack.length)(_.toLong), pack.length)
      val seen = new java.util.BitSet(pack.length)
      val out = new Array[Int](state.length)
      var i = 0
      while (i < state.length) {
        val at = PackedAdjacency.positionOf(pos, state(i))
        if (at < 0 || seen.get(at)) return None
        out(i) = at; seen.set(at); i += 1
      }
      Some(out)
    }

  /** Driver side of the delta transport (see DeltaState): the base
    * snapshot broadcast, the cumulative absolute overrides since it (state
    * position -> value, size key -> size), and the per-round Payload in
    * `ref`. Absolute overrides keep executor-side application idempotent. */
  final class Delta private[Superstep] (run: Run) {
    val ref = new StateMap.Ref[Broadcast[DeltaState.Payload]](null)
    private val runId = DeltaState.newRunId()
    private var base: Broadcast[DeltaState.FullState] = null
    private var baseEpoch = 0
    private val cumPos = new LongMap[Long]()
    private val cumSizes = new LongMap[Long]()

    def set(at: Int, v: Long): Unit = cumPos(at.toLong) = v
    def setSize(k: Long, size: Long): Unit = cumSizes(k) = size

    /** Publish round `epoch`: refresh the base from `vals`/`sizes` when
      * there is none or the delta has grown past V/4 (no job is in flight
      * here, so destroying the old base is safe). */
    def publish(epoch: Int, vals: Array[Long], sizes: LongMap[Long]): Unit = {
      if (base == null || cumPos.size > run.n / 4) {
        val (ks, vs) = entries(sizes)
        val nb = run.sc.broadcast(new DeltaState.FullState(vals.clone(), ks, vs))
        if (base != null) base.destroy()
        base = nb; baseEpoch = epoch
        cumPos.clear(); cumSizes.clear()
      }
      val dp = new Array[Int](cumPos.size)
      val dc = new Array[Long](cumPos.size)
      var j = 0
      cumPos.foreachEntry { (p, c) => dp(j) = p.toInt; dc(j) = c; j += 1 }
      val (sk, sv) = entries(cumSizes)
      run.publish(ref, new DeltaState.Payload(runId, epoch, baseEpoch, base, dp, dc, sk, sv))
    }

    private[Superstep] def close(): Unit =
      if (base != null) { base.destroy(); base = null }
  }
}
