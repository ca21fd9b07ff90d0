package graft.algo

import graft.util.StateMap.Ref
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{GraftExpressionBridge => EU}
import graft.util.DeltaState
import graft.util.StateMap.LongLongMap

/** Per-vertex gather kernels over the CSR-packed adjacency
  * (graft.graph.PackedAdjacency): native Catalyst expressions whose
  * generated code calls the static methods below. Each consumes a
  * vertex segment's neighbor POSITION array (-1 = endpoint outside the
  * state, skipped) plus the per-round state — a bare primitive array or
  * the DeltaState payload, indexed by position — and produces the
  * superstep's per-vertex result directly: no aggregate operator, no
  * per-edge rows, no DRAM-random aggregation-map probes (the measured
  * 32-core saturation cost of the row-based plans; see PackedAdjacency).
  * A hub vertex's segments emit partials (kCommCounts, kLabelVotes,
  * kContribIdx) that the plan builders sum with a regular aggregate.
  *
  * Decision identity: every kernel reproduces its row-based plan's
  * arithmetic EXPRESSION-FOR-EXPRESSION — same long->double promotions,
  * same `0.0 - x` closed forms, same strict-> move conditions, same
  * (payoff/count desc, isCur desc, label asc) tie-breaks — so packed and
  * row-based strategies are pinned bitwise-identical (PackedSpec,
  * StrategySpec; PageRank to accumulation rounding). Payoffs/counts are never NaN/-0.0, so primitive
  * comparisons agree with Catalyst's double ordering.
  *
  * Null protocol: Long kernels return Long.MinValue for "no row" (the
  * row-based plans' join-drop / wants-filter), which StateMap forbids as
  * a key so it collides with no real label; the double kernel returns NaN
  * (unreachable otherwise: finite positive inputs). The wrapping
  * expressions translate the sentinels to SQL NULL.
  */
object PackedKernels {

  private[algo] final val NULLV = Long.MinValue

  @inline private def mix(k: Long): Long = {
    var z = k + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Epoch-stamped open-addressing scratch map (key -> long or double
    * accumulator), reused across rows via ThreadLocal: begin() bumps the
    * epoch instead of clearing, so a row costs zero array fills. Sized to
    * 2x the segment's neighbor count up front (distinct keys <= neighbors),
    * so probe chains terminate and no mid-row growth is needed. */
  final class Scratch {
    private var cap = 1024
    private var mask = cap - 1
    private var keys = new Array[Long](cap)
    private var stamps = new Array[Int](cap)
    private var lvals = new Array[Long](cap)
    private var dvals = new Array[Double](cap)
    private var used = new Array[Int](cap)
    private var epoch = 0
    var nUsed = 0

    def begin(expected: Int): Unit = {
      var need = 64
      while (need < expected * 2 && need < (1 << 30)) need <<= 1
      if (need > cap) {
        cap = need; mask = cap - 1
        keys = new Array[Long](cap); stamps = new Array[Int](cap)
        lvals = new Array[Long](cap); dvals = new Array[Double](cap)
        used = new Array[Int](cap)
        epoch = 0
      }
      nUsed = 0
      if (epoch == Int.MaxValue) { java.util.Arrays.fill(stamps, 0); epoch = 0 }
      epoch += 1
    }
    @inline private def slotFor(k: Long): Int = {
      var i = (mix(k) & mask).toInt
      while (stamps(i) == epoch && keys(i) != k) i = (i + 1) & mask
      i
    }
    def addLong(k: Long, v: Long): Unit = {
      val i = slotFor(k)
      if (stamps(i) != epoch) {
        stamps(i) = epoch; keys(i) = k; lvals(i) = 0L; used(nUsed) = i; nUsed += 1
      }
      lvals(i) += v
    }
    def addDouble(k: Long, v: Double): Unit = {
      val i = slotFor(k)
      if (stamps(i) != epoch) {
        stamps(i) = epoch; keys(i) = k; dvals(i) = 0.0; used(nUsed) = i; nUsed += 1
      }
      dvals(i) += v
    }
    /** Combined count + weight accumulate (weighted hedonic gather). */
    def addBoth(k: Long, lv: Long, dv: Double): Unit = {
      val i = slotFor(k)
      if (stamps(i) != epoch) {
        stamps(i) = epoch; keys(i) = k; lvals(i) = 0L; dvals(i) = 0.0
        used(nUsed) = i; nUsed += 1
      }
      lvals(i) += lv; dvals(i) += dv
    }
    def keyAt(j: Int): Long = keys(used(j))
    def longAt(j: Int): Long = lvals(used(j))
    def doubleAt(j: Int): Double = dvals(used(j))
  }

  private val scratch = new ThreadLocal[Scratch] {
    override def initialValue(): Scratch = new Scratch
  }

  /** Hedonic per-vertex decision (mirrors Hedonic.stepPlanMap +
    * decideFromCounts): NULLV unless the vertex STRICTLY wants to move;
    * otherwise the argmax candidate community under the canonical
    * (payoff, isCur, smallest-label) tie-break. `nbrs` hold POSITIONS
    * into the per-round values array `comm` (-1 = endpoint outside the
    * state table: skipped, the row plan's join drop). One direct 8-byte
    * read per neighbor replaces the ~2 random hash-probe cache lines per
    * edge that saturate DRAM at high core counts (BASELINE.md round-3
    * decomposition).
    *
    * `wts` null = unweighted. Weighted (Config.weighted): friendship mass =
    * weight sum (dvals), strangers stay count-based (lvals) — mirrors
    * gatherBoth + the weighted decideFromCounts expression-for-expression
    * (unit weights reproduce the unweighted doubles bitwise). */
  def kHedonicIdx(myIdx: Int, nbrs: ArrayData, wts: ArrayData, comm: Array[Long],
                  size: LongLongMap, alpha: Double): Long = {
    if (myIdx < 0) return NULLV
    val curComm = comm(myIdx)
    val n = nbrs.numElements()
    val s = scratch.get()
    s.begin(n)
    var i = 0
    while (i < n) {
      val ni = nbrs.getInt(i)
      if (ni >= 0) {
        if (wts == null) s.addLong(comm(ni), 1L)
        else s.addBoth(comm(ni), 1L, wts.getDouble(i))
      }
      i += 1
    }
    hedonicDecideTail(s, weighted = wts != null, curComm, size, alpha)
  }

  /** Decide tail (payoff -> canonical argmax -> strict-improvement) over
    * the gathered scratch counts. */
  @inline private def hedonicDecideTail(s: Scratch, weighted: Boolean,
      curComm: Long, size: LongLongMap, alpha: Double): Long = {
    if (s.nUsed == 0) return NULLV
    var bestP = Double.NegativeInfinity
    var bestIc = -1
    var bestC = Long.MaxValue
    var curP = 0.0
    var curSeen = false
    var j = 0
    while (j < s.nUsed) {
      val c = s.keyAt(j)
      val f = s.longAt(j)
      // slot<0 = community absent from the size map. Holds-by-construction
      // in Hedonic.runDriverState, but tests call the kernel with hand-built
      // maps (ADVICE r3) — mirror the row plan's inner-join-drop semantics
      // (decideFromCounts drops the candidate row) instead of indexing at -1.
      val css = size.slot(c)
      if (css >= 0) {
        val csize = size.valueAt(css)
        val ic = if (c == curComm) 1 else 0
        val strangers = csize - f - ic
        val fw = if (!weighted) f.toDouble else s.doubleAt(j)
        val p = fw * (1.0 - alpha) - strangers * alpha
        if (ic == 1) { curP = p; curSeen = true }
        if (p > bestP || (p == bestP && (ic > bestIc || (ic == bestIc && c < bestC)))) {
          bestP = p; bestIc = ic; bestC = c
        }
      }
      j += 1
    }
    if (!curSeen) {
      val curSlot = size.slot(curComm)
      if (curSlot < 0) return NULLV // row plan: size join drops the vertex -> no move
      curP = 0L * (1.0 - alpha) - (size.valueAt(curSlot) - 1L) * alpha
    }
    if (bestIc >= 0 && bestP > curP) bestC else NULLV
  }

  /** LPA per-vertex decision (mirrors LabelPropagation.stepPlanMap):
    * NULLV unless the (weighted) majority label differs from current.
    * `wts` null => unweighted (each vote 1.0, matching count cast double);
    * positions as in kHedonicIdx. */
  def kLabelIdx(myIdx: Int, nbrs: ArrayData, wts: ArrayData, lab: Array[Long]): Long = {
    if (myIdx < 0) return NULLV
    val cur = lab(myIdx)
    val n = nbrs.numElements()
    val s = scratch.get()
    s.begin(n)
    var i = 0
    while (i < n) {
      val ni = nbrs.getInt(i)
      if (ni >= 0) s.addDouble(lab(ni), if (wts == null) 1.0 else wts.getDouble(i))
      i += 1
    }
    labelDecideTail(s, cur)
  }

  @inline private def labelDecideTail(s: Scratch, cur: Long): Long = {
    if (s.nUsed == 0) return NULLV
    var bestCnt = Double.NegativeInfinity
    var bestL = Long.MaxValue
    var j = 0
    while (j < s.nUsed) {
      val l = s.keyAt(j)
      val c = s.doubleAt(j)
      if (c > bestCnt || (c == bestCnt && l < bestL)) { bestCnt = c; bestL = l }
      j += 1
    }
    if (bestL == cur) NULLV else bestL
  }

  /** PageRank per-vertex (or per-segment) contribution sum (mirrors
    * PageRank.iterPlanMap's contrib column + sum), skipping neighbors
    * outside the state (-1). Unweighted (`wts`/`deg` null): `q` is the
    * PRE-DIVIDED per-vertex contribution rank(u)/deg(u), computed once on
    * the driver (the same IEEE division the row plan performs per edge) —
    * ONE direct read per neighbor. Weighted: `q` = rank, `deg` = strength,
    * evaluated as (r*w)/d like the row plan. NaN = zero contributors (the
    * row plan's filter-drop); unreachable otherwise since all inputs are
    * finite positive. */
  def kContribIdx(nbrs: ArrayData, wts: ArrayData, q: Array[Double],
                  deg: Array[Double]): Double = {
    val n = nbrs.numElements()
    var sum = 0.0
    var any = false
    var i = 0
    while (i < n) {
      val ni = nbrs.getInt(i)
      if (ni >= 0) {
        sum += (if (wts == null) q(ni) else q(ni) * wts.getDouble(i) / deg(ni))
        any = true
      }
      i += 1
    }
    if (any) sum else Double.NaN
  }

  /** Hub-segment partial: (community, friends[, wfriends]) for one
    * segment's neighbor positions into `comm` — the hub branch sums these
    * with a regular aggregate before the shared decide tail. `wts` null =
    * unweighted (no wfriends field). */
  def kCommCounts(nbrs: ArrayData, wts: ArrayData, comm: Array[Long]): ArrayData = {
    val n = nbrs.numElements()
    val s = scratch.get()
    s.begin(n)
    var i = 0
    while (i < n) {
      val ni = nbrs.getInt(i)
      if (ni >= 0) {
        if (wts == null) s.addLong(comm(ni), 1L) else s.addBoth(comm(ni), 1L, wts.getDouble(i))
      }
      i += 1
    }
    val out = new Array[Any](s.nUsed)
    var j = 0
    while (j < s.nUsed) {
      out(j) = new GenericInternalRow(
        if (wts == null) Array[Any](s.keyAt(j), s.longAt(j))
        else Array[Any](s.keyAt(j), s.longAt(j), s.doubleAt(j)))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Hub-segment partial: (label, vote) sums for one segment. */
  def kLabelVotes(nbrs: ArrayData, wts: ArrayData, lab: Array[Long]): ArrayData = {
    val n = nbrs.numElements()
    val s = scratch.get()
    s.begin(n)
    var i = 0
    while (i < n) {
      val ni = nbrs.getInt(i)
      if (ni >= 0) s.addDouble(lab(ni), if (wts == null) 1.0 else wts.getDouble(i))
      i += 1
    }
    val out = new Array[Any](s.nUsed)
    var j = 0
    while (j < s.nUsed) {
      out(j) = new GenericInternalRow(Array[Any](s.keyAt(j), s.doubleAt(j)))
      j += 1
    }
    new GenericArrayData(out)
  }

  // ---- Catalyst expression wrappers --------------------------------------

  private val refCls = graft.util.StateMap.refCls
  private val llCls = classOf[LongLongMap].getName


  private def mapState(ctx: CodegenContext, b: Ref[_], cls: String): String = {
    val ref = ctx.addReferenceObj("stateRef", b, refCls)
    ctx.addMutableState(cls, "stateMap",
      v => s"$v = ($cls) ((org.apache.spark.broadcast.Broadcast) $ref.value()).value();")
  }

  /** Like mapState but for bare per-round primitive-array broadcasts
    * (`long[]` / `double[]`) — the dense-index kernels' state payload. */
  private def arrState(ctx: CodegenContext, b: Ref[_], jt: String): String = {
    val ref = ctx.addReferenceObj("stateRef", b, refCls)
    ctx.addMutableState(jt, "stateArr",
      v => s"$v = ($jt) ((org.apache.spark.broadcast.Broadcast) $ref.value()).value();")
  }

  /** kHedonicIdx over per-round broadcasts of the BARE comms array and
    * the size map (the frontier executor's plan). */
  private case class HedonicDecideIdxE(idxE: Expression, nbrsE: Expression,
      wtsE: Option[Expression],
      commB: Ref[org.apache.spark.broadcast.Broadcast[Array[Long]]],
      sizeB: Ref[org.apache.spark.broadcast.Broadcast[LongLongMap]], alpha: Double)
      extends Expression {
    override def children: Seq[Expression] = Seq(idxE, nbrsE) ++ wtsE
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def eval(input: InternalRow): Any = {
      val mi = idxE.eval(input)
      val nb = nbrsE.eval(input)
      if (mi == null || nb == null) null
      else {
        val w = wtsE.map(_.eval(input).asInstanceOf[ArrayData]).orNull
        val v = kHedonicIdx(mi.asInstanceOf[Int], nb.asInstanceOf[ArrayData], w,
          commB.value.value, sizeB.value.value, alpha)
        if (v == NULLV) null else v
      }
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cArr = arrState(ctx, commB, "long[]")
      val sMap = mapState(ctx, sizeB, llCls)
      val aRef = ctx.addReferenceObj("alpha", java.lang.Double.valueOf(alpha), "java.lang.Double")
      val aVar = ctx.addMutableState("double", "alphaVal", v => s"$v = $aRef.doubleValue();")
      val idxG = idxE.genCode(ctx)
      val nbG = nbrsE.genCode(ctx)
      val adCls = classOf[ArrayData].getName
      val (wCode, wVal) = wtsE match {
        case Some(w) =>
          val g = w.genCode(ctx)
          (g.code, s"($adCls)(${g.isNull} ? null : ${g.value})")
        case None => (code"", s"($adCls) null")
      }
      ev.copy(code = code"""
        ${idxG.code}
        ${nbG.code}
        $wCode
        boolean ${ev.isNull} = true;
        long ${ev.value} = 0L;
        if (!${idxG.isNull} && !${nbG.isNull}) {
          ${ev.value} = graft.algo.PackedKernels.kHedonicIdx(
            ${idxG.value}, ${nbG.value}, $wVal, $cArr, $sMap, $aVar);
          ${ev.isNull} = ${ev.value} == java.lang.Long.MIN_VALUE;
        }""")
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(idxE = newChildren(0), nbrsE = newChildren(1),
        wtsE = if (wtsE.isDefined) Some(newChildren(2)) else None)
  }

  /** Delta-transport twin of HedonicDecideIdxE: the per-round broadcast
    * carries a DeltaState.Payload (base snapshot handle + cumulative
    * overrides) instead of the bare arrays; the resolver reconstructs —
    * usually in place, O(delta) — once per task, then the kernel tail is
    * IDENTICAL (same kHedonicIdx), so decisions are bitwise-equal to the
    * bare-array plan (PackedSpec pins this). */
  private case class HedonicDecideIdxDeltaE(idxE: Expression, nbrsE: Expression,
      wtsE: Option[Expression],
      stateB: Ref[org.apache.spark.broadcast.Broadcast[graft.util.DeltaState.Payload]],
      alpha: Double)
      extends Expression {
    override def children: Seq[Expression] = Seq(idxE, nbrsE) ++ wtsE
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def eval(input: InternalRow): Any = {
      val mi = idxE.eval(input)
      val nb = nbrsE.eval(input)
      if (mi == null || nb == null) null
      else {
        val p = stateB.value.value
        val w = wtsE.map(_.eval(input).asInstanceOf[ArrayData]).orNull
        val v = kHedonicIdx(mi.asInstanceOf[Int], nb.asInstanceOf[ArrayData], w,
          graft.util.DeltaState.comms(p), graft.util.DeltaState.sizes(p), alpha)
        if (v == NULLV) null else v
      }
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("stateRef", stateB, refCls)
      val bc = "((org.apache.spark.broadcast.Broadcast) " + ref + ".value()).value()"
      val cArr = ctx.addMutableState("long[]", "stateArr",
        v => s"$v = graft.util.DeltaState.comms($bc);")
      val sMap = ctx.addMutableState(llCls, "stateMap",
        v => s"$v = ($llCls) graft.util.DeltaState.sizes($bc);")
      val aRef = ctx.addReferenceObj("alpha", java.lang.Double.valueOf(alpha), "java.lang.Double")
      val aVar = ctx.addMutableState("double", "alphaVal", v => s"$v = $aRef.doubleValue();")
      val idxG = idxE.genCode(ctx)
      val nbG = nbrsE.genCode(ctx)
      val adCls = classOf[ArrayData].getName
      val (wCode, wVal) = wtsE match {
        case Some(w) =>
          val g = w.genCode(ctx)
          (g.code, s"($adCls)(${g.isNull} ? null : ${g.value})")
        case None => (code"", s"($adCls) null")
      }
      ev.copy(code = code"""
        ${idxG.code}
        ${nbG.code}
        $wCode
        boolean ${ev.isNull} = true;
        long ${ev.value} = 0L;
        if (!${idxG.isNull} && !${nbG.isNull}) {
          ${ev.value} = graft.algo.PackedKernels.kHedonicIdx(
            ${idxG.value}, ${nbG.value}, $wVal, $cArr, $sMap, $aVar);
          ${ev.isNull} = ${ev.value} == java.lang.Long.MIN_VALUE;
        }""")
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(idxE = newChildren(0), nbrsE = newChildren(1),
        wtsE = if (wtsE.isDefined) Some(newChildren(2)) else None)
  }

  /** kLabelIdx over the delta transport (labels ride
    * DeltaState.Payload.comms; the size lane is unused/empty). */
  private case class LabelDecideIdxDeltaE(idxE: Expression, nbrsE: Expression,
      wtsE: Option[Expression],
      stateB: Ref[org.apache.spark.broadcast.Broadcast[graft.util.DeltaState.Payload]])
      extends Expression {
    override def children: Seq[Expression] = Seq(idxE, nbrsE) ++ wtsE
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def eval(input: InternalRow): Any = {
      val mi = idxE.eval(input)
      val nb = nbrsE.eval(input)
      if (mi == null || nb == null) null
      else {
        val w = wtsE.map(_.eval(input).asInstanceOf[ArrayData]).orNull
        val v = kLabelIdx(mi.asInstanceOf[Int], nb.asInstanceOf[ArrayData], w,
          graft.util.DeltaState.comms(stateB.value.value))
        if (v == NULLV) null else v
      }
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("stateRef", stateB, refCls)
      val bc = "((org.apache.spark.broadcast.Broadcast) " + ref + ".value()).value()"
      val lArr = ctx.addMutableState("long[]", "stateArr",
        v => s"$v = graft.util.DeltaState.comms($bc);")
      val idxG = idxE.genCode(ctx)
      val nbG = nbrsE.genCode(ctx)
      val adCls = classOf[ArrayData].getName
      val (wCode, wVal) = wtsE match {
        case Some(w) =>
          val g = w.genCode(ctx)
          (g.code, s"($adCls)(${g.isNull} ? null : ${g.value})")
        case None => (code"", s"($adCls) null")
      }
      ev.copy(code = code"""
        ${idxG.code}
        ${nbG.code}
        $wCode
        boolean ${ev.isNull} = true;
        long ${ev.value} = 0L;
        if (!${idxG.isNull} && !${nbG.isNull}) {
          ${ev.value} = graft.algo.PackedKernels.kLabelIdx(
            ${idxG.value}, ${nbG.value}, $wVal, $lArr);
          ${ev.isNull} = ${ev.value} == java.lang.Long.MIN_VALUE;
        }""")
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(idxE = newChildren(0), nbrsE = newChildren(1),
        wtsE = if (wtsE.isDefined) Some(newChildren(2)) else None)
  }

  private case class PrContribIdxE(nbrsE: Expression, wtsE: Option[Expression],
      qB: Ref[org.apache.spark.broadcast.Broadcast[Array[Double]]],
      degB: Option[Ref[org.apache.spark.broadcast.Broadcast[Array[Double]]]])
      extends Expression {
    override def children: Seq[Expression] = Seq(nbrsE) ++ wtsE
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def eval(input: InternalRow): Any = {
      val nb = nbrsE.eval(input)
      if (nb == null) null
      else {
        val w = wtsE.map(_.eval(input).asInstanceOf[ArrayData]).orNull
        val v = kContribIdx(nb.asInstanceOf[ArrayData], w, qB.value.value,
          degB.map(_.value.value).orNull)
        if (java.lang.Double.isNaN(v)) null else v
      }
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val qArr = arrState(ctx, qB, "double[]")
      val dArr = degB.map(arrState(ctx, _, "double[]")).getOrElse("null")
      val nbG = nbrsE.genCode(ctx)
      val adCls = classOf[ArrayData].getName
      val (wCode, wVal) = wtsE match {
        case Some(w) =>
          val g = w.genCode(ctx)
          (g.code, s"($adCls)(${g.isNull} ? null : ${g.value})")
        case None => (code"", s"($adCls) null")
      }
      ev.copy(code = code"""
        ${nbG.code}
        $wCode
        boolean ${ev.isNull} = true;
        double ${ev.value} = 0.0;
        if (!${nbG.isNull}) {
          ${ev.value} = graft.algo.PackedKernels.kContribIdx(
            ${nbG.value}, $wVal, $qArr, (double[]) $dArr);
          ${ev.isNull} = java.lang.Double.isNaN(${ev.value});
        }""")
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(nbrsE = newChildren(0),
        wtsE = if (wtsE.isDefined) Some(newChildren(1)) else None)
  }

  /** Hub-branch partials and lookups are cold (multi-segment vertices
    * only), so they stay interpreted (CodegenFallback) — the loop work is
    * in the static kernels either way. All read the delta payload by
    * position. */
  private case class CommCountsE(nbrsE: Expression, wtsE: Option[Expression],
      stateB: Ref[org.apache.spark.broadcast.Broadcast[DeltaState.Payload]])
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(nbrsE) ++ wtsE
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("community", LongType, nullable = false),
      StructField("friends", LongType, nullable = false)) ++
      wtsE.map(_ => StructField("wfriends", DoubleType, nullable = false))), containsNull = false)
    override def nullable: Boolean = true
    override def eval(input: InternalRow): Any = {
      val nb = nbrsE.eval(input)
      if (nb == null) null
      else {
        val w = wtsE.map(_.eval(input).asInstanceOf[ArrayData]).orNull
        kCommCounts(nb.asInstanceOf[ArrayData], w, DeltaState.comms(stateB.value.value))
      }
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(nbrsE = newChildren(0),
        wtsE = if (wtsE.isDefined) Some(newChildren(1)) else None)
  }

  private case class LabelVotesE(nbrsE: Expression, wtsE: Option[Expression],
      stateB: Ref[org.apache.spark.broadcast.Broadcast[DeltaState.Payload]])
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(nbrsE) ++ wtsE
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("nbrLabel", LongType, nullable = false),
      StructField("cnt", DoubleType, nullable = false))), containsNull = false)
    override def nullable: Boolean = true
    override def eval(input: InternalRow): Any = {
      val nb = nbrsE.eval(input)
      if (nb == null) null
      else {
        val w = wtsE.map(_.eval(input).asInstanceOf[ArrayData]).orNull
        kLabelVotes(nb.asInstanceOf[ArrayData], w, DeltaState.comms(stateB.value.value))
      }
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(nbrsE = newChildren(0),
        wtsE = if (wtsE.isDefined) Some(newChildren(1)) else None)
  }

  /** The payload's value at a position; NULL outside the comms array
    * (e.g. -1). The hub branch's current-value lookup. */
  private case class CommAt(child: Expression,
      stateB: Ref[org.apache.spark.broadcast.Broadcast[DeltaState.Payload]])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override protected def nullSafeEval(pos: Any): Any = {
      val a = DeltaState.comms(stateB.value.value)
      val i = pos.asInstanceOf[Int]
      if (i >= 0 && i < a.length) a(i) else null
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** The payload's size of a community; NULL when absent. The hub
    * branch's size lookup. */
  private case class SizeOf(child: Expression,
      stateB: Ref[org.apache.spark.broadcast.Broadcast[DeltaState.Payload]])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override protected def nullSafeEval(comm: Any): Any = {
      val m = DeltaState.sizes(stateB.value.value)
      val s = m.slot(comm.asInstanceOf[Long])
      if (s < 0) null else m.valueAt(s)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  // ---- Column builders ----------------------------------------------------

  def hedonicDecideIdx(myIdx: Column, nbrs: Column, wts: Option[Column],
      commB: Ref[org.apache.spark.broadcast.Broadcast[Array[Long]]],
      sizeB: Ref[org.apache.spark.broadcast.Broadcast[LongLongMap]], alpha: Double): Column =
    EU.column(HedonicDecideIdxE(EU.expression(myIdx), EU.expression(nbrs),
      wts.map(EU.expression), commB, sizeB, alpha))

  def hedonicDecideIdxDelta(myIdx: Column, nbrs: Column, wts: Option[Column],
      stateB: Ref[org.apache.spark.broadcast.Broadcast[graft.util.DeltaState.Payload]],
      alpha: Double): Column =
    EU.column(HedonicDecideIdxDeltaE(EU.expression(myIdx), EU.expression(nbrs),
      wts.map(EU.expression), stateB, alpha))

  def labelDecideIdxDelta(myIdx: Column, nbrs: Column, wts: Option[Column],
      stateB: Ref[org.apache.spark.broadcast.Broadcast[graft.util.DeltaState.Payload]]): Column =
    EU.column(LabelDecideIdxDeltaE(EU.expression(myIdx), EU.expression(nbrs),
      wts.map(EU.expression), stateB))

  def prContribIdx(nbrs: Column, wts: Option[Column],
      qB: Ref[org.apache.spark.broadcast.Broadcast[Array[Double]]],
      degB: Option[Ref[org.apache.spark.broadcast.Broadcast[Array[Double]]]]): Column =
    EU.column(PrContribIdxE(EU.expression(nbrs), wts.map(EU.expression), qB, degB))

  def commCounts(nbrs: Column, wts: Option[Column],
      stateB: Ref[org.apache.spark.broadcast.Broadcast[DeltaState.Payload]]): Column =
    EU.column(CommCountsE(EU.expression(nbrs), wts.map(EU.expression), stateB))

  def labelVotes(nbrs: Column, wts: Option[Column],
      stateB: Ref[org.apache.spark.broadcast.Broadcast[DeltaState.Payload]]): Column =
    EU.column(LabelVotesE(EU.expression(nbrs), wts.map(EU.expression), stateB))

  /** The payload's value at position `pos` (see CommAt). */
  def stateAt(stateB: Ref[org.apache.spark.broadcast.Broadcast[DeltaState.Payload]],
      pos: Column): Column =
    EU.column(CommAt(EU.expression(pos), stateB))

  /** The payload's size of community `comm` (see SizeOf). */
  def sizeAt(stateB: Ref[org.apache.spark.broadcast.Broadcast[DeltaState.Payload]],
      comm: Column): Column =
    EU.column(SizeOf(EU.expression(comm), stateB))
}
