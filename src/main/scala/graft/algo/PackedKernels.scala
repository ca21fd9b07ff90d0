package graft.algo

import graft.util.StateMap.Ref
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{GraftExpressionBridge => EU}
import graft.util.StateMap.{LongDoubleMap, LongLongMap}

/** Per-vertex gather kernels over the CSR-packed adjacency
  * (graft.graph.PackedAdjacency): native Catalyst expressions whose
  * generated code calls the static methods below. Each consumes a
  * vertex's neighbor array plus the broadcast state maps and produces the
  * superstep's per-vertex result directly — no aggregate operator, no
  * per-edge rows, no DRAM-random aggregation-map probes (the measured
  * 32-core saturation cost of the row-based plans; see PackedAdjacency).
  *
  * Decision identity: every kernel reproduces its row-based plan's
  * arithmetic EXPRESSION-FOR-EXPRESSION — same long->double promotions,
  * same `0.0 - x` closed forms, same strict-> move conditions, same
  * (payoff/count desc, isCur desc, label asc) tie-breaks — so packed and
  * row-based strategies are pinned bitwise-identical (PackedSpec,
  * StrategySpec). Payoffs/counts are never NaN/-0.0, so primitive
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
    * (payoff, isCur, smallest-label) tie-break. Precondition (holds by
    * construction in Hedonic.runDriverState): `size` covers every value of `comm`.
    *
    * `wts` null = unweighted. Weighted (Config.weighted): friendship mass =
    * weight sum (dvals), strangers stay count-based (lvals) — mirrors
    * gatherBoth + the weighted decideFromCounts expression-for-expression
    * (unit weights reproduce the unweighted doubles bitwise). */
  def kHedonic(id: Long, nbrs: ArrayData, wts: ArrayData, comm: LongLongMap,
               size: LongLongMap, alpha: Double): Long = {
    val sCur = comm.slot(id)
    if (sCur < 0) return NULLV
    val curComm = comm.valueAt(sCur)
    val n = nbrs.numElements()
    val s = scratch.get()
    s.begin(n)
    var i = 0
    while (i < n) {
      val cs = comm.slot(nbrs.getLong(i))
      if (cs >= 0) {
        if (wts == null) s.addLong(comm.valueAt(cs), 1L)
        else s.addBoth(comm.valueAt(cs), 1L, wts.getDouble(i))
      }
      i += 1
    }
    hedonicDecideTail(s, weighted = wts != null, curComm, size, alpha)
  }

  /** Dense-index twin of kHedonic (numbered-pack path): `nbrs`
    * hold POSITIONS into the driver state array (-1 = endpoint outside the
    * state table, the hash kernel's slot<0 skip), `comm` is the bare
    * per-round values array. One direct 8-byte read per neighbor replaces
    * the ~2 random hash-probe cache lines per edge that saturate DRAM at
    * high core counts (BASELINE.md round-3 decomposition); the shared
    * decide tail keeps the decision bitwise-identical. */
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

  /** Shared decide tail (payoff -> canonical argmax -> strict-improvement)
    * over the gathered scratch counts — one body for the hash and indexed
    * kernels so their decisions are identical by construction. */
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
      // in Hedonic.runDriverState, but Explain/tests call the kernel with hand-built
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
    * `wts` null => unweighted (each vote 1.0, matching count cast double). */
  def kLabel(id: Long, nbrs: ArrayData, wts: ArrayData, lab: LongLongMap): Long = {
    val sCur = lab.slot(id)
    if (sCur < 0) return NULLV
    val cur = lab.valueAt(sCur)
    val n = nbrs.numElements()
    val s = scratch.get()
    s.begin(n)
    var i = 0
    while (i < n) {
      val ls = lab.slot(nbrs.getLong(i))
      if (ls >= 0) s.addDouble(lab.valueAt(ls), if (wts == null) 1.0 else wts.getDouble(i))
      i += 1
    }
    labelDecideTail(s, cur)
  }

  /** Dense-index twin of kLabel (see kHedonicIdx for the remap contract). */
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
    * PageRank.iterPlanMap's contrib column + sum): sum over neighbors u of
    * rank(u)/deg(u) (times w when weighted), skipping neighbors outside
    * the rank map. NaN = zero contributors (the row-based plan's
    * filter-drop); unreachable otherwise since all inputs are finite
    * positive. */
  def kContrib(nbrs: ArrayData, wts: ArrayData, rank: LongDoubleMap,
               deg: LongDoubleMap): Double = {
    val n = nbrs.numElements()
    var sum = 0.0
    var any = false
    var i = 0
    while (i < n) {
      val k = nbrs.getLong(i)
      val rs = rank.slot(k)
      if (rs >= 0) {
        val ds = deg.slot(k)
        if (ds >= 0) {
          val r = rank.valueAt(rs)
          val d = deg.valueAt(ds)
          sum += (if (wts == null) r / d else r * wts.getDouble(i) / d)
          any = true
        }
      }
      i += 1
    }
    if (any) sum else Double.NaN
  }

  /** Dense-index twin of kContrib. Unweighted (`wts`/`deg` null): `q` is
    * the PRE-DIVIDED per-vertex contribution rank(u)/deg(u), computed once
    * on the driver (same IEEE division the hash kernel performed per edge,
    * so sums are bitwise-identical) — ONE direct read per neighbor instead
    * of two hash probes. Weighted: `q` = rank, `deg` = strength; the
    * (r*w)/d evaluation order matches kContrib exactly. */
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

  /** Hub-segment partial: (community, friends) counts for one segment's
    * neighbors — the multi-segment branch sums these with a regular
    * aggregate before the shared decide tail. */
  def kCommCounts(nbrs: ArrayData, comm: LongLongMap): ArrayData = {
    val n = nbrs.numElements()
    val s = scratch.get()
    s.begin(n)
    var i = 0
    while (i < n) {
      val cs = comm.slot(nbrs.getLong(i))
      if (cs >= 0) s.addLong(comm.valueAt(cs), 1L)
      i += 1
    }
    val out = new Array[Any](s.nUsed)
    var j = 0
    while (j < s.nUsed) {
      out(j) = new GenericInternalRow(Array[Any](s.keyAt(j), s.longAt(j)))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Hub-segment partial, weighted: (community, friends, wfriends) per
    * segment — the weighted-hedonic hub branch sums both before the shared
    * decide tail. */
  def kCommCountsW(nbrs: ArrayData, wts: ArrayData, comm: LongLongMap): ArrayData = {
    val n = nbrs.numElements()
    val s = scratch.get()
    s.begin(n)
    var i = 0
    while (i < n) {
      val cs = comm.slot(nbrs.getLong(i))
      if (cs >= 0) s.addBoth(comm.valueAt(cs), 1L, wts.getDouble(i))
      i += 1
    }
    val out = new Array[Any](s.nUsed)
    var j = 0
    while (j < s.nUsed) {
      out(j) = new GenericInternalRow(Array[Any](s.keyAt(j), s.longAt(j), s.doubleAt(j)))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Hub-segment partial: (label, vote) sums for one segment. */
  def kLabelVotes(nbrs: ArrayData, wts: ArrayData, lab: LongLongMap): ArrayData = {
    val n = nbrs.numElements()
    val s = scratch.get()
    s.begin(n)
    var i = 0
    while (i < n) {
      val ls = lab.slot(nbrs.getLong(i))
      if (ls >= 0) s.addDouble(lab.valueAt(ls), if (wts == null) 1.0 else wts.getDouble(i))
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
  private val ldCls = classOf[LongDoubleMap].getName


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

  private case class HedonicDecideE(idE: Expression, nbrsE: Expression,
      wtsE: Option[Expression],
      commB: Ref[org.apache.spark.broadcast.Broadcast[LongLongMap]], sizeB: Ref[org.apache.spark.broadcast.Broadcast[LongLongMap]], alpha: Double)
      extends Expression {
    override def children: Seq[Expression] = Seq(idE, nbrsE) ++ wtsE
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def eval(input: InternalRow): Any = {
      val id = idE.eval(input)
      val nb = nbrsE.eval(input)
      if (id == null || nb == null) null
      else {
        val w = wtsE.map(_.eval(input).asInstanceOf[ArrayData]).orNull
        val v = kHedonic(id.asInstanceOf[Long], nb.asInstanceOf[ArrayData], w,
          commB.value.value, sizeB.value.value, alpha)
        if (v == NULLV) null else v
      }
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cMap = mapState(ctx, commB, llCls)
      val sMap = mapState(ctx, sizeB, llCls)
      val aRef = ctx.addReferenceObj("alpha", java.lang.Double.valueOf(alpha), "java.lang.Double")
      val aVar = ctx.addMutableState("double", "alphaVal", v => s"$v = $aRef.doubleValue();")
      val idG = idE.genCode(ctx)
      val nbG = nbrsE.genCode(ctx)
      val adCls = classOf[ArrayData].getName
      val (wCode, wVal) = wtsE match {
        case Some(w) =>
          val g = w.genCode(ctx)
          (g.code, s"($adCls)(${g.isNull} ? null : ${g.value})")
        case None => (code"", s"($adCls) null")
      }
      ev.copy(code = code"""
        ${idG.code}
        ${nbG.code}
        $wCode
        boolean ${ev.isNull} = true;
        long ${ev.value} = 0L;
        if (!${idG.isNull} && !${nbG.isNull}) {
          ${ev.value} = graft.algo.PackedKernels.kHedonic(
            ${idG.value}, ${nbG.value}, $wVal, $cMap, $sMap, $aVar);
          ${ev.isNull} = ${ev.value} == java.lang.Long.MIN_VALUE;
        }""")
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(idE = newChildren(0), nbrsE = newChildren(1),
        wtsE = if (wtsE.isDefined) Some(newChildren(2)) else None)
  }

  private case class LabelDecideE(idE: Expression, nbrsE: Expression,
      wtsE: Option[Expression], labB: Ref[org.apache.spark.broadcast.Broadcast[LongLongMap]])
      extends Expression {
    override def children: Seq[Expression] = Seq(idE, nbrsE) ++ wtsE
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def eval(input: InternalRow): Any = {
      val id = idE.eval(input)
      val nb = nbrsE.eval(input)
      if (id == null || nb == null) null
      else {
        val w = wtsE.map(_.eval(input).asInstanceOf[ArrayData]).orNull
        val v = kLabel(id.asInstanceOf[Long], nb.asInstanceOf[ArrayData], w, labB.value.value)
        if (v == NULLV) null else v
      }
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val lMap = mapState(ctx, labB, llCls)
      val idG = idE.genCode(ctx)
      val nbG = nbrsE.genCode(ctx)
      val adCls = classOf[ArrayData].getName
      val (wCode, wVal) = wtsE match {
        case Some(w) =>
          val g = w.genCode(ctx)
          (g.code, s"($adCls)(${g.isNull} ? null : ${g.value})")
        case None => (code"", s"($adCls) null")
      }
      ev.copy(code = code"""
        ${idG.code}
        ${nbG.code}
        $wCode
        boolean ${ev.isNull} = true;
        long ${ev.value} = 0L;
        if (!${idG.isNull} && !${nbG.isNull}) {
          ${ev.value} = graft.algo.PackedKernels.kLabel(
            ${idG.value}, ${nbG.value}, $wVal, $lMap);
          ${ev.isNull} = ${ev.value} == java.lang.Long.MIN_VALUE;
        }""")
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(idE = newChildren(0), nbrsE = newChildren(1),
        wtsE = if (wtsE.isDefined) Some(newChildren(2)) else None)
  }

  private case class PrContribE(nbrsE: Expression, wtsE: Option[Expression],
      rankB: Ref[org.apache.spark.broadcast.Broadcast[LongDoubleMap]], degB: Ref[org.apache.spark.broadcast.Broadcast[LongDoubleMap]])
      extends Expression {
    override def children: Seq[Expression] = Seq(nbrsE) ++ wtsE
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def eval(input: InternalRow): Any = {
      val nb = nbrsE.eval(input)
      if (nb == null) null
      else {
        val w = wtsE.map(_.eval(input).asInstanceOf[ArrayData]).orNull
        val v = kContrib(nb.asInstanceOf[ArrayData], w, rankB.value.value, degB.value.value)
        if (java.lang.Double.isNaN(v)) null else v
      }
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val rMap = mapState(ctx, rankB, ldCls)
      val dMap = mapState(ctx, degB, ldCls)
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
          ${ev.value} = graft.algo.PackedKernels.kContrib(
            ${nbG.value}, $wVal, $rMap, $dMap);
          ${ev.isNull} = java.lang.Double.isNaN(${ev.value});
        }""")
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(nbrsE = newChildren(0),
        wtsE = if (wtsE.isDefined) Some(newChildren(1)) else None)
  }

  /** Dense-index expression twins (numbered-pack path, maxSegs
    * == 1 only — hub graphs stay on the hash kernels). State Refs carry
    * per-round broadcasts of BARE primitive arrays. */
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

  /** Delta-transport twin of LabelDecideIdxE (labels ride
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

  private case class LabelDecideIdxE(idxE: Expression, nbrsE: Expression,
      wtsE: Option[Expression],
      labB: Ref[org.apache.spark.broadcast.Broadcast[Array[Long]]])
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
        val v = kLabelIdx(mi.asInstanceOf[Int], nb.asInstanceOf[ArrayData], w, labB.value.value)
        if (v == NULLV) null else v
      }
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val lArr = arrState(ctx, labB, "long[]")
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

  /** Hub-branch partials are cold (multi-segment vertices only), so these
    * two stay interpreted (CodegenFallback) — the loop work is in the
    * static kernels either way. */
  private case class CommCountsE(nbrsE: Expression, commB: Ref[org.apache.spark.broadcast.Broadcast[LongLongMap]])
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(nbrsE)
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("community", LongType, nullable = false),
      StructField("friends", LongType, nullable = false))), containsNull = false)
    override def nullable: Boolean = true
    override def eval(input: InternalRow): Any = {
      val nb = nbrsE.eval(input)
      if (nb == null) null
      else kCommCounts(nb.asInstanceOf[ArrayData], commB.value.value)
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(nbrsE = newChildren(0))
  }

  private case class CommCountsWE(nbrsE: Expression, wtsE: Expression,
      commB: Ref[org.apache.spark.broadcast.Broadcast[LongLongMap]])
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(nbrsE, wtsE)
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("community", LongType, nullable = false),
      StructField("friends", LongType, nullable = false),
      StructField("wfriends", DoubleType, nullable = false))), containsNull = false)
    override def nullable: Boolean = true
    override def eval(input: InternalRow): Any = {
      val nb = nbrsE.eval(input)
      val w = wtsE.eval(input)
      if (nb == null || w == null) null
      else kCommCountsW(nb.asInstanceOf[ArrayData], w.asInstanceOf[ArrayData],
        commB.value.value)
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(nbrsE = newChildren(0), wtsE = newChildren(1))
  }

  private case class LabelVotesE(nbrsE: Expression, wtsE: Option[Expression],
      labB: Ref[org.apache.spark.broadcast.Broadcast[LongLongMap]])
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
        kLabelVotes(nb.asInstanceOf[ArrayData], w, labB.value.value)
      }
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(nbrsE = newChildren(0),
        wtsE = if (wtsE.isDefined) Some(newChildren(1)) else None)
  }

  // ---- Column builders ----------------------------------------------------

  def hedonicDecide(id: Column, nbrs: Column, wts: Option[Column],
      commB: Ref[org.apache.spark.broadcast.Broadcast[LongLongMap]],
      sizeB: Ref[org.apache.spark.broadcast.Broadcast[LongLongMap]], alpha: Double): Column =
    EU.column(HedonicDecideE(EU.expression(id), EU.expression(nbrs),
      wts.map(EU.expression), commB, sizeB, alpha))

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

  def labelDecideIdx(myIdx: Column, nbrs: Column, wts: Option[Column],
      labB: Ref[org.apache.spark.broadcast.Broadcast[Array[Long]]]): Column =
    EU.column(LabelDecideIdxE(EU.expression(myIdx), EU.expression(nbrs),
      wts.map(EU.expression), labB))

  def labelDecideIdxDelta(myIdx: Column, nbrs: Column, wts: Option[Column],
      stateB: Ref[org.apache.spark.broadcast.Broadcast[graft.util.DeltaState.Payload]]): Column =
    EU.column(LabelDecideIdxDeltaE(EU.expression(myIdx), EU.expression(nbrs),
      wts.map(EU.expression), stateB))

  def prContribIdx(nbrs: Column, wts: Option[Column],
      qB: Ref[org.apache.spark.broadcast.Broadcast[Array[Double]]],
      degB: Option[Ref[org.apache.spark.broadcast.Broadcast[Array[Double]]]]): Column =
    EU.column(PrContribIdxE(EU.expression(nbrs), wts.map(EU.expression), qB, degB))

  def commCountsW(nbrs: Column, wts: Column,
      commB: Ref[org.apache.spark.broadcast.Broadcast[LongLongMap]]): Column =
    EU.column(CommCountsWE(EU.expression(nbrs), EU.expression(wts), commB))

  def labelDecide(id: Column, nbrs: Column, wts: Option[Column],
      labB: Ref[org.apache.spark.broadcast.Broadcast[LongLongMap]]): Column =
    EU.column(LabelDecideE(EU.expression(id), EU.expression(nbrs),
      wts.map(EU.expression), labB))

  def prContrib(nbrs: Column, wts: Option[Column], rankB: Ref[org.apache.spark.broadcast.Broadcast[LongDoubleMap]],
      degB: Ref[org.apache.spark.broadcast.Broadcast[LongDoubleMap]]): Column =
    EU.column(PrContribE(EU.expression(nbrs), wts.map(EU.expression), rankB, degB))

  def commCounts(nbrs: Column, commB: Ref[org.apache.spark.broadcast.Broadcast[LongLongMap]]): Column =
    EU.column(CommCountsE(EU.expression(nbrs), commB))

  def labelVotes(nbrs: Column, wts: Option[Column], labB: Ref[org.apache.spark.broadcast.Broadcast[LongLongMap]]): Column =
    EU.column(LabelVotesE(EU.expression(nbrs), wts.map(EU.expression), labB))
}
