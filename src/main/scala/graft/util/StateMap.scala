package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.{GraftExpressionBridge => ExpressionUtils}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}

/** Driver-resident iteration state carried into REUSED plans: compact
  * primitive hash maps + codegen'd Catalyst lookup expressions + mutable
  * Ref cells.
  *
  * Why not LocalRelation + broadcast hash join for the per-superstep state
  * side? Measured on the 66.7M-edge scaling graph (round 3 probe): each
  * BroadcastExchange whose child is a LocalRelation launches a REAL job —
  * `SparkPlan.executeCollectIterator` runs `leafNodeDefaultParallelism`
  * tasks with the V-row state serialized into the task closures (the
  * "task of very large size 3000 KiB" warnings) — three such jobs per
  * hedonic superstep at 0.4–2.5 s wall each, plus the broadcast relation
  * build, against ~0.1 s of actual task work. That serial driver cost is
  * flat in the core count, which is exactly what the N-vs-4N scaling
  * efficiency target penalizes.
  *
  * Here the V-row state crosses into the plan as an open-addressing
  * primitive map (8–16 B per vertex, no boxing) inside a Ref cell, and
  * the gather side reads it through a native Catalyst `Expression` with
  * `doGenCode` — a hash probe inside the whole-stage-codegen'd scan, zero
  * extra jobs, zero extra stages. A superstep is then ONE single-stage
  * job on the cached adjacency, and because the plan only sees the Ref,
  * the SAME DataFrame is re-collected every round with fresh contents.
  *
  * On a real cluster the same shape holds: the map rides the stage's
  * torrent-broadcast taskBinary, shipping once per executor.
  */
object StateMap {

  /** Serializable mutable cell carrying per-round iteration state into a
    * REUSED plan. The superstep loops build their DataFrame ONCE and call
    * collect() on the same object every round, mutating only the Refs in
    * between: Dataset memoizes its QueryExecution, so analysis,
    * optimization, physical planning, and codegen lookup all happen once
    * per RUN instead of once per superstep (measured ~0.2-0.4 s of flat
    * serial driver time per round). The Ref's value is captured by each
    * job's closure serialization, so a sequential loop sees each round's
    * contents exactly.
    *
    * The payload for V-row maps must be a per-round BROADCAST HANDLE, not
    * the map itself: a handle serializes to an id and the map ships
    * executor-cached, while a bare map rides the taskBinary and EVERY
    * TASK re-deserializes the full 16+ MB — measured to double the
    * 66.7M-edge superstep wall at 32 cores. Scalars (the round number)
    * ride the Ref directly.
    * @volatile orders the driver-side write before the job submission's
    * serialization read. */
  final class Ref[T](@volatile var value: T) extends Serializable

  private val EMPTY = Long.MinValue

  @inline private def mix(k: Long): Long = {
    var z = k + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def capacityFor(n: Int): Int = {
    var c = 64
    while (c < n * 2) c <<= 1 // load factor <= 0.5 => probe chains terminate
    c
  }

  /** Immutable open-addressing long -> long map (linear probing).
    * `slot` returns -1 for absent keys; pair it with `valueAt`. */
  final class LongLongMap private[StateMap] (
      val keys: Array[Long], val vals: Array[Long], mask: Int)
      extends Serializable {
    def slot(k: Long): Int = {
      var i = (mix(k) & mask).toInt
      while (keys(i) != EMPTY) {
        if (keys(i) == k) return i
        i = (i + 1) & mask
      }
      -1
    }
    def valueAt(i: Int): Long = vals(i)
  }

  /** Immutable open-addressing long -> double map (linear probing). */
  final class LongDoubleMap private[StateMap] (
      val keys: Array[Long], val vals: Array[Double], mask: Int)
      extends Serializable {
    def slot(k: Long): Int = {
      var i = (mix(k) & mask).toInt
      while (keys(i) != EMPTY) {
        if (keys(i) == k) return i
        i = (i + 1) & mask
      }
      -1
    }
    def valueAt(i: Int): Double = vals(i)
  }

  /** Build from parallel arrays; the first `n` entries are used. Duplicate
    * keys keep the LAST value (callers pass key-unique state). */
  def longLong(ids: Array[Long], values: Array[Long], n: Int): LongLongMap = {
    val cap = capacityFor(n)
    val mask = cap - 1
    val keys = Array.fill(cap)(EMPTY)
    val vals = new Array[Long](cap)
    var j = 0
    while (j < n) {
      val k = ids(j)
      require(k != EMPTY, "Long.MinValue key unsupported")
      var i = (mix(k) & mask).toInt
      while (keys(i) != EMPTY && keys(i) != k) i = (i + 1) & mask
      keys(i) = k; vals(i) = values(j)
      j += 1
    }
    new LongLongMap(keys, vals, mask)
  }

  def longDouble(ids: Array[Long], values: Array[Double], n: Int): LongDoubleMap = {
    val cap = capacityFor(n)
    val mask = cap - 1
    val keys = Array.fill(cap)(EMPTY)
    val vals = new Array[Double](cap)
    var j = 0
    while (j < n) {
      val k = ids(j)
      require(k != EMPTY, "Long.MinValue key unsupported")
      var i = (mix(k) & mask).toInt
      while (keys(i) != EMPTY && keys(i) != k) i = (i + 1) & mask
      keys(i) = k; vals(i) = values(j)
      j += 1
    }
    new LongDoubleMap(keys, vals, mask)
  }

  /** Build a long->long map from a LongMap of (key -> value) — for
    * community-size tables whose key set isn't a dense array. */
  def longLong(m: scala.collection.mutable.LongMap[Long]): LongLongMap = {
    val ids = new Array[Long](m.size)
    val vs = new Array[Long](m.size)
    var j = 0
    m.foreachEntry { (k, v) => ids(j) = k; vs(j) = v; j += 1 }
    longLong(ids, vs, j)
  }

  /** Dense positions of long ids in first-seen order: `apply` returns an
    * id's position, numbering it if unseen. Open addressing over a
    * position table that doubles at half load; keys are read back from
    * the id array, so every long is a valid id. */
  final class Numbering {
    private var keys = new Array[Long](16)
    private var at = Array.fill(64)(-1)
    private var n = 0

    def size: Int = n
    def id(p: Int): Long = keys(p)
    def ids: Array[Long] = java.util.Arrays.copyOf(keys, n)

    private def slot(k: Long): Int = {
      val mask = at.length - 1
      var i = (mix(k) & mask).toInt
      while (at(i) >= 0 && keys(at(i)) != k) i = (i + 1) & mask
      i
    }

    def apply(k: Long): Int = {
      val s = slot(k)
      if (at(s) >= 0) at(s)
      else {
        if (n == keys.length) keys = java.util.Arrays.copyOf(keys, n * 2)
        keys(n) = k; at(s) = n; n += 1
        if (2 * n > at.length) {
          at = Array.fill(at.length * 2)(-1)
          var p = 0
          while (p < n) { at(slot(keys(p))) = p; p += 1 }
        }
        n - 1
      }
    }
  }

  private[graft] val refCls = classOf[Ref[_]].getName

  /** NULL when the key is absent or the child is null — mirrors the row
    * drop an inner equi-join with the state relation performed. */
  private abstract class MapLookup extends UnaryExpression {
    override def nullable: Boolean = true
    protected def mapClass: String
    protected def mapRef: AnyRef
    protected def slotOf(k: Long): Int
    protected def valAt(i: Int): Any
    protected def javaZero: String

    override def eval(input: InternalRow): Any = {
      val k = child.eval(input)
      if (k == null) null
      else {
        val s = slotOf(k.asInstanceOf[Long])
        if (s < 0) null else valAt(s)
      }
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bRef = ctx.addReferenceObj("stateMapRef", mapRef, refCls)
      val m = ctx.addMutableState(mapClass, "stateMap",
        v => s"$v = ($mapClass) ((org.apache.spark.broadcast.Broadcast) $bRef.value()).value();")
      val kGen = child.genCode(ctx)
      val slot = ctx.freshName("slot")
      val jt = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        .javaType(dataType)
      ev.copy(code = code"""
        ${kGen.code}
        boolean ${ev.isNull} = true;
        $jt ${ev.value} = $javaZero;
        if (!${kGen.isNull}) {
          int $slot = $m.slot(${kGen.value});
          if ($slot >= 0) { ${ev.isNull} = false; ${ev.value} = $m.valueAt($slot); }
        }""")
    }
  }

  private case class LongMapLookup(child: Expression,
      ref: Ref[org.apache.spark.broadcast.Broadcast[LongLongMap]])
      extends MapLookup {
    override def dataType: DataType = LongType
    override protected def mapClass: String = classOf[LongLongMap].getName
    override protected def mapRef: AnyRef = ref
    override protected def slotOf(k: Long): Int = ref.value.value.slot(k)
    override protected def valAt(i: Int): Any = ref.value.value.valueAt(i)
    override protected def javaZero: String = "-1L"
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  private case class DoubleMapLookup(child: Expression,
      ref: Ref[org.apache.spark.broadcast.Broadcast[LongDoubleMap]])
      extends MapLookup {
    override def dataType: DataType = DoubleType
    override protected def mapClass: String = classOf[LongDoubleMap].getName
    override protected def mapRef: AnyRef = ref
    override protected def slotOf(k: Long): Int = ref.value.value.slot(k)
    override protected def valAt(i: Int): Any = ref.value.value.valueAt(i)
    override protected def javaZero: String = "-1.0"
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** An int that enters generated code through the references array
    * instead of being inlined into the source. Superstep loops put the
    * round number in every plan (the parity gate); an inlined literal
    * changes the generated source each round and defeats the Janino
    * compile cache (~0.5-1 s of serial driver time per superstep), while a
    * reference-backed value keeps the source byte-identical across rounds
    * — and a Ref-backed value additionally lets the WHOLE plan be reused
    * across rounds (see Ref). Non-foldable so constant folding cannot
    * re-inline it. */
  private case class IntRefExpr(ref: Ref[Integer]) extends LeafExpression {
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = false
    override def foldable: Boolean = false
    override def eval(input: InternalRow): Any = ref.value.intValue()
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val r = ctx.addReferenceObj("intRef", ref, refCls)
      val v = ctx.addMutableState("int", "intRefVal",
        n => s"$n = ((java.lang.Integer) $r.value()).intValue();")
      ev.copy(code = code"", isNull = org.apache.spark.sql.catalyst.expressions.codegen
        .FalseLiteral, value = org.apache.spark.sql.catalyst.expressions.codegen.JavaCode
        .variable(v, IntegerType))
    }
  }

  /** Array[Boolean] flag test at an int position (false when the position
    * is out of range, e.g. the dense remap's -1 for ids outside the state
    * table — mirroring how those rows drop at the driver). Used by the
    * frontier executor to restrict the packed superstep scan to ACTIVE
    * vertices inside the codegen'd filter — the predicate pushes below the
    * decision kernel, so inactive vertices cost one array read, not a
    * decision. */
  private case class BoolArrayAt(child: Expression,
      ref: Ref[org.apache.spark.broadcast.Broadcast[Array[Boolean]]])
      extends UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.BooleanType
    override def nullable: Boolean = false
    override def prettyName: String = "flag_at"
    override def eval(input: InternalRow): Any = {
      val k = child.eval(input)
      if (k == null) false
      else {
        val i = k.asInstanceOf[Int]
        val a = ref.value.value
        i >= 0 && i < a.length && a(i)
      }
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bRef = ctx.addReferenceObj("flagArrRef", ref, refCls)
      val arr = ctx.addMutableState("boolean[]", "flagArr",
        v => s"$v = (boolean[]) ((org.apache.spark.broadcast.Broadcast) $bRef.value()).value();")
      val kGen = child.genCode(ctx)
      ev.copy(code = code"""
        ${kGen.code}
        boolean ${ev.isNull} = false;
        boolean ${ev.value} = !${kGen.isNull} && ${kGen.value} >= 0 &&
          ${kGen.value} < $arr.length && $arr[${kGen.value}];""")
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Array[Long] read at an int position (NULL out of range). */
  private case class LongArrayAt(child: Expression,
      ref: Ref[org.apache.spark.broadcast.Broadcast[Array[Long]]])
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def prettyName: String = "long_at"
    override def eval(input: InternalRow): Any = {
      val k = child.eval(input)
      if (k == null) null
      else {
        val i = k.asInstanceOf[Int]
        val a = ref.value.value
        if (i >= 0 && i < a.length) a(i) else null
      }
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bRef = ctx.addReferenceObj("longArrRef", ref, refCls)
      val arr = ctx.addMutableState("long[]", "longArr",
        v => s"$v = (long[]) ((org.apache.spark.broadcast.Broadcast) $bRef.value()).value();")
      val kGen = child.genCode(ctx)
      ev.copy(code = code"""
        ${kGen.code}
        boolean ${ev.isNull} = true;
        long ${ev.value} = 0L;
        if (!${kGen.isNull} && ${kGen.value} >= 0 && ${kGen.value} < $arr.length) {
          ${ev.isNull} = false;
          ${ev.value} = $arr[${kGen.value}];
        }""")
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def flagAt(ref: Ref[org.apache.spark.broadcast.Broadcast[Array[Boolean]]],
      idx: Column): Column =
    ExpressionUtils.column(BoolArrayAt(ExpressionUtils.expression(idx), ref))

  def longAt(ref: Ref[org.apache.spark.broadcast.Broadcast[Array[Long]]],
      idx: Column): Column =
    ExpressionUtils.column(LongArrayAt(ExpressionUtils.expression(idx), ref))

  def lookup(ref: Ref[org.apache.spark.broadcast.Broadcast[LongLongMap]],
      key: Column): Column =
    ExpressionUtils.column(LongMapLookup(ExpressionUtils.expression(key), ref))

  def lookup(ref: Ref[org.apache.spark.broadcast.Broadcast[LongDoubleMap]],
      key: Column)(implicit d: DummyImplicit): Column =
    ExpressionUtils.column(DoubleMapLookup(ExpressionUtils.expression(key), ref))

  def intRef(value: Int): Column = intRef(new Ref(Integer.valueOf(value)))

  def intRef(ref: Ref[Integer]): Column = ExpressionUtils.column(IntRefExpr(ref))
}
