package graft.io

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}

/** Lineage + statistics barrier for iterative dataflows.
  *
  * `df.localCheckpoint(true)` alone is NOT enough for a superstep loop on
  * Spark 4: the resulting LogicalRDD PRESERVES the origin plan's estimated
  * statistics, and a hedonic/PageRank/CC round joins the previous state
  * back in k times, so sizeInBytes estimates multiply ~k^superstep. After
  * ~10 rounds the SizeInBytesOnlyStatsPlanVisitor is multiplying BigInts
  * with millions of digits and the DRIVER becomes the bottleneck (observed:
  * main thread pegged in BigInteger.multiplyToomCook3).
  *
  * `pin` materializes the state (eager localCheckpoint — cached, RDD
  * lineage truncated) and then re-wraps the cached RDD via
  * `createDataFrame(rdd, schema)`, whose LogicalRDD carries NO origin
  * stats — the estimate resets to the flat default every round. The extra
  * cost is one InternalRow<->Row conversion over the (small, V-row) state
  * per downstream job — noise next to a superstep's shuffles.
  */
object Iterate {
  // release() of a locally-checkpointed RDD intentionally discards
  // recomputability (the NEXT state is already materialized before the
  // previous is dropped); Spark's per-unpersist WARN about it would fire
  // once per superstep — silence that single logger, nothing else.
  try org.apache.logging.log4j.core.config.Configurator.setLevel(
    "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
  catch { case _: Throwable => () }

  /** The stats-free re-wrap: the checkpointed plan is a LogicalRDD over
    * the cached INTERNAL-row RDD — wrap that RDD directly
    * (GraftExpressionBridge.internalDataFrame), so consumers scan the
    * compact cache with zero conversion. The public-API fallback
    * (`createDataFrame(c.rdd, ...)`) deserializes every cached row into a
    * boxed Row and re-encodes it on EVERY consumer pass — measured ~0.3 s
    * per scan of the sf0.1 edge pin, and gather-shaped queries scan a pin
    * up to 6x (sym doubles it, members twice more). Both wraps produce a
    * LogicalRDD with flat default stats — the barrier this object exists
    * for. */
  private def rewrap(c: DataFrame): DataFrame =
    c.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    } match {
      case Some(internal) =>
        org.apache.spark.sql.GraftExpressionBridge.internalDataFrame(
          c.sparkSession, internal, c.schema)
      case None => c.sparkSession.createDataFrame(c.rdd, c.schema)
    }

  def pin(df: DataFrame): DataFrame =
    rewrap(df.localCheckpoint(true))

  /** `pin` with a release handle and no extra job — a loop's initial
    * state, released like every later round's once the next is pinned. */
  def pinned(df: DataFrame): Pinned = {
    val (c, release) = checkpointed(df)
    new Pinned(rewrap(c), Array.empty, release)
  }

  /** Eager localCheckpoint and the release handle of its cached internal
    * RDD (the checkpointed plan is a LogicalRDD over it). */
  private def checkpointed(df: DataFrame): (DataFrame, () => Unit) = {
    val c = df.localCheckpoint(true)
    val internal = c.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    (c, () => internal.foreach(_.unpersist(blocking = false)))
  }

  /** A pinned iteration state plus the column sums observed while pinning.
    * `release()` drops the backing cache once the NEXT state is pinned —
    * without it a long superstep loop accumulates one cached copy of the
    * state per round in the block manager. */
  final class Pinned private[Iterate] (val df: DataFrame, val sums: Array[Double],
                                       releaseFn: () => Unit) {
    private[Iterate] def this(df: DataFrame, sums: Array[Double], rdd: RDD[Row]) =
      this(df, sums, () => rdd.unpersist(blocking = false))
    def release(): Unit = releaseFn()
  }

  /** pin + row count + release handle in the INTERNAL-row representation:
    * same two jobs as `pin` + `count`, but unlike `pinSums` the cache
    * holds compact InternalRows (pinSums goes through `df.rdd`, which
    * boxes every row — the right trade for V-row state with counters to
    * accumulate, measurably the wrong one for E-scale pair tables). */
  def pinCount(df: DataFrame): Pinned = {
    val (c, release) = checkpointed(df)
    val n = c.count() // over the cache, no row conversion
    new Pinned(rewrap(c), Array(n.toDouble), release)
  }

  /** Materialize + aggregate in ONE Spark job — the superstep fixed-cost
    * cut. The round-1 loop shape was two jobs per superstep (an eager
    * localCheckpoint, then a scalar aggregate for the convergence /
    * metrics counters); at small per-superstep data the second job is pure
    * scheduling + plan-optimization overhead. Here the counters ride along
    * the materialization pass as accumulators: sum of each named column
    * (booleans count as 0/1, nulls as 0).
    *
    * Accumulator caveat handled: values are read immediately after the
    * single materializing action, before any downstream job could
    * recompute partitions and double-fire updates.
    *
    * Same stats-barrier guarantees as `pin`: the returned frame wraps a
    * lineage-truncated (RDD localCheckpoint), cached RDD with no origin
    * stats.
    */
  def pinSums(df: DataFrame, aggCols: Seq[String]): Pinned = {
    val spark = df.sparkSession
    val schema = df.schema
    val idxs = aggCols.map(schema.fieldIndex).toArray
    val accs = aggCols.map(c => spark.sparkContext.doubleAccumulator(s"pin_$c")).toArray
    val rdd =
      if (idxs.isEmpty) df.rdd
      else df.rdd.map { row =>
        var i = 0
        while (i < idxs.length) {
          if (!row.isNullAt(idxs(i))) {
            row.get(idxs(i)) match {
              case b: Boolean   => if (b) accs(i).add(1.0)
              case n: java.lang.Number => accs(i).add(n.doubleValue())
              case _            => ()
            }
          }
          i += 1
        }
        row
      }
    rdd.localCheckpoint() // persists (MEMORY_AND_DISK) + truncates lineage
    rdd.count()           // the one job: compute + cache + count + accumulate
    new Pinned(spark.createDataFrame(rdd, schema), accs.map(_.value.doubleValue()), rdd)
  }
}
