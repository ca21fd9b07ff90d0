package graft.util

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType}

/** A frame's rows as one primitive array per column (long or double, by
  * the schema), in partition order as `collect` gives them. */
final class Columns private (val length: Int, cols: Array[AnyRef]) {
  def longs(c: Int): Array[Long] = cols(c).asInstanceOf[Array[Long]]
  def doubles(c: Int): Array[Double] = cols(c).asInstanceOf[Array[Double]]
}

/** The primitive driver collect: one named `runJob` over
  * `queryExecution.toRdd` of a fresh plan, whose tasks read InternalRows
  * straight into long/double arrays. No `limit` plan, no SQL action, no
  * boxed Row; the task function is a named class, so ClosureCleaner skips
  * it (Superstep's object doc). */
object Columns {

  /** Every row of `df`, from one named job. */
  def of(df: DataFrame): Columns = {
    val src = new Source(df)
    src.columns(src.take(src.all, Int.MaxValue, Int.MaxValue))
  }

  /** One partition's count of rows read and, when shipped, its columns. */
  private[graft] final case class Batch(count: Int, cols: Array[AnyRef]) {
    def shipped: Boolean = cols != null
  }

  /** The task: reads at most `read` rows of a partition and ships them as
    * primitive columns (`dbl(c)`: a double column) only when there are at
    * most `ship` of them; the count read always ships. A null value
    * throws, as `Row.getLong` does. */
  private final class Take(names: Array[String], dbl: Array[Boolean], read: Int, ship: Int)
      extends ((TaskContext, Iterator[InternalRow]) => Batch) with Serializable {
    def apply(ctx: TaskContext, it: Iterator[InternalRow]): Batch = {
      val ls = dbl.map(d => if (d) null else new scala.collection.mutable.ArrayBuilder.ofLong)
      val ds = dbl.map(d => if (d) new scala.collection.mutable.ArrayBuilder.ofDouble else null)
      var n = 0
      while (n < read && it.hasNext) {
        val r = it.next()
        n += 1
        if (n <= ship) {
          var c = 0
          while (c < dbl.length) {
            if (r.isNullAt(c)) throw new IllegalStateException(s"primitive collect: null in ${names(c)}")
            if (dbl(c)) ds(c) += r.getDouble(c) else ls(c) += r.getLong(c)
            c += 1
          }
        }
      }
      Batch(n, if (n > ship) null
        else Array.tabulate[AnyRef](dbl.length)(c => if (dbl(c)) ds(c).result() else ls(c).result()))
    }
  }

  /** A fresh plan over `df` (a re-run physical plan would reuse its
    * shuffle output) whose partitions `take` reads. */
  private[graft] final class Source(df: DataFrame) {
    private val names = df.columns
    private val dbl = df.schema.fields.map { f =>
      f.dataType match {
        case LongType => false
        case DoubleType => true
        case t => throw new IllegalArgumentException(
          s"primitive collect: column ${f.name} is $t, not long or double")
      }
    }
    private val rdd = df.select(col("*")).queryExecution.toRdd
    val all: Seq[Int] = rdd.partitions.indices

    def take(parts: Seq[Int], read: Int, ship: Int): Array[Batch] =
      if (parts.isEmpty) Array.empty
      else df.sparkSession.sparkContext.runJob(rdd, new Take(names, dbl, read, ship), parts)

    /** Shipped batches, in order, as one array per column. */
    def columns(bs: Array[Batch]): Columns = {
      val n = bs.map(_.count.toLong).sum
      require(n <= Int.MaxValue - 2L, s"primitive collect: $n rows do not fit driver arrays")
      val cols = Array.tabulate[AnyRef](dbl.length) { c =>
        val out: AnyRef = if (dbl(c)) new Array[Double](n.toInt) else new Array[Long](n.toInt)
        var at = 0
        bs.foreach { b => System.arraycopy(b.cols(c), 0, out, at, b.count); at += b.count }
        out
      }
      new Columns(n.toInt, cols)
    }
  }
}
