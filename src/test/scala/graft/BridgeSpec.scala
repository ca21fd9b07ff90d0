package graft

import org.apache.spark.sql.{GraftExpressionBridge, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Canary for GraftExpressionBridge, the one file that reaches Spark's
  * private[sql] API (`classic.SparkSession.internalCreateDataFrame` and
  * `classic.ExpressionUtils`). A Spark release that moves them fails here
  * with a message naming the bridge, not deep inside a pinned loop. */
class BridgeSpec extends SparkSpec {

  private def linked[T](what: String)(body: => T): T =
    try body
    catch {
      case e: LinkageError =>
        fail(s"GraftExpressionBridge.$what no longer links against Spark ${spark.version}: $e")
    }

  test("the bridge's Spark internals are where it expects them") {
    val session = classOf[org.apache.spark.sql.classic.SparkSession]
    assert(session.getMethods.exists(_.getName == "internalCreateDataFrame"),
      s"GraftExpressionBridge.internalDataFrame: classic.SparkSession.internalCreateDataFrame " +
        s"is gone in Spark ${spark.version}")
    val utils = scala.util.Try(Class.forName("org.apache.spark.sql.classic.ExpressionUtils$"))
      .fold(_ => Set.empty[String], _.getMethods.map(_.getName).toSet)
    assert(Set("column", "expression").subsetOf(utils),
      s"GraftExpressionBridge.column/expression: classic.ExpressionUtils lacks them in " +
        s"Spark ${spark.version}")
  }

  test("internalDataFrame round-trips InternalRows: same rows, schema and flat default stats") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false), StructField("x", DoubleType, nullable = false)))
    val rows = Seq((3L, 0.5), (1L, -2.0), (2L, 7.25))
    val rdd = spark.sparkContext.parallelize(rows, 2)
      .map { case (id, x) => InternalRow(id, x) }
    val df = linked("internalDataFrame")(GraftExpressionBridge.internalDataFrame(spark, rdd, schema))
    assert(df.schema == schema)
    assert(df.collect().toSeq == rows.map { case (id, x) => Row(id, x) })
    val plan = df.queryExecution.analyzed
    assert(plan.collectFirst { case l: LogicalRDD => l.rdd }.exists(_ eq rdd),
      "GraftExpressionBridge.internalDataFrame no longer scans the given RDD directly")
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes ==
      spark.sessionState.conf.defaultSizeInBytes,
      "GraftExpressionBridge.internalDataFrame: the frame carries statistics")
  }

  test("column and expression convert both ways") {
    val c = org.apache.spark.sql.functions.col("id") + 1
    val e = linked("expression")(GraftExpressionBridge.expression(c))
    assert(linked("column")(GraftExpressionBridge.column(e)).toString == c.toString)
  }
}
