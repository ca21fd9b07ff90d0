package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Edge

/** Shared local SparkSession for all suites (one JVM, sequential suites —
  * forked once by sbt). Small core count: fixtures are tiny and a large
  * pool only adds scheduling overhead to the test run.
  */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark

  def edgesOf(pairs: Seq[(Long, Long)]): Dataset[Edge] = {
    import spark.implicits._
    pairs.map { case (u, v) => Edge(math.min(u, v), math.max(u, v), 1.0) }
      .distinct.toDS()
  }

  def membersOf(m: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    m.toDF("id", "community")
  }

  /** (id, community) rows collected to a canonical map. */
  def toMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** `body`'s result and the number of Spark jobs it submitted (counted
    * by job group; a sentinel job submitted afterwards proves every
    * earlier job-start event has reached the listener). */
  def jobsOf[T](group: String)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(
          Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = body
      val sentinel = s"$group-sentinel"
      sc.setJobGroup(sentinel, sentinel)
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains(sentinel), "listener never saw the sentinel job")
      (out, groups.toArray.count(_ == group))
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
    }
  }

  /** Two labelings equal up to label permutation (must be a bijection). */
  def sameUpToPermutation(a: Map[Long, Long], b: Map[Long, Long]): Boolean = {
    if (a.keySet != b.keySet) return false
    val fwd = scala.collection.mutable.Map.empty[Long, Long]
    val bwd = scala.collection.mutable.Map.empty[Long, Long]
    a.keys.forall { k =>
      val (x, y) = (a(k), b(k))
      fwd.getOrElseUpdate(x, y) == y && bwd.getOrElseUpdate(y, x) == x
    }
  }
}

/** Public-domain small-graph fixtures (cf. reference README.md:68-73 usage
  * of igraph's Famous graphs — edge lists here are the standard published
  * ones, not read from the reference).
  */
object Fixtures {
  /** Zachary karate club: 34 vertices (0-based), 78 edges. */
  val zachary: Seq[(Long, Long)] = Seq(
    (0, 1), (0, 2), (0, 3), (0, 4), (0, 5), (0, 6), (0, 7), (0, 8), (0, 10),
    (0, 11), (0, 12), (0, 13), (0, 17), (0, 19), (0, 21), (0, 31),
    (1, 2), (1, 3), (1, 7), (1, 13), (1, 17), (1, 19), (1, 21), (1, 30),
    (2, 3), (2, 7), (2, 8), (2, 9), (2, 13), (2, 27), (2, 28), (2, 32),
    (3, 7), (3, 12), (3, 13), (4, 6), (4, 10), (5, 6), (5, 10), (5, 16),
    (6, 16), (8, 30), (8, 32), (8, 33), (9, 33), (13, 33), (14, 32), (14, 33),
    (15, 32), (15, 33), (18, 32), (18, 33), (19, 33), (20, 32), (20, 33),
    (22, 32), (22, 33), (23, 25), (23, 27), (23, 29), (23, 32), (23, 33),
    (24, 25), (24, 27), (24, 31), (25, 31), (26, 29), (26, 33), (27, 33),
    (28, 31), (28, 33), (29, 32), (29, 33), (30, 32), (30, 33), (31, 32),
    (31, 33), (32, 33)).map { case (u, v) => (u.toLong, v.toLong) }

  /** Krackhardt kite: 10 vertices, 18 edges. */
  val kite: Seq[(Long, Long)] = Seq(
    (0, 1), (0, 2), (0, 3), (0, 5), (1, 3), (1, 4), (1, 6), (2, 3), (2, 5),
    (3, 4), (3, 5), (3, 6), (4, 6), (5, 6), (5, 7), (6, 7), (7, 8), (8, 9)
  ).map { case (u, v) => (u.toLong, v.toLong) }

  /** Two disjoint triangles + an isolated 2-path: 3 components. */
  val threeComponents: Seq[(Long, Long)] =
    Seq((0L, 1L), (1L, 2L), (0L, 2L), (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
}
