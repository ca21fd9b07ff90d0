package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Per-layer spans and Spark counters, recorded from outside the engine.
  *
  * Every call into a layer runs inside `span(layer)`, which times it on the
  * driver and tags the Spark jobs it launches with a job group named after
  * the layer. When tracing is on, a SparkListener attributes each job,
  * stage and task back to that group, so the counters of a layer are
  * exactly the work its calls caused. Spans are kept in memory and read
  * once, after `drain`, when the run ends.
  */
final class Trace(val enabled: Boolean) {
  import Trace._

  final class Acc {
    var calls = 0L
    var wallNs = 0L
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var failedTasks = 0L
    var taskMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var gcMs = 0L
    var resultBytes = 0L
  }

  private val accs = mutable.HashMap.empty[String, Acc]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  @volatile private var marker: CountDownLatch = new CountDownLatch(1)

  /** Spans opened while this is set are charged to it instead of their
    * layer (warm-up and output checks stay out of the layer figures). */
  var scope: Option[String] = None

  def acc(layer: String): Acc = synchronized(accs.getOrElseUpdate(layer, new Acc))

  def span[T](sc: SparkContext, layer: String)(body: => T): T = {
    val group = scope.getOrElse(layer)
    sc.setJobGroup(group, group)
    val t0 = System.nanoTime()
    try body
    finally {
      val dt = System.nanoTime() - t0
      sc.clearJobGroup()
      val a = acc(group)
      synchronized { a.calls += 1; a.wallNs += dt }
    }
  }

  def attach(sc: SparkContext): Unit = if (enabled) sc.addSparkListener(listener)

  /** Block until the listener has seen every event posted before this call:
    * events reach a listener in posting order, so once the end of a marker
    * job arrives, so has everything the layers caused. */
  def drain(sc: SparkContext): Unit = if (enabled) {
    marker = new CountDownLatch(1)
    sc.setJobGroup(MarkerGroup, MarkerGroup)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    require(marker.await(60, TimeUnit.SECONDS), "listener did not drain")
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
        .getOrElse("other")
      Trace.this.synchronized {
        jobGroup(e.jobId) = g
        e.stageIds.foreach(stageGroup(_) = g)
        acc(g).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (Trace.this.synchronized(jobGroup.get(e.jobId)).contains(MarkerGroup))
        marker.countDown()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        stageGroup.get(e.stageInfo.stageId).foreach(acc(_).stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Trace.this.synchronized {
        val a = acc(stageGroup.getOrElse(e.stageId, "other"))
        a.tasks += 1
        if (e.reason != Success) a.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          a.taskMs += m.executorRunTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.gcMs += m.jvmGCTime
          a.resultBytes += m.resultSize
        }
      }
  }

  /** Calls and total wall seconds of every group, the unreported ones
    * (warm-up, checks) included. */
  def summary: String = synchronized {
    accs.toSeq.sortBy(_._1).map { case (g, a) =>
      f"$g:${a.calls}x${a.wallNs / 1e9}%.2fs/${a.jobs}j" }.mkString(" ")
  }

  /** Per-call means of one layer's counters, named `<layer>.<counter>`. */
  def layerMetrics(layer: String, cores: Int): Seq[(String, Double, String)] = {
    val a = synchronized(accs.getOrElse(layer, new Acc))
    val n = math.max(1L, a.calls).toDouble
    val wall = a.wallNs / 1e9 / n
    val task = a.taskMs / 1e3 / n
    Seq(
      "wall_s" -> (wall, "s"),
      "task_s" -> (task, "s"),
      "task_util" -> (if (wall > 0) task / (wall * cores) else 0.0, "ratio"),
      "jobs" -> (a.jobs / n, "count"),
      "stages" -> (a.stages / n, "count"),
      "tasks" -> (a.tasks / n, "count"),
      "failed_tasks" -> (a.failedTasks / n, "count"),
      "shuffle_write_bytes" -> (a.shuffleWrite / n, "bytes"),
      "shuffle_read_bytes" -> (a.shuffleRead / n, "bytes"),
      "spill_bytes" -> (a.spill / n, "bytes"),
      "gc_s" -> (a.gcMs / 1e3 / n, "s"),
      "result_bytes" -> (a.resultBytes / n, "bytes")
    ).map { case (k, (v, u)) => (s"$layer.$k", v, u) }
  }
}

object Trace {
  val Layers: Seq[String] = Seq("ingest.gen", "ingest.extract", "graph.pack",
    "algo.hedonic", "algo.pagerank", "algo.lpa", "algo.cc", "algo.triangles")
  private val GroupKey = "spark.jobGroup.id"
  private val MarkerGroup = "perfbench.drain"
}
