package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Peak live heap: the largest heap occupancy left after any garbage
  * collection since `reset`. Occupancy before a collection mostly measures
  * how full the young generation was allowed to get; after it, what the
  * program kept. `peakMb` ends with a full collection, so every interval
  * has at least one sample, and the next interval starts from a clean
  * heap. */
final class HeapPeak {
  @volatile private var peak = 0L

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
        HeapPeak.this.synchronized { if (used > peak) peak = used }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _                      => ()
  }

  def reset(): Unit = synchronized { peak = 0L }

  def peakMb(): Double = {
    System.gc()
    val mem = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val bytes: Long = synchronized(math.max(peak, mem))
    bytes / 1048576.0
  }
}
