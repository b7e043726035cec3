package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import scala.jdk.CollectionConverters._

/** Heap occupancy right after each collection, from GC notifications, and
  * total collection pause time. Only windows opened with [[begin]] count.
  */
final class Gc {
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var open = false
  private var peak = 0L
  private var pauseMs = 0L

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (open && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        Gc.this.synchronized {
          peak = math.max(peak, after)
          if (!info.getGcCause.contains("Concurrent") && !info.getGcName.contains("Concurrent"))
            pauseMs += info.getGcInfo.getDuration
        }
      }
  }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def begin(): Unit = synchronized { peak = 0L; pauseMs = 0L; open = true }

  /** Close the window: (heap-after-GC peak in MB, pause seconds). */
  def end(): (Double, Double) = {
    open = false
    synchronized((peak / 1048576.0, pauseMs / 1000.0))
  }
}
