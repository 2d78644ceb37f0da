package perfbench

import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

/** Peak old-generation occupancy after collections, from the JVM's GC
  * notifications, between [[start]] and [[stop]].
  */
final class HeapPeak extends NotificationListener {
  @volatile private var peak = 0L
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }

  private def isOld(pool: String): Boolean =
    pool.contains("Old Gen") || pool.contains("Tenured")

  override def handleNotification(n: Notification, handback: Any): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val old = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
        case (pool, usage) if isOld(pool) => usage.getUsed
      }.sum
      synchronized { if (old > peak) peak = old }
    }

  def start(): Unit = emitters.foreach(_.addNotificationListener(this, null, null))

  /** Stops listening; the peak in MiB. */
  def stop(): Double = {
    emitters.foreach(_.removeNotificationListener(this))
    val bytes = synchronized { peak }
    bytes / 1048576.0
  }
}
