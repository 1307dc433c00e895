package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.jdk.CollectionConverters._

/** Peak driver old-generation occupancy after garbage collection.
  *
  * G1 updates the old-gen pool's `getCollectionUsage` only after old or
  * mixed collections, which a short run may never see, so the reading is
  * taken from every collection's after-GC pool usage instead: young
  * collections included, since G1 places humongous arrays (large driver
  * collects) directly in the old generation. */
object HeapWatch extends NotificationListener {
  @volatile private var peakBytes = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val old = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
        case (pool, u) if pool.contains("Old") || pool.contains("Tenured") => u.getUsed
      }.sum
      synchronized { peakBytes = math.max(peakBytes, old) }
    }

  def reset(): Unit = synchronized { peakBytes = 0L }

  def peakMb: Double = synchronized { peakBytes / 1048576.0 }
}
