package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Heap in use right after each garbage collection, from the moment this
  * is created until `stop`: the driver JVM's live set. The peak of raw
  * used heap would instead track how far the collector lets garbage pile
  * up, and the single largest post-collection value depends on which
  * collection happens to land on a transient; the 90th percentile over
  * all collections is the peak that repeats from run to run. */
final class HeapPeak extends NotificationListener {
  private val samples = mutable.ArrayBuffer.empty[Long]
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(this, null, null))

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { samples += used }
    }

  /** Stops listening; returns (90th percentile, max, count) of the
    * post-collection heap in bytes (the heap in use now, if no
    * collection ran). */
  def stop(): (Long, Long, Int) = {
    emitters.foreach(_.removeNotificationListener(this))
    val s = synchronized(samples.sorted.toIndexedSeq)
    if (s.isEmpty) {
      val now = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      (now, now, 0)
    } else (s(math.min(s.size - 1, (s.size * 9) / 10)), s.last, s.size)
  }
}
