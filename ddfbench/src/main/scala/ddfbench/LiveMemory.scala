package ddfbench

import com.sun.management.GarbageCollectionNotificationInfo

import java.lang.management.{BufferPoolMXBean, ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

/** The peak of the JVM's live memory: after each garbage collection, the
  * heap still in use plus non-heap memory (metaspace, code cache) and
  * direct and mapped buffers. Unlike the resident set it does not follow
  * the collector's choice of heap size, so it moves with what the program
  * keeps (cached frames, broadcasts, shuffle and sort buffers), not with
  * the heap setting.
  */
object LiveMemory {
  private val mem = ManagementFactory.getMemoryMXBean
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val buffers =
    ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala.toSeq
  private var peak = 0L
  private var collections = 0

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val heap = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        val live = heap + mem.getNonHeapMemoryUsage.getUsed + buffers.map(_.getMemoryUsed).sum
        synchronized { peak = math.max(peak, live); collections += 1 }
      }, null, null)
    case _ =>
  }

  /** Starts a new measurement. */
  def reset(): Unit = synchronized { peak = 0L; collections = 0 }

  /** The peak since the last reset in MB, and the collections it saw. */
  def peakMb: (Double, Int) = synchronized { (peak / 1048576.0, collections) }
}
