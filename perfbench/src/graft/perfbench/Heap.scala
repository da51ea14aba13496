package graft.perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Live-heap sampler: heap used after each garbage collection, from the
  * collectors' notifications. [[reset]] starts a pass, [[peakMb]] reads
  * the maximum seen since. */
object Heap {
  @volatile private var peak = 0L
  @volatile private var gcs = 0L

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.iterator
          .filter { case (pool, _) => isHeap(pool) }
          .map(_._2.getUsed).sum
        Heap.synchronized { gcs += 1; if (used > peak) peak = used }
      }
  }

  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private def isHeap(pool: String): Boolean = heapPools.contains(pool)

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  /** The fence between passes (as in the engine's query bench): collect,
    * then give the collector's notification time to arrive before the
    * next pass resets the peak. */
  def fence(): Unit = {
    val before = gcs
    System.gc()
    val deadline = System.nanoTime() + 200000000L
    while (gcs == before && System.nanoTime() < deadline) Thread.sleep(1)
  }

  def reset(): Unit = Heap.synchronized { peak = 0L }

  def gcCount: Long = gcs

  def peakMb: Double = peak / (1024.0 * 1024.0)
}
