package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import scala.jdk.CollectionConverters._

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Length of the union of [start, end) intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach {
      case (a, b) =>
        if (a >= end) total += b - a
        else if (b > end) total += b - end
        end = math.max(end, b)
    }
    total
  }
}

/** Peak driver heap: the largest heap occupancy left right after any
  * garbage collection since [[reset]] — the retained heap, which unlike raw
  * occupancy does not just track how full the young generation was. */
object HeapWatch {
  @volatile private var peak = 0L

  def start(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener(new NotificationListener {
          def handleNotification(n: Notification, hb: Any): Unit =
            if (n.getType ==
                GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val used = GarbageCollectionNotificationInfo
                .from(n.getUserData.asInstanceOf[CompositeData])
                .getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
              synchronized { if (used > peak) peak = used }
            }
        }, null, null)
      case _ => ()
    }

  def reset(): Unit = synchronized { peak = 0L }

  /** Peak in MiB; the current occupancy if no collection ran yet. */
  def peakMb: Double = synchronized {
    val p = if (peak > 0) peak
      else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    p / (1024.0 * 1024.0)
  }
}
