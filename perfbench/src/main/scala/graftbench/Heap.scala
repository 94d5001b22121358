package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** JVM-wide memory readings: the largest heap in use right after a full
  * collection taken at the end of an operation (a live set, so it does not
  * depend on when the young collector happens to run), and the time spent
  * collecting. The benchmark reads the peak once the warm phase has run, in
  * its fixed order: later passes are seed-shuffled, and what the previous
  * operation still holds (broadcast blocks the ContextCleaner has not yet
  * dropped) moves an operation's reading by up to 20%. */
final class Heap {
  private var peakBytes = 0L
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def gcMs: Long = beans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Call right after a full collection. */
  def sample(): Unit =
    peakBytes = math.max(peakBytes, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)

  def peakMb: Double = peakBytes / 1048576.0
}
