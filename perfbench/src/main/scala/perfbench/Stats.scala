package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

object Stats {
  /** Nearest-rank percentile (p in 0..100) of an unsorted sample. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def ms(ns: Long): Double = ns / 1e6
}

/** Peak live heap: after a full GC, the pools' collection usage is the
  * live set. Sampled at phase boundaries, never inside a timed window. */
object Heap {
  val samples = scala.collection.mutable.ArrayBuffer.empty[Long]

  def sample(): Unit = {
    // the first collection hands unreachable shuffles and broadcasts to
    // Spark's cleaner; the second one sees their blocks released
    System.gc()
    Thread.sleep(300)
    System.gc()
    val live = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    samples += live
  }

  def peakMb: Double = samples.maxOption.getOrElse(0L) / (1024.0 * 1024.0)
}
