package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** In-memory span recorder. A span has a name, a layer, a start and end
  * (System.nanoTime), the span that caused it (per-thread nesting), and
  * an id shared by every span of one request: the trigger `batchId` for
  * streams, the query name for the registry.
  *
  * When tracing is off, `span` only runs its body, so untraced runs pay
  * nothing. Spans are written out once, when the benchmark ends. */
object Trace {
  final case class Span(seq: Long, parent: Long, name: String, layer: String,
                        id: String, startNs: Long, endNs: Long)

  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val seqGen = new java.util.concurrent.atomic.AtomicLong(0L)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](layer: String, name: String, id: => Any = "")(body: => T): T =
    if (!enabled) body
    else {
      val seq = seqGen.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(seq :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.add(Span(seq, parent, name, layer, id.toString, t0, t1))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer in ms: each span's duration minus the part of
    * its interval that its child spans cover. */
  def selfMsByLayer: Map[String, Double] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map { s =>
        val covered = union(children.getOrElse(s.seq, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long =
    iv.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((tot, end), (a, b)) =>
        if (b <= end) (tot, end)
        else (tot + b - math.max(a, end), b)
      }._1

  def toJson: String = all.sortBy(_.seq).map { s =>
    s"""{"seq":${s.seq},"parent":${s.parent},"name":"${s.name}","layer":"${s.layer}",""" +
      s""""id":"${s.id}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
