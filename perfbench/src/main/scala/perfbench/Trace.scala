package perfbench

import scala.collection.mutable

/** One traced interval. Times are epoch milliseconds with sub-millisecond
  * resolution, the clock Spark stamps its job and stage events with.
  * `parent` is -1 for a root span. All spans of one op instance share a
  * `traceId`. */
final case class Span(id: Int, traceId: Int, parent: Int, name: String,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

object Intervals {

  /** Sorted, merged union of closed intervals. */
  def union(iv: Seq[(Double, Double)]): List[(Double, Double)] =
    iv.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft(List.empty[(Double, Double)]) {
        case ((la, lb) :: rest, (a, b)) if a <= lb => (la, math.max(lb, b)) :: rest
        case (acc, x) => x :: acc
      }.reverse

  /** Length of the union of `iv` that falls inside [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double =
    union(iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) })
      .map { case (a, b) => b - a }.sum

  /** A span's self time: its duration minus the part of it that its
    * children cover. */
  def selfTimeMs(span: Span, all: Seq[Span]): Double =
    span.durMs - covered(all.filter(_.parent == span.id)
      .map(c => (c.startMs, c.endMs)), span.startMs, span.endMs)

  /** Wall time of `span` during which none of the given stage intervals
    * was active: the sequential driver work inside the span. */
  def driverGapMs(span: Span, stages: Seq[(Double, Double)]): Double =
    span.durMs - covered(stages, span.startMs, span.endMs)
}

/** Records spans in memory. Each span also becomes the Spark job group of
  * the calling thread for its duration (`pb:<span id>`), so the listener
  * can attribute the jobs that run inside it; the enclosing span's group
  * is restored on exit. */
final class Tracer(sc: org.apache.spark.SparkContext) {
  private val epochMs = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs + (System.nanoTime() - nano0) / 1e6

  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, Int)] // (span id, trace id), innermost first
  private var nextId = 0

  def spans: Seq[Span] = done.toSeq
  /** The most recently closed span. */
  def last: Span = done.last

  /** Allocates a fresh trace id (one per op instance). */
  def newTrace(): Int = { nextId += 1; nextId }

  def span[T](name: String, traceId: Int = -1)(body: => T): T = {
    nextId += 1
    val id = nextId
    val parent = open.headOption.map(_._1).getOrElse(-1)
    val tid = if (traceId >= 0) traceId else open.headOption.map(_._2).getOrElse(id)
    open = (id, tid) :: open
    sc.setJobGroup(Tracer.group(id), name, interruptOnCancel = false)
    val start = nowMs
    try body
    finally {
      done += Span(id, tid, parent, name, start, nowMs)
      open = open.tail
      open.headOption match {
        case Some((pid, _)) => sc.setJobGroup(Tracer.group(pid), "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }
}

object Tracer {
  val GroupPrefix = "pb:"
  def group(spanId: Int): String = GroupPrefix + spanId
  def spanOfGroup(group: String): Option[Int] =
    Option(group).filter(_.startsWith(GroupPrefix))
      .flatMap(g => scala.util.Try(g.stripPrefix(GroupPrefix).toInt).toOption)
}
