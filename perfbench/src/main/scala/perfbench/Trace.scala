package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans recorded by the benchmark around each call into the program,
  * kept in memory and written out when the run ends. A tracer that is
  * not `recording` records nothing and costs one branch per call, so the
  * end-to-end run measures the program with tracing off. A traced run
  * turns recording off for every other measured pass or chunk, to read
  * the tracing overhead inside one JVM.
  */
final class Tracer(val traced: Boolean) {
  @volatile var recording: Boolean = traced
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  /** Id of the innermost open span on this thread, 0 at the root. */
  def current: Long = stack.get.headOption.getOrElse(0L)

  /** Time `f` as a span named `name`; its parent is the innermost open
    * span on this thread unless `parent` names one explicitly (for work
    * that runs on another thread than the span that caused it). */
  def span[T](name: String, parent: Long = -1L)(f: => T): T =
    if (!recording) f
    else {
      val id = ids.incrementAndGet()
      val p = if (parent >= 0) parent else current
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.add(Span(id, p, name, t0, t1))
      }
    }

  /** Record a span timed by the caller. */
  def record(name: String, parent: Long, startNs: Long, endNs: Long): Unit =
    if (recording) spans.add(Span(ids.incrementAndGet(), parent, name, startNs, endNs))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
}

object Tracer {
  /** The run's tracer, reachable from code Spark runs on its task
    * threads (the benchmark's sink). Local mode only: one JVM. */
  @volatile var global: Tracer = new Tracer(false)

  /** Self time of each span: its duration minus the part of its
    * interval that its children cover (children may overlap when they
    * ran on several threads, so the union is taken). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Per span name: count, total seconds, self seconds. */
  def summary(spans: Seq[Span]): Map[String, Map[String, Double]] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> Map(
        "count" -> ss.size.toDouble,
        "total_s" -> ss.map(_.durNs).sum / 1e9,
        "self_s" -> ss.map(s => self(s.id)).sum / 1e9)
    }
  }
}
