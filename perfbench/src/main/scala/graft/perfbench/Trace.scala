package graft.perfbench

import scala.collection.mutable

/** In-memory span recorder for the traced run. A span is (name, start,
  * end, parent, run id); parents come from a per-thread stack, so a span
  * opened inside another span's body is its child. Spans stay in memory
  * and are written out once, when the run ends. With `enabled = false`
  * every call is a plain pass-through: the untraced run pays one branch
  * per boundary and records nothing.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  import Tracer.Span
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get().headOption.getOrElse(0)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        synchronized(spans += Span(id, name, t0, t1, parent))
      }
    }

  def count(name: String, by: Double = 1.0): Unit =
    if (enabled) synchronized(counters(name) = counters.getOrElse(name, 0.0) + by)

  def counter(name: String): Double = synchronized(counters.getOrElse(name, 0.0))

  /** Sum of the durations of every span with this name, in seconds. */
  def total(name: String): Double = {
    val ns: Long = synchronized(spans.filter(_.name == name).map(s => s.end - s.start).sum)
    ns / 1e9
  }

  /** Self time per span name, in seconds: each span's duration minus the
    * part of it its direct children cover (children never overlap on
    * the client thread that opened them). */
  def selfTimes: Map[String, Double] = synchronized {
    val childCover = spans.groupBy(_.parent).view.mapValues(_.map(s => s.end - s.start).sum).toMap
    spans.groupBy(_.name).view.mapValues { ss =>
      ss.map(s => (s.end - s.start) - childCover.getOrElse(s.id, 0L)).sum / 1e9
    }.toMap
  }

  /** Writes every span as one JSON line, times in ns relative to `origin`. */
  def write(path: java.nio.file.Path, origin: Long): Unit = synchronized {
    val lines = spans.sortBy(_.start).map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.start - origin},"end_ns":${s.end - origin}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int)
}
