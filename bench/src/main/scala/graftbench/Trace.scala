package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed call into a layer. `parent` is 0 for a root span; spans
  * of one request or one workflow share `traceId`.
  */
final case class Span(id: Long, parent: Long, traceId: Long, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder around the benchmark's calls into the
  * engine. Disabled, `span` only runs its body, so untraced runs pay
  * nothing for it. Spans stay in memory until [[writeJson]].
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  // the open spans of the calling thread, innermost first: (id, traceId)
  private val open = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  /** Time `body` as a span named `name`, a child of the calling
    * thread's innermost open span; with `root` (or no open span) it
    * starts a new trace.
    */
  def span[T](name: String, root: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val (parent, traceId) = stack match {
        case (p, t) :: _ if !root => (p, t)
        case _                    => (0L, id)
      }
      open.set((id, traceId) :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, traceId, name, t0, System.nanoTime()))
        open.set(stack)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  def writeJson(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val body = all.iterator.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":${s.traceId},""" +
        s""""name":${graft.core.Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.writeString(path, body)
  }
}

object Trace {

  /** Self time of `parent`: its duration minus the part of its
    * interval that `children` cover. Overlapping children (parallel
    * calls) count their union once; parts outside the parent are
    * clipped.
    */
  def selfNs(parent: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.startNs, parent.startNs), math.min(c.endNs, parent.endNs)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    parent.durNs - covered
  }
}
