package graftbench

import scala.collection.mutable.ArrayBuffer

/** One traced interval. `parent` is the id of the span that caused it
  * (-1 for the root); times are nanoseconds on the benchmark's clock. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder: nothing is written until the run ends. When
  * disabled, [[span]] only runs its body, so untraced runs pay nothing. */
final class Tracer(val enabled: Boolean) {
  private val buf = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def current: Int = stack.headOption.getOrElse(-1)

  def newId(): Int = synchronized { nextId += 1; nextId }

  def add(s: Span): Unit = synchronized { buf += s }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = current
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        add(Span(id, parent, name, t0, System.nanoTime()))
      }
    }

  def spans: Seq[Span] = synchronized(buf.toList)
}

object Spans {

  /** Self time of `parent`: its duration minus the part of its interval
    * that the union of its children's intervals covers. Children may
    * overlap each other (parallel jobs) or spill past the parent's edges;
    * both are clipped, so self time is never negative. */
  def selfNs(parent: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.startNs, parent.startNs), math.min(c.endNs, parent.endNs)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    parent.durNs - covered
  }

  /** Self time of every span, keyed by span id. */
  def selfTimes(all: Seq[Span]): Map[Int, Long] = {
    val kids = all.groupBy(_.parent)
    all.map(s => s.id -> selfNs(s, kids.getOrElse(s.id, Nil))).toMap
  }

  /** Spans plus self times as a JSON document (one span per line). */
  def toJson(all: Seq[Span]): String = {
    val self = selfTimes(all)
    val t0 = if (all.isEmpty) 0L else all.map(_.startNs).min
    all.sortBy(s => (s.startNs, s.id)).map { s =>
      f"""  {"id": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, """ +
        f""""start_ms": ${(s.startNs - t0) / 1e6}%.3f, "dur_ms": ${s.durNs / 1e6}%.3f, """ +
        f""""self_ms": ${self(s.id) / 1e6}%.3f}"""
    }.mkString("{\"spans\": [\n", ",\n", "\n]}\n")
  }
}
