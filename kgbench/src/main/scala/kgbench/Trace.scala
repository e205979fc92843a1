package kgbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** In-memory spans of one benchmark run, written out when it ends.
  *
  * A span is a wall interval on the JVM's `nanoTime` clock, named after the
  * layer whose public call it wraps. Layer time measured inside a task
  * is not an interval (the layers interleave per sentence), so it is
  * kept as a per-task self-time record under the task's span.
  */
object Tracer {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)
  final case class SelfTime(name: String, parent: Int, ns: Long)
}

final class Tracer(val runId: String) {
  import Tracer._

  private val spans = ArrayBuffer.empty[Span]
  private val selfTimes = ArrayBuffer.empty[SelfTime]
  private var stack = List(-1)

  /** Times `body` as a child of the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val id = spans.length
    val parent = stack.head
    spans += Span(id, name, parent, System.nanoTime(), -1L)
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      spans(id) = spans(id).copy(endNs = System.nanoTime())
    }
  }

  /** Records an interval measured elsewhere (a task), returning its id. */
  def interval(name: String, parent: Int, startNs: Long, endNs: Long): Int = {
    spans += Span(spans.length, name, parent, startNs, endNs)
    spans.length - 1
  }

  def selfTime(name: String, parent: Int, ns: Long): Unit = selfTimes += SelfTime(name, parent, ns)

  /** Id of the most recent span named `name`. */
  def last(name: String): Int = spans.lastIndexWhere(_.name == name)

  /** Durations of every span named `name`, in order. */
  def durations(name: String): Seq[Long] = spans.filter(_.name == name).map(s => s.endNs - s.startNs).toSeq

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    } ++ selfTimes.map { t =>
      s"""{"run":"$runId","name":"${t.name}","parent":${t.parent},"self_ns":${t.ns}}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
