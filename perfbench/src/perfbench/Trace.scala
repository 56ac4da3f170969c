package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

/** Spans recorded around the benchmark's calls into each layer. Kept in
  * memory and written out once at the end of the run; with tracing off
  * `span` only runs its body. */
final class Trace(val on: Boolean) {
  import Trace.Span

  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  /** Time `body` as span `name`; `key` is the batch id or query name. The
    * enclosing span on the same thread is its parent. */
  def span[T](name: String, key: String = "")(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        spans.synchronized(spans += Span(id, stack.headOption.getOrElse(0), name, key, t0, t1))
      }
    }

  /** Record an interval timed by the caller, e.g. one split by a hook. */
  def record(name: String, key: String, startNs: Long, endNs: Long): Unit =
    if (on) spans.synchronized(spans += Span(ids.incrementAndGet(),
      open.get.headOption.getOrElse(0), name, key, startNs, endNs))

  def durationsMs(name: String): Seq[Double] = spans.synchronized(
    spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).toSeq)

  def writeJsonLines(path: Path): Unit = {
    val lines = spans.synchronized(spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""key":${Json.str(s.key)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    })
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, key: String,
      startNs: Long, endNs: Long)
}
