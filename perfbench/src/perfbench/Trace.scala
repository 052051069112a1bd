package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** One timed interval: `op` is shared by every span of one request, `parent`
  * is the enclosing span of the same thread (0 = the request's root). */
final case class Span(op: Long, id: Long, parent: Long, name: String,
    startNs: Long, endNs: Long)

/**
 * In-memory span recorder for the traced run. Spans wrap the benchmark's
 * calls into the program's public functions; nothing inside the program is
 * instrumented. Spans are kept in memory and written out once, when the run
 * ends. With tracing off every call is a plain pass-through, so the untraced
 * runs that produce the end-to-end metrics pay nothing for it.
 */
final class Trace(@volatile var enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  // (op id, span id) of the innermost open span of this thread
  private val open = new ThreadLocal[(Long, Long)] {
    override def initialValue(): (Long, Long) = (0L, 0L)
  }

  /** Start a new request: a root span whose id is also the op id. */
  def op[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      record(id, id, 0L, name)(f)
    }

  /** A child span of the innermost open span of this thread. */
  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val (op, parent) = open.get()
      record(op, ids.incrementAndGet(), parent, name)(f)
    }

  private def record[T](op: Long, id: Long, parent: Long, name: String)(f: => T): T = {
    val saved = open.get()
    open.set((op, id))
    val t0 = System.nanoTime()
    try f
    finally {
      spans.add(Span(op, id, parent, name, t0, System.nanoTime()))
      open.set(saved)
    }
  }

  def all: Seq[Span] = {
    import scala.jdk.CollectionConverters._
    spans.asScala.toSeq.sortBy(_.id)
  }
}
