package perfbench

import scala.collection.mutable

/** One timed region of the benchmark's own code. Times are seconds since
  * the run's clock origin; `parent` is -1 for a root span. */
final case class Span(id: Int, parent: Int, name: String, client: Int,
    group: String, start: Double, end: Double)

/** In-memory span recorder. When disabled, `span` only runs its body, so
  * the traced and untraced runs execute the same code. Spans nest per
  * thread; the spans of concurrent clients never parent each other. */
final class Tracer(val enabled: Boolean, clock: Clock) {
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0

  private def newId(): Int = synchronized { nextId += 1; nextId }

  def span[T](name: String, client: Int, group: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = stack.get.headOption.getOrElse(-1)
      stack.set(id :: stack.get)
      val t0 = clock.now()
      try body
      finally {
        stack.set(stack.get.tail)
        add(Span(id, parent, name, client, group, t0, clock.now()))
      }
    }

  /** Records a span whose interval was measured elsewhere (a Spark job). */
  def record(parent: Int, name: String, client: Int, group: String,
      start: Double, end: Double): Unit =
    add(Span(newId(), parent, name, client, group, start, end))

  private def add(s: Span): Unit = synchronized { spans += s }

  def all: Seq[Span] = synchronized(spans.toSeq)
}

/** Monotonic seconds since construction, plus the epoch-millisecond clock
  * Spark stamps its listener events with, mapped onto the same origin. */
final class Clock {
  private val nano0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  def now(): Double = (System.nanoTime() - nano0) / 1e9
  def fromEpochMs(ms: Long): Double = (ms - epochMs0) / 1e3
}
