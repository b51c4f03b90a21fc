package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval. `start`/`end` are seconds since the run's
  * origin. `parent` is the enclosing span on the same thread, 0 for a
  * top-level span, and -1 for a span measured by a listener: those are
  * given a parent later, by containment in time.
  */
final case class Span(id: Int, parent: Int, name: String,
    start: Double, end: Double)

/** In-memory spans around the benchmark's calls into graft's layers,
  * written out once the run ends. With tracing off `span` only runs
  * its body, so an untraced run pays nothing for it.
  */
final class Tracer(val enabled: Boolean) {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 1
  private val open = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def now: Double = (System.nanoTime() - originNs) / 1e9
  def atEpochMs(ms: Long): Double = (ms - originMs) / 1e3

  private def newId(): Int = synchronized { nextId += 1; nextId - 1 }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val stack = open.get
      val parent = stack.headOption.getOrElse(if (isMain) 0 else -1)
      val start = now
      open.set(id :: stack)
      try body
      finally {
        open.set(stack)
        record(Span(id, parent, name, start, now))
      }
    }

  /** A span measured outside the benchmark's own calls. */
  def derived(name: String, start: Double, end: Double): Unit =
    if (enabled) record(Span(newId(), -1, name, start, end))

  private val mainThread = Thread.currentThread()
  private def isMain = Thread.currentThread() eq mainThread

  private def record(s: Span): Unit = synchronized { spans += s }

  def all: Seq[Span] = synchronized(spans.toList)
}

/** Wall-clock timing that works whether or not tracing is on. */
object Clock {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Minimal JSON writer for the harness's result file. */
object Json {
  def apply(v: Any): String = v match {
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Span =>
      apply(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start" -> s.start, "end" -> s.end))
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
