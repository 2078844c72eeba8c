package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._

/** One timed interval. `call` is the id of the root span of the
  * operation it belongs to; `parent` is 0 for a root. Times are
  * `System.nanoTime` values, comparable across threads of one JVM (tasks
  * of a `local[N]` master run in the driver JVM). */
final case class Span(id: Long, parent: Long, call: Long, name: String,
    start: Long, end: Long) {
  def layer: String = name.substring(0, name.indexOf('.'))
  def nanos: Long = end - start
}

/** In-memory span store. Spans are kept until [[drain]] and written out
  * once at the end of a run. Recording is off unless [[enabled]]. */
object Trace {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()

  def newId(): Long = ids.incrementAndGet()

  def record(id: Long, parent: Long, call: Long, name: String,
      start: Long, end: Long): Unit =
    if (enabled) spans.add(Span(id, parent, call, name, start, end))

  /** Times `body` as span `id`. */
  def span[T](id: Long, parent: Long, call: Long, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally record(id, parent, call, name, t0, System.nanoTime())
  }

  /** Times `body` as a fresh span. */
  def child[T](parent: Long, call: Long, name: String)(body: => T): T =
    span(newId(), parent, call, name)(body)

  def add(counter: String, v: Long): Unit =
    if (enabled) counters.computeIfAbsent(counter, _ => new LongAdder).add(v)

  def drain(): (Vector[Span], Map[String, Long]) = {
    val out = Vector.newBuilder[Span]
    var s = spans.poll()
    while (s != null) { out += s; s = spans.poll() }
    val cs = counters.asScala.map { case (k, v) => k -> v.sum() }.toMap
    counters.clear()
    (out.result(), cs)
  }

  /** Self time per span: its duration minus the part of its interval
    * covered by the union of its children (children of one span may run
    * concurrently, e.g. the tasks of one job). */
  def selfNanos(all: Seq[Span]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var (curA, curB) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.nanos - covered)
    }.toMap
  }

  def write(path: java.nio.file.Path, all: Seq[Span]): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      w.write("id\tparent\tcall\tname\tstart_ns\tend_ns\n")
      all.foreach(s => w.write(s"${s.id}\t${s.parent}\t${s.call}\t${s.name}\t${s.start}\t${s.end}\n"))
    } finally w.close()
  }
}
