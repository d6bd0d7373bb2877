package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval at a layer boundary. Times are epoch microseconds;
  * `parent` is 0 for an operation's root span, and every span of one
  * operation carries that operation's id in `op`. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** In-memory span store, written out once when the run ends. */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val epochOffsetUs =
    System.currentTimeMillis() * 1000 - System.nanoTime() / 1000

  def nowUs(): Long = System.nanoTime() / 1000 + epochOffsetUs
  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = synchronized { spans += s }

  /** Runs `f` as a span; the span is recorded even if `f` throws. */
  def span[A](parent: Long, op: Long, name: String)(f: Long => A): A = {
    val id = nextId()
    val t0 = nowUs()
    try f(id) finally add(Span(id, parent, op, name, t0, nowUs()))
  }

  def all: Vector[Span] = synchronized(spans.toVector)

  /** Re-parents the `childName` spans of operation `op` under the
    * narrowest other span of that operation whose interval holds their
    * start (listener times have millisecond resolution, hence the slack). */
  def nest(op: Long, childName: String, slackUs: Long = 1000): Unit = synchronized {
    val own = spans.indices.filter(i => spans(i).op == op)
    val hosts = own.map(spans).filter(_.name != childName)
    own.filter(i => spans(i).name == childName).foreach { i =>
      val c = spans(i)
      hosts.filter(h => h.startUs - slackUs <= c.startUs && c.startUs <= h.endUs)
        .sortBy(_.durUs).headOption
        .foreach(h => spans(i) = c.copy(parent = h.id))
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs}}""")
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {

  /** A span's self time: its duration minus the part of its interval that
    * its direct children cover (overlapping children count once). */
  def selfUs(span: Span, all: Seq[Span]): Long = {
    val kids = all.filter(_.parent == span.id)
      .map(c => (math.max(c.startUs, span.startUs), math.min(c.endUs, span.endUs)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
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
    span.durUs - covered
  }
}
