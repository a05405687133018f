package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `op` is shared by every span of
  * one query or ingest operation; `parent` is the enclosing span on the
  * same thread (0 for an op's root). Times are nanoseconds on the
  * `System.nanoTime` clock.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    start: Long, end: Long) {
  def dur: Long = end - start
  /** The layer is the span name up to its first dot (`store.read` ->
    * `store`); op roots are named `op.<kind>`.
    */
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder. Off by default: with tracing off, `op` and
  * `span` only run their body, so the untraced run pays one volatile read
  * per boundary.
  */
object Trace {
  @volatile var on: Boolean = false

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  /** Innermost open (span id, op id) of this thread. */
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  // epoch-ms <-> nanoTime anchor, so Spark listener times (epoch ms) land
  // on the same clock as the bench's own spans
  private val anchorNanos = System.nanoTime()
  private val anchorMillis = System.currentTimeMillis()
  def nanosOfEpochMs(ms: Long): Long = anchorNanos + (ms - anchorMillis) * 1000000L

  /** The op id of this thread's open op, or 0. */
  def currentOp: Long = stack.get.headOption.map(_._2).getOrElse(0L)

  def newOpId(): Long = ids.incrementAndGet()

  /** Run `body` as the root span of op `opId`. */
  def op[A](opId: Long, kind: String)(body: => A): A =
    if (!on) body else timed(s"op.$kind", opId, root = true)(body)

  def span[A](name: String)(body: => A): A =
    if (!on) body else timed(name, currentOp, root = false)(body)

  private def timed[A](name: String, opId: Long, root: Boolean)(body: => A): A = {
    val id = ids.incrementAndGet()
    val outer = stack.get
    val parent = if (root) 0L else outer.headOption.map(_._1).getOrElse(0L)
    stack.set((id, opId) :: outer)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, opId, name, t0, System.nanoTime()))
      stack.set(outer)
    }
  }

  /** Record a span measured elsewhere (a Spark job); its parent is
    * resolved later by time containment within its op.
    */
  def record(op: Long, name: String, start: Long, end: Long): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), -1L, op, name, start, end))

  /** All spans, with externally recorded spans attached to the innermost
    * span of their op that contains their start.
    */
  def snapshot(): Vector[Span] = {
    val all = spans.asScala.toVector
    val byOp = all.filter(_.parent >= 0).groupBy(_.op)
    all.map { s =>
      if (s.parent >= 0) s
      else {
        val host = byOp.getOrElse(s.op, Vector.empty)
          .filter(h => h.start <= s.start && s.start <= h.end)
          .sortBy(_.dur).headOption
        s.copy(parent = host.map(_.id).getOrElse(0L))
      }
    }
  }

  /** Total length of the union of `ivs`, clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) total += curE - curS
          curS = a; curE = b
        } else if (b > curE) curE = b
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of it that its
    * child spans cover.
    */
  def selfTimes(spans: Vector[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Vector.empty).map(k => (k.start, k.end))
      s.id -> (s.dur - covered(c, s.start, s.end))
    }.toMap
  }

  def write(path: java.nio.file.Path, spans: Vector[Span]): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","start_ns":${s.start - anchorNanos},""" +
        s""""end_ns":${s.end - anchorNanos}}""")
      w.newLine()
    } finally w.close()
  }
}
