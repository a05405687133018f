package perfbench

import java.security.MessageDigest
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{Row, SparkSession}

/** One completed op: kind ("query", "append", "read", "merge", ...), its
  * name, wall time, and the wall-clock window it ran in (epoch ms).
  */
final case class Sample(kind: String, name: String, ms: Double, op: Long,
    startMs: Long, endMs: Long)

/** A benchmark workload as [[Main]] drives it. */
trait Workload {
  /** Kind of the op whose latency is the run's `op_p50_ms`/`op_tail_ms`. */
  def primary: String
  /** Untimed: builds fixtures and warms up. */
  def setup(): Unit
  /** Passes until `seconds` have passed and at least `minPasses` are
    * complete; returns each complete pass's wall time (s).
    */
  def run(seconds: Double, minPasses: Int): Seq[Double]
  /** Untimed checks of the end state, after the timed phase. */
  def verify(): Unit = ()
  def close(): Unit = ()
}

/** Op accounting for one run. An op fails when it throws or when its
  * result fails its check; a failed op records no latency sample.
  */
final class Ops(spark: SparkSession) {
  val samples = new ConcurrentLinkedQueue[Sample]()
  val failures = new ConcurrentLinkedQueue[(String, String)]()
  @volatile var attempted = 0L
  /** Ops run outside the timed phase (warm pass, set-up) still count
    * toward attempted and failed, but record no sample.
    */
  @volatile var timing = false

  /** Run one op. `body` returns None when the result passed its check,
    * or Some(reason) when it did not.
    */
  def run(kind: String, name: String)(body: => Option[String]): Unit = {
    val op = Trace.newOpId()
    BenchFs.opKinds.put(op, kind)
    spark.sparkContext.setJobGroup(op.toString, s"$kind $name")
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val outcome =
      try Trace.op(op, kind)(body)
      catch { case e: Throwable => Some(s"threw ${e.getClass.getName}: ${firstLine(e.getMessage)}") }
      finally spark.sparkContext.clearJobGroup()
    val ms = (System.nanoTime() - t0) / 1e6
    synchronized { attempted += 1 }
    outcome match {
      case None =>
        if (timing) samples.add(Sample(kind, name, ms, op, startMs, System.currentTimeMillis()))
      case Some(reason) =>
        failures.add((name, reason))
    }
  }

  def failed: Long = failures.size.toLong

  private def firstLine(s: String): String =
    Option(s).map(_.linesIterator.take(1).mkString).getOrElse("").take(200)
}

/** Order-insensitive content hash of a result: columns in name order,
  * each row rendered to text (floating point at 10 significant digits),
  * rows sorted, SHA-256 over the lines.
  */
object ResultHash {
  def of(columns: Seq[String], rows: Seq[Row]): String = {
    val order = columns.indices.sortBy(columns)
    val lines = rows.map(r => order.map(i => render(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString.take(32)
  }

  private def render(v: Any): String = v match {
    case null => "\\N"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(10))
      .stripTrailingZeros.toString
}

/** The expected-result file: one line per query,
  * `name<TAB>rows<TAB>hash<TAB>source`.
  */
object Expected {
  final case class Entry(rows: Long, hash: String, source: String)

  def load(path: String): Map[String, Entry] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(n, rows, hash, source) = l.split('\t')
      n -> Entry(rows.toLong, hash, source)
    }.toMap
    finally src.close()
  }
}
