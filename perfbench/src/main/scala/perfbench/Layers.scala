package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.store.ObjectStore

/** Named counters shared by every probe of one run. `on` gates all
  * recording, so set-up work and the untraced run leave them at zero.
  */
object Counters {
  @volatile var on: Boolean = false
  private val m = new ConcurrentHashMap[String, DoubleAdder]()
  def add(name: String, v: Double): Unit =
    if (on) m.computeIfAbsent(name, _ => new DoubleAdder).add(v)
  def get(name: String): Double = Option(m.get(name)).map(_.sum).getOrElse(0.0)
}

/** [[ObjectStore]] decorator: counts calls, bytes and time per verb, and
  * records one span per call. It forwards `cacheKey` and the ranged
  * listing, so the program keeps its snapshot cache and its tail-only
  * listing and the store sees the same requests it would undecorated.
  * With a `label`, bytes are also counted per store
  * (`store.<label>.<verb>.bytes`).
  */
final class MeteredStore(under: ObjectStore, label: String = "") extends ObjectStore {
  override def cacheKey: Option[String] = under.cacheKey

  private def timed[A](verb: String, obj: String)(body: => A)(bytes: A => Long): A = {
    val t0 = System.nanoTime()
    val r = Trace.span(s"store.$verb")(body)
    val ms = (System.nanoTime() - t0) / 1e6
    Counters.add(s"store.$verb.calls", 1)
    if (Counters.on) Counters.add(s"store.calls.${BenchFs.kindOfCurrentOp}", 1)
    Counters.add(s"store.$verb.ms", ms)
    Counters.add(s"store.$verb.bytes", bytes(r).toDouble)
    if (label.nonEmpty) Counters.add(s"store.$label.$verb.bytes", bytes(r).toDouble)
    if (obj.startsWith("_ckpt") || obj == "_last_checkpoint")
      Counters.add("tx.checkpoint.ms", ms)
    r
  }

  override def putIfAbsent(name: String, data: Array[Byte]): Boolean = {
    val ok = timed("put_if_absent", name)(under.putIfAbsent(name, data))(_ => data.length.toLong)
    if (name.startsWith("_log_")) {
      Counters.add("tx.commit.log_puts", 1)
      if (!ok) Counters.add("store.put_if_absent.lost", 1)
    }
    if (ok && name.startsWith("_ckpt_")) Counters.add("tx.checkpoints_written", 1)
    ok
  }
  override def put(name: String, data: Array[Byte]): Unit =
    timed("put", name)(under.put(name, data))(_ => data.length.toLong)
  override def read(name: String): Array[Byte] = {
    if (name.startsWith("_log_")) Counters.add("tx.log_entries_read", 1)
    timed("read", name)(under.read(name))(_.length.toLong)
  }
  override def listPrefixOrdered(prefix: String): Seq[String] =
    timed("list", prefix)(under.listPrefixOrdered(prefix))(_.map(_.length.toLong).sum)
  override def listPrefixAfter(prefix: String, after: String): Seq[String] =
    timed("list", prefix)(under.listPrefixAfter(prefix, after))(_.map(_.length.toLong).sum)
  override def delete(name: String): Unit =
    timed("delete", name)(under.delete(name))(_ => 0L)
}

/** The data plane's Hadoop scheme: the local filesystem behind the full
  * FileSystem abstraction, as an object-store connector would sit. Every
  * file it creates is counted, and its bytes are charged to the kind of
  * the op that wrote it (the op is found through the Spark job group on
  * executor threads and through [[Trace]] on the driver).
  */
final class BenchFs extends RawLocalFileSystem {
  override def getScheme: String = BenchFs.Scheme
  override def getUri: java.net.URI = java.net.URI.create(s"${BenchFs.Scheme}:///")

  // the two public create overloads reach the file independently
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted(super.create(f, overwrite, bufferSize, replication, blockSize, progress))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted(super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))

  private def counted(raw: FSDataOutputStream): FSDataOutputStream = {
    Counters.add("table.objects_written", 1)
    val kind = BenchFs.kindOfCurrentOp
    val counting = new java.io.FilterOutputStream(raw) {
      override def write(b: Int): Unit = { raw.write(b); charge(1) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        raw.write(b, off, len); charge(len)
      }
      private def charge(n: Long): Unit = {
        Counters.add("table.data_bytes_written", n.toDouble)
        Counters.add(s"table.data_bytes_written.$kind", n.toDouble)
      }
    }
    new FSDataOutputStream(counting, null)
  }
}

object BenchFs {
  val Scheme = "pbfs"
  /** op id -> op kind, for charging bytes written on executor threads. */
  val opKinds = new ConcurrentHashMap[Long, String]()
  def kindOfCurrentOp: String = {
    val op = Option(TaskContext.get())
      .flatMap(tc => Option(tc.getLocalProperty("spark.jobGroup.id")))
      .flatMap(_.toLongOption)
      .getOrElse(Trace.currentOp)
    Option(opKinds.get(op)).getOrElse("other")
  }
  /** Bytes read through the scheme, from Hadoop's per-scheme statistics. */
  def bytesRead: Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == Scheme).map(_.getBytesRead).sum
}

/** Spark-side probe: a [[SparkListener]] for jobs, stages and tasks, and a
  * [[QueryExecutionListener]] for planning phases and executed-plan scan
  * metrics. Jobs are tied to their op through the job group the bench
  * sets on the op's thread (the op id).
  */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  import SparkProbe.{Job, Plan}

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Long]()
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[Plan]()
  /** Per-op sums of stage metrics. */
  private val perOp = new ConcurrentHashMap[(Long, String), AtomicLong]()
  @volatile var on: Boolean = false

  private def addOp(op: Long, k: String, v: Long): Unit =
    perOp.computeIfAbsent((op, k), _ => new AtomicLong).addAndGet(v)
  def opMetric(op: Long, k: String): Long =
    Option(perOp.get((op, k))).map(_.get).getOrElse(0L)
  def total(k: String): Long =
    perOp.asScala.collect { case ((_, kk), v) if kk == k => v.get }.sum

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    // jobs outside any op (the listener-bus drain) are not counted
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.toLongOption).foreach { op =>
        jobs.put(e.jobId, Job(op, e.time))
        addOp(op, "jobs", 1)
        e.stageIds.foreach(s => stageJob.put(s, op))
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.end = e.time
      Trace.record(j.op, "spark.job", Trace.nanosOfEpochMs(j.start),
        Trace.nanosOfEpochMs(e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    Option(stageJob.get(i.stageId)).foreach { op =>
      val m = i.taskMetrics
      addOp(op, "stages", 1)
      addOp(op, "tasks", i.numTasks.toLong)
      if (i.numTasks == 1) addOp(op, "single_task_stages", 1)
      if (m != null) {
        addOp(op, "executor_run_ms", m.executorRunTime)
        addOp(op, "executor_cpu_ms", m.executorCpuTime / 1000000L)
        addOp(op, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        addOp(op, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        addOp(op, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    def scans(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) {
      case s: FileSourceScanExec => s
      case b: BatchScanExec => b
    }
  }

  private def record(qe: QueryExecution): Unit = if (on) {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) {
      val scans = try Plans.scans(qe.executedPlan) catch { case _: Throwable => Nil }
      def metric(k: String): Long =
        scans.flatMap(_.metrics.get(k)).map(_.value).sum
      plans.add(Plan(phases.map(_.startTimeMs).min,
        phases.map(_.durationMs).sum.toDouble, metric("numFiles"),
        metric("filesSize"), metric("numOutputRows")))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  /** Jobs of `op` as (start, end) nanosecond intervals. */
  def jobIntervals(op: Long): Seq[(Long, Long)] =
    jobs.values.asScala.filter(j => j.op == op && j.end >= 0).toSeq
      .map(j => (Trace.nanosOfEpochMs(j.start), Trace.nanosOfEpochMs(j.end)))

  /** Planning records whose phases started inside [t0, t1] (epoch ms). */
  def plansIn(t0: Long, t1: Long): Seq[Plan] =
    plans.asScala.filter(p => p.start >= t0 && p.start <= t1).toSeq

}

object SparkProbe {
  final case class Job(op: Long, start: Long, var end: Long = -1L)
  /** One executed query: when its planning started (epoch ms), planning
    * time, and the scan metrics of its executed plan.
    */
  final case class Plan(start: Long, ms: Double, files: Long, bytes: Long,
      rows: Long)

  /** Waits until the listener bus has delivered every event posted so
    * far: a marker job's end event is the last one behind them.
    */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    val seen = new java.util.concurrent.CountDownLatch(1)
    val marker = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = seen.countDown()
    }
    spark.sparkContext.addSparkListener(marker)
    spark.sparkContext.setJobGroup("drain", "drain")
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.clearJobGroup()
    // listeners of one queue see each event in registration order, so
    // the probe has handled everything once the marker sees its job end
    seen.await(30, java.util.concurrent.TimeUnit.SECONDS)
    spark.sparkContext.removeSparkListener(marker)
  }
}
