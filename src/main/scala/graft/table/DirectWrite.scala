package graft.table

import java.util.UUID

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobContext, JobID, TaskAttemptContext,
  TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.FileFormatWriter
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf

/** Rename-free data-object committer: every part file is CREATED at its
  * final location under a fresh `_table_<t>_<uuid>`-style object name —
  * no `_temporary` hop, no `_staging_` hop, no `FileSystem.rename`
  * anywhere on the data plane. On object stores (S3A et al., where
  * rename is a server-side copy + delete) this halves the write I/O of
  * every insert and maintenance rewrite and removes the copy window
  * entirely.
  *
  * Why this is safe without renames — the same three-legged contract
  * the reference uses for its dataobjects (write-once, direct,
  * visibility gated elsewhere — deltalakeclient/dataobjects.go:51-58):
  *
  *   1. '''Uniqueness''': the object name is minted per
  *      (task attempt × partition value) with a fresh UUID, so no two
  *      writers — not even speculative twin attempts of the same task —
  *      ever touch the same path.
  *   2. '''Visibility''': a reader only ever opens objects the tx log
  *      references; files from failed, aborted, or losing-speculative
  *      attempts are never registered, so they are invisible garbage,
  *      never corruption.
  *   3. '''Reclamation''': unregistered debris carries the regular
  *      object-name shape and no log reference, which is exactly what
  *      [[GraftClient.vacuum]] reclaims; task aborts additionally
  *      delete their own files eagerly (best effort).
  *
  * Only the files reported by COMMITTED task attempts (via the Spark
  * commit-coordinator protocol, one winner per partition) are returned
  * to the caller for registration. This is the public Delta Lake
  * `DelayedCommitProtocol` shape re-derived on the stock
  * [[FileCommitProtocol]] SPI.
  *
  * @param rootDir  table root; returned names are rootDir-relative
  * @param namer    partition-dir string (e.g. `Some("_p=3")`, escaped,
  *                 multi-level joined with `/`) → fresh object name.
  *                 Runs on EXECUTORS: must be serializable and must
  *                 mint a globally-unique name per call.
  */
private[graft] final class DirectCommitProtocol(
    rootDir: String,
    namer: Option[String] => String)
    extends FileCommitProtocol with Serializable {

  /** Executor-side, per-attempt (each task deserializes its own copy):
    * (partition-dir, object name) per file this attempt created.
    */
  @transient private var taskFiles: ArrayBuffer[(Option[String], String)] = _

  /** Driver-side result: (partition-dir, object name) of every file a
    * WINNING task attempt wrote, populated by [[commitJob]].
    */
  @transient @volatile private var committed: Seq[(Option[String], String)] =
    null

  /** Files of committed attempts; valid only after the write job ran. */
  def committedFiles: Seq[(Option[String], String)] = {
    require(committed != null, "write job did not reach commitJob")
    committed
  }

  override def setupJob(jobContext: JobContext): Unit = ()

  override def commitJob(jobContext: JobContext,
      taskCommits: Seq[TaskCommitMessage]): Unit = {
    committed = taskCommits
      .flatMap(_.obj.asInstanceOf[Seq[(Option[String], String)]])
  }

  /** Nothing to do: files of this job that already landed are
    * unregistered debris under regular object names — task aborts
    * clean their own eagerly, vacuum reclaims the rest (a crashed
    * driver could not run any in-protocol cleanup anyway, so vacuum
    * has to own this case regardless).
    */
  override def abortJob(jobContext: JobContext): Unit = ()

  override def setupTask(taskContext: TaskAttemptContext): Unit =
    taskFiles = new ArrayBuffer

  override def newTaskTempFile(taskContext: TaskAttemptContext,
      dir: Option[String], ext: String): String = {
    val name = namer(dir)
    taskFiles += ((dir, name))
    // the object stays a DIRECTORY (one part file inside), the exact
    // layout movePath used to produce — every downstream consumer
    // (footer stats, vacuum's dir listing, readers) is unchanged
    val task = taskContext.getTaskAttemptID.getTaskID.getId
    f"$rootDir/$name/part-$task%05d$ext"
  }

  override def newTaskTempFile(taskContext: TaskAttemptContext,
      dir: Option[String], spec: FileNameSpec): String =
    newTaskTempFile(taskContext, dir, spec.suffix)

  override def newTaskTempFileAbsPath(taskContext: TaskAttemptContext,
      absoluteDir: String, ext: String): String =
    throw new UnsupportedOperationException(
      "graft data objects never use absolute-path partition locations")

  override def newTaskTempFileAbsPath(taskContext: TaskAttemptContext,
      absoluteDir: String, spec: FileNameSpec): String =
    newTaskTempFileAbsPath(taskContext, absoluteDir, spec.suffix)

  override def commitTask(
      taskContext: TaskAttemptContext): TaskCommitMessage =
    new TaskCommitMessage(taskFiles.toSeq)

  /** Best-effort eager cleanup of this attempt's own objects (a JVM
    * crash skips this; vacuum owns that residue).
    */
  override def abortTask(taskContext: TaskAttemptContext): Unit =
    if (taskFiles != null) {
      val root = new org.apache.hadoop.fs.Path(rootDir)
      val fs = root.getFileSystem(taskContext.getConfiguration)
      taskFiles.foreach { case (_, name) =>
        try { fs.delete(new org.apache.hadoop.fs.Path(root, name), true); () }
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }
}

/** Driver-side entry for data-object writes whose files land directly
  * under final object names:
  *
  *   - [[write]] runs one distributed parquet job through
  *     [[DirectCommitProtocol]] — inserts, merges, maintenance rewrites;
  *   - [[writeLocal]] writes rows already in driver memory (the
  *     `writeRow` buffer) as one object from the driver, with no Spark
  *     job. It needs no commit protocol: there is one writer, no task
  *     attempts to arbitrate, and the object's fresh UUID name means no
  *     other writer can touch it, so the three legs above hold as they
  *     are — a failed write deletes its partial object, and a crash
  *     leaves unregistered debris that vacuum reclaims.
  */
private[graft] object DirectWrite {

  /** Write `df` as parquet data objects under `rootDir`, one object per
    * (task × partition value), named by `namer`, with `partCols`
    * consumed by the layout (dropped from the file schema, exactly like
    * `DataFrameWriter.partitionBy`). Returns (partition-dir, object
    * name) per committed object; partition-dir is the escaped
    * `col=value(/col=value…)` string, None for an unpartitioned write.
    *
    * Uses [[FileFormatWriter]] with the committer instance in hand —
    * the same invocation shape Spark's own V1 insert command uses — so
    * the committed-file set flows back without any directory listing.
    */
  def write(df: DataFrame, rootDir: String, partCols: Seq[String],
      namer: Option[String] => String): Seq[(Option[String], String)] = {
    val qe = df.queryExecution
    val session = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val outputColumns = qe.analyzed.output
    val partAttrs = partCols.map { c =>
      outputColumns.find(_.name == c).getOrElse(throw new IllegalArgumentException(
        s"partition column $c not in write schema " +
          outputColumns.map(_.name).mkString(",")))
    }
    val committer = new DirectCommitProtocol(rootDir, namer)
    SQLExecution.withNewExecutionId(qe, Some("graftDirectWrite")) {
      FileFormatWriter.write(
        sparkSession = session,
        plan = qe.executedPlan,
        fileFormat = new ParquetFileFormat(),
        committer = committer,
        outputSpec = FileFormatWriter.OutputSpec(
          rootDir, Map.empty, outputColumns),
        hadoopConf = session.sessionState.newHadoopConf(),
        partitionColumns = partAttrs,
        bucketSpec = None,
        statsTrackers = Nil,
        options = Map.empty)
    }
    committer.committedFiles
  }

  /** Write `df`'s rows as the single data object `name` under
    * `rootDir`, from the driver — the layout, codec and footer metadata
    * of a one-task [[write]] (`<name>/part-00000-c000<ext>`), through the
    * same Spark parquet `OutputWriter`, but with no Spark job when the
    * plan is a local relation: Catalyst folds projections over a
    * `LocalRelation` into it, so `executeCollect` only hands back rows
    * that are already in driver memory. `hadoopConf` is the session's
    * Hadoop conf (`newHadoopConf()`), which the caller can reuse for the
    * object's footer scan; the write takes its own job copy of it. A
    * write that throws deletes its partial object.
    */
  def writeLocal(df: DataFrame, rootDir: String, name: String,
      hadoopConf: Configuration): Unit = {
    val qe = df.queryExecution
    val session = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val dataSchema = DataTypeUtils.fromAttributes(qe.analyzed.output)
    val rows = qe.executedPlan.executeCollect()
    val job = Job.getInstance(hadoopConf)
    val objectDir = new Path(rootDir, name)
    // the session's conf on whichever thread flushes, as a task sees it
    SQLConf.withExistingConf(session.sessionState.conf) {
      val factory = new ParquetFileFormat()
        .prepareWrite(session, job, Map.empty, dataSchema)
      val task = new TaskID(new JobID("graft", 0), TaskType.MAP, 0)
      val ctx = new TaskAttemptContextImpl(job.getConfiguration,
        new TaskAttemptID(task, 0))
      val file = s"$objectDir/part-00000-c000${factory.getFileExtension(ctx)}"
      try {
        val writer = factory.newInstance(file, dataSchema, ctx)
        try rows.foreach(writer.write) finally writer.close()
      } catch {
        case NonFatal(e) =>
          try objectDir.getFileSystem(job.getConfiguration)
            .delete(objectDir, true)
          catch { case NonFatal(d) => e.addSuppressed(d) }
          throw e
      }
    }
  }

  /** A fresh UUID string — executors mint object names with this. */
  def freshUuid(): String = UUID.randomUUID().toString

  /** Namer minting regular data-object names for `table` (captures only
    * the table-name string — executor-safe).
    */
  def tableNamer(table: String): Option[String] => String =
    _ => graft.tx.TxLog.dataObjectName(table, freshUuid())

  /** [[tableNamer]] with a uuid prefix tag (`"dv_"`, `"cdc_"` — the
    * object-kind convention of the non-data-object actions).
    */
  def taggedNamer(table: String, tag: String): Option[String] => String =
    _ => graft.tx.TxLog.dataObjectName(table, tag + freshUuid())

  /** Namer minting names under a fixed rootDir-relative directory —
    * ephemeral non-table objects (CDF spill pages).
    */
  def prefixNamer(relDir: String): Option[String] => String =
    _ => s"$relDir/obj_${freshUuid()}"
}
