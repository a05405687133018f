package graft.table

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.types._

import graft.tx.ColStats

/** Metadata-only reads of parquet footers for a data object directory:
  * exact row count plus per-column min/max, without touching row data.
  *
  * This implements the reference's "per-object column stats" TODO
  * (README.md:37) the way every lakehouse does: bounds are gathered at
  * write time from what the writer already recorded in the footer, so
  * stamping stats on an object costs driver-side metadata I/O only — no
  * Spark job, no data scan. At 100 TB the scan path then opens only
  * objects whose bounds can overlap the predicate.
  *
  * Conservatism rules: a column appears in the result only if every
  * row-group chunk either carried usable stats or was all-null; parquet's
  * binary-stats truncation keeps min/max valid bounds, which is all
  * pruning needs. Unsupported types are simply omitted (never pruned on).
  */
object ParquetFooters {

  /** (rowCount, columnStats) for every part-file under `dir`, read
    * through `conf` (the session's Hadoop conf). Each footer is opened
    * with read options built from that conf: parquet's no-argument
    * options builder makes a fresh `Configuration`, which reloads the
    * Hadoop defaults from the classpath on every footer (about 13 ms a
    * read, against 0.3 ms this way once warm, on a 4-vCPU host with
    * Spark's jars).
    */
  def scan(conf: Configuration, dir: String,
      schema: StructType): (Long, Map[String, ColStats]) = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val parts = fs.listStatus(root).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))

    var rows = 0L
    // per-column running (min, max); None value = column disqualified
    val acc = scala.collection.mutable.Map[String, Option[(Any, Any)]]()
    // per-column running null count; None = unknown (a chunk without
    // isNumNullsSet disqualifies — never understate nulls)
    val nullAcc = scala.collection.mutable.Map[String, Option[Long]]()
    // Leaves of nested structs participate too: the footer's chunk path
    // is already dotted (`meta.source`), so stats on nested leaves cost
    // the same metadata-only read as top-level columns — and a scan
    // bounded on `meta.source` prunes objects exactly like one on a
    // flat column.
    val eligible: Map[String, DataType] = leafPaths(schema).collect {
      case (p, dt) if statType(dt).isDefined => p -> dt
    }.toMap

    parts.foreach { st =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf),
        HadoopReadOptions.builder(conf).build())
      try {
        reader.getFooter.getBlocks.asScala.foreach { block =>
          rows += block.getRowCount
          block.getColumns.asScala.foreach { chunk =>
            val name = chunk.getPath.toDotString
            eligible.get(name).foreach { dt =>
              val s = chunk.getStatistics
              if (s != null && s.isNumNullsSet && !nullAcc.get(name).contains(None))
                nullAcc(name) = Some(nullAcc.get(name).flatten
                  .getOrElse(0L) + s.getNumNulls)
              else nullAcc(name) = None
              if (acc.get(name).contains(None)) {
                // already disqualified by an earlier chunk; stays so
              } else if (s == null || s.isEmpty) {
                acc(name) = None // unknown values: disqualify
              } else if (s.hasNonNullValue) {
                (decode(dt, s.genericGetMin()), decode(dt, s.genericGetMax())) match {
                  case (Some(l), Some(h)) =>
                    acc(name) = Some(acc.get(name).flatten match {
                      case Some((cl, ch)) => (minOf(cl, l), maxOf(ch, h))
                      case None => (l, h)
                    })
                  case _ => acc(name) = None
                }
              } // else: all-null chunk constrains nothing
            }
          }
        }
      } finally reader.close()
    }
    val stats = acc.collect {
      case (c, Some((lo, hi))) =>
        c -> ColStats(lo, hi, nullAcc.getOrElse(c, None))
    }.toMap
    (rows, stats)
  }

  /** [[scan]] over many object dirs at once, order-preserving. The
    * direct committer registers one object per task, so a wide insert
    * stamps stats on MANY objects in one tx — footer reads are
    * independent metadata I/O, so they run on a bounded pool instead of
    * serially on the driver (at 1000 objects the difference is the
    * whole stamping step). All dirs share the one `conf`, which the
    * reads only get from. Any failure propagates (stats are part of
    * the write's validation path, never best-effort).
    */
  def scanMany(conf: Configuration, dirs: Seq[String],
      schema: StructType): Seq[(Long, Map[String, ColStats])] =
    if (dirs.lengthCompare(2) < 0) dirs.map(scan(conf, _, schema))
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, math.max(2, Runtime.getRuntime.availableProcessors())),
        r => { val t = new Thread(r, "graft-footer-scan")
          t.setDaemon(true); t })
      try {
        val futures = dirs.map(d => pool.submit(
          new java.util.concurrent.Callable[(Long, Map[String, ColStats])] {
            def call(): (Long, Map[String, ColStats]) = scan(conf, d, schema)
          }))
        futures.map(f => try f.get() catch {
          case e: java.util.concurrent.ExecutionException => throw e.getCause
        })
      } finally pool.shutdown()
    }

  /** Dotted (path, leafType) pairs for every scalar leaf, descending
    * through structs (arrays/maps are not stats-prunable and stop the
    * walk — their chunk paths carry repetition groups anyway).
    */
  private[table] def leafPaths(schema: StructType,
      prefix: String = ""): Seq[(String, DataType)] =
    schema.fields.toSeq.flatMap { f =>
      val p = prefix + f.name
      f.dataType match {
        case st: StructType => leafPaths(st, p + ".")
        case dt => Seq(p -> dt)
      }
    }

  private def statType(dt: DataType): Option[DataType] = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         FloatType | DoubleType | StringType => Some(dt)
    case _ => None
  }

  // Non-finite floating bounds (Infinity/NaN) are rejected — they are not
  // representable in the JSON action log, and a NaN bound can't order, so
  // the column is conservatively disqualified instead.
  private def decode(dt: DataType, v: Comparable[_]): Option[Any] = (dt, v) match {
    case (ByteType | ShortType | IntegerType | DateType, i: java.lang.Integer) =>
      Some(i.longValue())
    case (LongType, l: java.lang.Long) => Some(l.longValue())
    case (FloatType, f: java.lang.Float) =>
      Some(f.doubleValue()).filter(java.lang.Double.isFinite(_))
    case (DoubleType, d: java.lang.Double) =>
      Some(d.doubleValue()).filter(java.lang.Double.isFinite(_))
    case (StringType, b: Binary) => Some(b.toStringUsingUTF8)
    case _ => None
  }

  private def minOf(a: Any, b: Any): Any = (a, b) match {
    case (x: Long, y: Long) => math.min(x, y)
    case (x: Double, y: Double) => math.min(x, y)
    case (x: String, y: String) => if (x.compareTo(y) <= 0) x else y
    case _ => a
  }
  private def maxOf(a: Any, b: Any): Any = (a, b) match {
    case (x: Long, y: Long) => math.max(x, y)
    case (x: Double, y: Double) => math.max(x, y)
    case (x: String, y: String) => if (x.compareTo(y) >= 0) x else y
    case _ => a
  }
}
