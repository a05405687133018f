package graft.table

import java.util.Arrays

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

/** The `(_tx_id, _row_idx)` keys of one or more deletion vectors, held
  * as primitive arrays: the distinct tx ids sorted, and per tx id a
  * sorted segment of row indexes. A lookup is two binary searches.
  */
final class DvMask private (txKeys: Array[Long], starts: Array[Int],
    rows: Array[Long]) extends Serializable {
  def size: Int = rows.length

  def contains(tx: Long, row: Long): Boolean = {
    val j = Arrays.binarySearch(txKeys, tx)
    j >= 0 && Arrays.binarySearch(rows, starts(j), starts(j + 1), row) >= 0
  }

  private def foreachKey(f: (Long, Long) => Unit): Unit =
    for (j <- txKeys.indices; i <- starts(j) until starts(j + 1))
      f(txKeys(j), rows(i))
}

object DvMask {
  /** The mask of the parallel (tx, row) keys, in any order. */
  def apply(txs: Array[Long], rows: Array[Long]): DvMask = {
    val n = txs.length
    val sorted = txs.clone()
    Arrays.sort(sorted)
    var k = 0
    for (i <- 0 until n)
      if (k == 0 || sorted(k - 1) != sorted(i)) { sorted(k) = sorted(i); k += 1 }
    val txKeys = Arrays.copyOf(sorted, k)
    val starts = new Array[Int](k + 1)
    for (i <- 0 until n) starts(Arrays.binarySearch(txKeys, txs(i)) + 1) += 1
    for (j <- 0 until k) starts(j + 1) += starts(j)
    val next = Arrays.copyOf(starts, k)
    val out = new Array[Long](n)
    for (i <- 0 until n) {
      val j = Arrays.binarySearch(txKeys, txs(i))
      out(next(j)) = rows(i)
      next(j) += 1
    }
    for (j <- 0 until k) Arrays.sort(out, starts(j), starts(j + 1))
    new DvMask(txKeys, starts, out)
  }

  /** One mask over the keys of all `masks`. */
  def union(masks: Seq[DvMask]): DvMask = masks match {
    case Seq(one) => one
    case _ =>
      val n = masks.map(_.size).sum
      val txs = new Array[Long](n)
      val rows = new Array[Long](n)
      var i = 0
      masks.foreach(_.foreachKey { (t, r) => txs(i) = t; rows(i) = r; i += 1 })
      apply(txs, rows)
  }
}

/** Keeps the rows whose `(tx, row)` provenance key (two LongType
  * columns) is NOT in `mask`: the deletion-vector filter a scan applies
  * in place of an anti join. It prints as its key count, never as the
  * keys.
  */
case class NotDeleted(left: Expression, right: Expression, mask: DvMask)
    extends BinaryExpression with Predicate {
  override protected def nullSafeEval(tx: Any, row: Any): Any =
    !mask.contains(tx.asInstanceOf[Long], row.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("dvMask", mask, classOf[DvMask].getName)
    defineCodeGen(ctx, ev, (tx, row) => s"!$m.contains($tx, $row)")
  }

  override def toString: String =
    s"not_deleted($left, $right, ${mask.size} dv keys)"

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): NotDeleted =
    copy(left = newLeft, right = newRight)
}

/** JVM-wide cache of deletion-vector keys, one [[DvMask]] per DV object,
  * keyed by the object's qualified path. DV objects are immutable and
  * uuid-named (like the snapshots in `TxLog.snapCache`), so an entry
  * never goes stale. The cache is an LRU bounded by total keys —
  * [[MaxCachedKeys]], 16 bytes a key — and a read whose DVs exceed the
  * bound still gets all its keys; only the cache drops them.
  */
object DvKeys {
  /** The broadcast gate's 4 M keys: 64 MB of primitive arrays. */
  val MaxCachedKeys: Long = GraftClient.BroadcastKeyRowGate

  private val cache =
    new java.util.LinkedHashMap[String, DvMask](16, 0.75f, true)
  private var cachedKeys = 0L

  /** The union mask of the DV objects `dirs` on `fs`. Objects not cached
    * are read here, on the caller's thread, with parquet-hadoop through
    * `fs`'s conf: no Spark job. A missing object throws.
    */
  def maskOf(fs: FileSystem, dirs: Seq[Path]): DvMask = {
    val keys = dirs.map(d => fs.makeQualified(d).toString)
    val hits = cache.synchronized(keys.map(k => k -> cache.get(k)).toMap)
    val loaded = keys.filter(hits(_) == null).distinct
      .map(k => k -> read(fs, new Path(k))).toMap
    if (loaded.nonEmpty) cache.synchronized {
      loaded.foreach { case (k, m) =>
        val old = cache.put(k, m)
        cachedKeys += m.size - (if (old == null) 0 else old.size)
      }
      val it = cache.values.iterator
      while (cachedKeys > MaxCachedKeys && it.hasNext) {
        cachedKeys -= it.next().size
        it.remove()
      }
    }
    DvMask.union(keys.map(k => Option(hits(k)).getOrElse(loaded(k))))
  }

  /** Every `_tx_id`/`_row_idx` pair in the part files of `dir`. */
  private def read(fs: FileSystem, dir: Path): DvMask = {
    val conf = fs.getConf
    val txs = Array.newBuilder[Long]
    val rows = Array.newBuilder[Long]
    fs.listStatus(dir).filter(st =>
      st.isFile && st.getPath.getName.endsWith(".parquet")).foreach { st =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf),
        HadoopReadOptions.builder(conf).build())
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        val createdBy = reader.getFooter.getFileMetaData.getCreatedBy
        // the provenance key columns, `GraftClient.TxIdCol`/`RowIdxCol`
        val txCol = schema.getColumnDescription(Array("_tx_id"))
        val rowCol = schema.getColumnDescription(Array("_row_idx"))
        var pages = reader.readNextRowGroup()
        while (pages != null) {
          val store = new ColumnReadStoreImpl(pages,
            new GroupRecordConverter(schema).getRootConverter, schema,
            createdBy)
          def drain(c: org.apache.parquet.column.ColumnDescriptor,
              into: scala.collection.mutable.Builder[Long, Array[Long]])
              : Unit = {
            val r = store.getColumnReader(c)
            for (_ <- 0L until r.getTotalValueCount) {
              require(r.getCurrentDefinitionLevel == c.getMaxDefinitionLevel,
                s"null deletion-vector key in ${st.getPath}")
              into += r.getLong
              r.consume()
            }
          }
          drain(txCol, txs)
          drain(rowCol, rows)
          pages = reader.readNextRowGroup()
        }
      } finally reader.close()
    }
    DvMask(txs.result(), rows.result())
  }
}
