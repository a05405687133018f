package graft.table

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, LogicalRelation, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftshim.SqlShim
import org.apache.spark.sql.types.StructType

/** Reads of graft-written objects: each object is a uuid-named
  * directory of parquet part files, written once and never changed, so
  * its listing never goes stale. A JVM-wide cache maps each object's
  * qualified path to its part-file statuses, and a read lists only the
  * objects it has never seen. A warm read therefore lists nothing, and
  * runs no listing job past Spark's parallel-discovery threshold (32
  * paths), whose tasks each deserialize a whole Hadoop `Configuration`.
  *
  * The cache is an LRU bounded by total statuses ([[MaxCachedStatuses]]).
  * Deleting an object evicts it ([[evict]]). An entry that outlives its
  * object (another process reclaimed it) fails the scan loudly when the
  * part file is opened, since the relation pins `ignoreMissingFiles` off.
  *
  * User files (COPY INTO landing files, converted external files,
  * replication bundles) are not graft-named and stay on plain reads.
  */
private[graft] object ObjectFiles {
  /** 10⁵ statuses: a listed `LocatedFileStatus` (path, owner, group,
    * one block location) is under 1 KB on heap, so the cache stays under
    * about 100 MB; past that the least recently read objects list again.
    */
  val MaxCachedStatuses: Long = 100000L

  /** The relation options: a part file missing at open time throws,
    * whatever `spark.sql.files.ignoreMissingFiles` says.
    */
  private val Options = Map("ignoreMissingFiles" -> "false")

  private object Cache extends FileStatusCache {
    private val entries =
      new java.util.LinkedHashMap[Path, Array[FileStatus]](16, 0.75f, true)
    private var total = 0L

    override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
      synchronized(Option(entries.get(p)))

    /** An empty listing is a missing (or emptied) object: never cached,
      * so the next read lists it again and fails.
      */
    override def putLeafFiles(p: Path, files: Array[FileStatus]): Unit =
      if (files.nonEmpty) synchronized {
        val old = entries.put(p, files)
        total += files.length - (if (old == null) 0 else old.length)
        val it = entries.values.iterator
        while (total > MaxCachedStatuses && it.hasNext) {
          total -= it.next().length
          it.remove()
        }
      }

    override def invalidateAll(): Unit = synchronized {
      entries.clear()
      total = 0L
    }

    def remove(p: Path): Unit = synchronized {
      val old = entries.remove(p)
      if (old != null) total -= old.length
    }

    def contains(p: Path): Boolean = synchronized(entries.containsKey(p))
  }

  /** Drops the cached listing of the object `dir` on `fs`. */
  def evict(fs: FileSystem, dir: Path): Unit = Cache.remove(fs.makeQualified(dir))

  /** Is the object `dir` on `fs` listed in the cache? */
  def isCached(fs: FileSystem, dir: Path): Boolean =
    Cache.contains(fs.makeQualified(dir))

  /** A file index over the objects `dirs` on `fs`: the cached ones are
    * not listed, the rest are listed (as a Spark job past 32 of them)
    * and cached. A missing object yields no files.
    */
  private def index(spark: SparkSession, fs: FileSystem,
      dirs: Seq[Path]): (Seq[Path], InMemoryFileIndex) = {
    val roots = dirs.map(fs.makeQualified).distinct
    (roots, new InMemoryFileIndex(spark, roots, Options, None, Cache,
      Some(PartitionSpec.emptySpec)))
  }

  /** The rows of the objects `dirs` on `fs`, read with `schema` (columns
    * a part file lacks read as null). Throws `FileNotFoundException`
    * naming the first object that has no part file: Spark's listing
    * treats a missing root as empty, so without this check a read of a
    * reclaimed object would return no rows instead of failing.
    */
  def read(spark: SparkSession, fs: FileSystem, dirs: Seq[Path],
      schema: StructType): DataFrame = {
    val (roots, idx) = index(spark, fs, dirs)
    val listed = idx.allFiles().map(_.getPath.getParent).toSet
    roots.find(r => !listed(r)).foreach { r =>
      throw new FileNotFoundException(
        s"graft object $r has no part files: it was deleted or reclaimed")
    }
    SqlShim.ofRows(spark, LogicalRelation(HadoopFsRelation(idx,
      idx.partitionSchema, SqlShim.asNullable(schema), None,
      new ParquetFileFormat(), Options)(spark)))
  }

  /** Total part-file bytes of the objects `dirs` on `fs`; a missing
    * object counts 0.
    */
  def bytes(spark: SparkSession, fs: FileSystem, dirs: Seq[Path]): Long =
    if (dirs.isEmpty) 0L
    else index(spark, fs, dirs)._2.sizeInBytes
}
