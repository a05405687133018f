package graft.table

import java.util.UUID
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.SqlShim
import org.apache.spark.sql.types._

import graft.store.{LocalObjectStore, ObjectStore}
import graft.tx._

/** Transactional table client — the reference's DeltaLakeClient surface
  * (deltalakeclient/deltalakeclient.go:14-19) rebuilt on Spark:
  *
  *   - `newTx` / `commitTx`: snapshot isolation via log replay, optimistic
  *     first-writer-wins commit (transactions.go:53-147)
  *   - `createTable` / `writeRow` / `insert`: buffered row writes flushed as
  *     immutable parquet data objects (writes.go:9-56); `insert` is the bulk
  *     distributed path the reference lacked
  *   - `scan`: every live row version with (_tx_id, _row_idx) provenance —
  *     the reference's reverse-chronological iterator (reads.go:21-96)
  *     re-expressed as explicit ordering columns, because a DataFrame is an
  *     unordered set and "latest version wins" belongs in the plan, not in
  *     iterator order
  *   - `currentState`: latest-version-per-key dedup, the consumer pattern
  *     from the reference's model test (main_test.go:321-329), as a
  *     first-class window query
  *   - `deleteRows`: inclusive-range copy-on-write delete (writes.go:90-162);
  *     rewritten objects keep the ORIGINAL txId so they keep their
  *     chronological slot (transactions.go:11-16)
  *
  * Scale design: log replay is metadata-only; data moves through
  * distributed parquet jobs, except a `writeRow` buffer, which is in
  * driver memory already and is flushed from the driver as one object with
  * no Spark job; `currentState` is one shuffle (window over key);
  * copy-on-write delete is a constant TWO distributed jobs (locate touched
  * objects via footer-stat-pruned scan, then one combined rewrite) no matter
  * how many objects the table has — nothing here collects table data to the
  * driver except the caller's own unflushed buffer (bounded by
  * dataObjectSize) and per-object metadata.
  *
  * Row-buffer flush threshold defaults to the reference's intended 64Ki
  * (deltalakeclient.go:10-12), not its debug value of 10.
  */
final class GraftClient(
    spark: SparkSession,
    rootDir: String,
    dataObjectSize: Int = 64 * 1024,
    checkpointInterval: Int = 25,
    logStore: Option[ObjectStore] = None,
    logRetainVersions: Int = -1) {

  /** The LOG's object store — pluggable (an S3-style conditional-put
    * backend slots in here; `FaultInjectingObjectStore` exercises the
    * commit protocol under that failure model at the full-client level).
    * DATA objects — scans, writes, AND every maintenance path (staging
    * moves of compact/cluster/REORG, vacuum deletes, manifest listings)
    * — go through the Hadoop FileSystem resolved from `rootDir`'s
    * scheme, the same split Delta runs on (LogStore vs Hadoop FS): point
    * `rootDir` at s3a/abfs/any registered scheme and the WHOLE
    * lifecycle works, not just reads (RemoteFsSpec pins it). Every
    * object write — inserts AND maintenance rewrites — goes through the
    * rename-free [[DirectCommitProtocol]], so no data-plane path ever
    * calls `FileSystem.rename`: on stores without native rename (S3A et
    * al., where rename = copy + delete) graft pays exactly 1× write I/O
    * for every byte it lays out (RemoteFsSpec pins rename-freedom on a
    * rename-refusing scheme).
    *
    * Without a `logStore` the log sits in `rootDir` on the local disk:
    * a plain path or a `file:` URI. Any other scheme needs a `logStore`
    * and is refused here, rather than logging into a relative directory
    * named after the scheme while the data goes to the scheme.
    */
  private val rootPath = new org.apache.hadoop.fs.Path(rootDir)
  val store: ObjectStore = logStore.getOrElse(
    Option(rootPath.toUri.getScheme) match {
      case None => new LocalObjectStore(rootDir)
      case Some("file") => new LocalObjectStore(rootPath.toUri.getPath)
      case Some(scheme) => throw new IllegalArgumentException(
        s"root $rootDir is on the '$scheme' scheme: its log cannot sit " +
          "on the local disk; pass a logStore")
    })
  private val txLog = new TxLog(store)

  // ---- data-plane filesystem (Hadoop FS, scheme-resolved) --------------
  private lazy val dataFs: org.apache.hadoop.fs.FileSystem =
    rootPath.getFileSystem(spark.sessionState.newHadoopConf())
  /** rootDir-relative name -> Path on the data filesystem. */
  private def dataPath(rel: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(rootPath, rel)
  /** Children of `p` (empty when missing) — one FS LIST call. */
  private def listPath(p: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    try dataFs.listStatus(p).toSeq
    catch { case _: java.io.FileNotFoundException => Nil }
  private def deletePath(p: org.apache.hadoop.fs.Path): Unit = {
    dataFs.delete(p, true)
    ObjectFiles.evict(dataFs, p)
  }
  /** One distributed parquet write whose objects land DIRECTLY at their
    * final `_table_<t>_<uuid>` names — the rename-free committer
    * ([[DirectCommitProtocol]]): no `_staging_` hop, no
    * `FileSystem.rename`, 1× write I/O on object stores. Returns one
    * row per committed object: (escaped partition dir — None when
    * `partCols` is empty —, object name, footer row count, footer
    * stats). `partCols` are consumed by the layout and dropped from the
    * file schema, exactly like `DataFrameWriter.partitionBy`; callers
    * therefore footer-scan with the FILE schema (`fileSchema`). Objects
    * a failed/aborted job already wrote are unreferenced debris under
    * regular names: never visible to a reader, reclaimed by vacuum.
    */
  private def writeObjectsDirect(table: String, df: DataFrame,
      partCols: Seq[String], fileSchema: StructType)
      : Seq[(Option[String], String, Long, Map[String, ColStats])] = {
    val committed =
      DirectWrite.write(df, rootDir, partCols, DirectWrite.tableNamer(table))
    val scans = ParquetFooters.scanMany(spark.sessionState.newHadoopConf(),
      committed.map { case (_, name) => s"$rootDir/$name" }, fileSchema)
    committed.zip(scans).map { case ((dir, name), (rows, stats)) =>
      (dir, name, rows, stats)
    }
  }
  /** [[writeObjectsDirect]] for the unpartitioned object writers (data,
    * DV-key, CDC objects): one object per task, names carrying `tag`.
    * Returns (name, footer row count) per committed object — callers
    * register the non-empty ones and [[dropEmptyObjects]] the rest
    * (an empty task's writer still opens a file eagerly).
    */
  private def writeDirectTagged(table: String, df: DataFrame,
      tag: String = "", countSchema: StructType = new StructType())
      : Seq[(String, Long, Map[String, ColStats])] = {
    val committed =
      DirectWrite.write(df, rootDir, Nil, DirectWrite.taggedNamer(table, tag))
    val scans = ParquetFooters.scanMany(spark.sessionState.newHadoopConf(),
      committed.map { case (_, name) => s"$rootDir/$name" }, countSchema)
    committed.zip(scans).map { case ((_, name), (rows, stats)) =>
      (name, rows, stats)
    }
  }
  /** Delete the 0-row objects of a direct write — never registered, so
    * deleting them now just saves vacuum the work.
    */
  private def dropEmptyObjects(
      objs: Seq[(String, Long, Map[String, ColStats])]): Unit =
    objs.foreach { case (name, rows, _) =>
      if (rows == 0L) deletePath(dataPath(name))
    }
  /** Does an Add-action path still exist physically? Managed names are
    * rootDir-relative (the data FS); external converted objects carry a
    * scheme-free absolute path that resolves on the DEFAULT filesystem
    * (the form convertParquet stores).
    */
  private def objectExists(p: String): Boolean =
    if (p.startsWith("/")) {
      val ep = new org.apache.hadoop.fs.Path(p)
      ep.getFileSystem(externalConf).exists(ep)
    } else dataFs.exists(dataPath(p))
  /** One conf for all external-path resolution: clone/restore call
    * [[objectExists]] per snapshot object, and newHadoopConf() clones
    * the full multi-thousand-entry SQL+Hadoop conf each time — hoisted
    * so a metadata-only op stays metadata-sized. DELIBERATELY captured
    * once per client: Hadoop/session conf changed after the first
    * external-path check (e.g. refreshed object-store credentials set
    * via spark.conf) is not seen for this client's lifetime —
    * construct a fresh client after rotating credentials (clients are
    * cheap; the SQL catalog already builds one per operation).
    */
  private lazy val externalConf = spark.sessionState.newHadoopConf()

  /** Every read of a LOG-GOVERNED file pins `ignoreMissingFiles=false`
    * AT THE SOURCE, overriding the session conf: graft-written objects
    * through [[readObjectDirs]], the user files a log entry names
    * (COPY INTO landing files, converted external files, replication
    * bundles) through this reader. Clusters running object stores
    * commonly set `spark.sql.files.ignoreMissingFiles=true` to survive
    * stray listings — under that conf a file reclaimed mid-scan (vacuum past
    * the reader's snapshot) would SILENTLY corrupt the read: a missing
    * deletion vector un-deletes its rows, a missing data object drops
    * its rows, a missing spill page truncates a change feed. The
    * retention contract is "an over-held reader completes or fails
    * loudly" — so these reads must throw on a mid-scan miss no matter
    * what the session tolerates for plain file scans.
    */
  private def strictRead: org.apache.spark.sql.DataFrameReader =
    spark.read.option("ignoreMissingFiles", "false")

  /** The rows of the graft-written objects `rels` (rootDir-relative
    * names), read with `schema` through [[ObjectFiles]]: planned from the
    * cached part-file listings, under the same strict contract as
    * [[strictRead]], and failing loudly when an object is gone.
    */
  private def readObjectDirs(rels: Seq[String], schema: StructType): DataFrame =
    ObjectFiles.read(spark, dataFs, rels.map(dataPath), schema)

  /** The `_tx_id`/`_row_idx` provenance keys of the objects `rels`
    * (deletion vectors, or a rewrite's survivor objects).
    */
  private def readProvKeys(rels: Seq[String]): DataFrame =
    readObjectDirs(rels, StructType(Seq(
      StructField(TxIdCol, LongType, nullable = false),
      StructField(RowIdxCol, LongType, nullable = false))))

  val TxIdCol = "_tx_id"
  val RowIdxCol = "_row_idx"
  /** Reserved: the staging partition column of insertPartitioned/clusterBy
    * (a user column of this name would be silently replaced and dropped
    * from the written files).
    */
  val PartCol = "_part"
  /** Every internal column name any code path materializes on user data:
    * provenance (_tx_id/_row_idx), staging (_part), rewrite routing
    * (_obj/_ord), currentState's window rank (_rn), changesBetween's
    * presence/verdict markers (_in_a/_in_b/_change), and the insert
    * stamp's offset plumbing (_pid/_mid/_goff). All are reserved at
    * DDL time — a user column named _obj would otherwise be silently
    * overwritten with the object-directory name during dropColumn/
    * renameColumn, and _rn/_change would collide in currentState/CDF
    * output.
    */
  val ReservedCols: Set[String] =
    Set(TxIdCol, RowIdxCol, PartCol, "_obj", "_ord", "_rn",
      "_in_a", "_in_b", "_change", "_pid", "_mid", "_goff")

  private def requireNotReserved(names: Seq[String]): Unit = {
    val bad = names.filter(ReservedCols)
    require(bad.isEmpty,
      s"reserved column name(s): ${bad.mkString(",")} " +
        s"(internal names: ${ReservedCols.toSeq.sorted.mkString(",")})")
  }

  /** Refuse '.' anywhere in a declared field name, at any nesting depth:
    * every column-path surface (addColumn routing, scan bounds, deletes,
    * stats keys) splits on '.' to address nested leaves, so a literal
    * dot in a name would be silently misrouted as a path — a column
    * named "a.b" would resolve as struct a, leaf b. Checked at DDL time
    * (createTable/CONVERT/addColumn), where the loud refusal belongs.
    */
  private def requireNoDotsInNames(dt: DataType, where: String): Unit =
    dt match {
      case st: StructType => st.fields.foreach { f =>
        require(!f.name.contains('.'),
          s"$where: field name may not contain '.': ${f.name} " +
            "(dots address nested leaves; rename the field)")
        requireNoDotsInNames(f.dataType, where)
      }
      case ArrayType(e, _) => requireNoDotsInNames(e, where)
      case MapType(k, v, _) =>
        requireNoDotsInNames(k, where); requireNoDotsInNames(v, where)
      case _ => ()
    }

  private final class TxState(val snapshot: Snapshot) {
    val actions = mutable.Buffer[Action]()
    val tables: mutable.Map[String, StructType] =
      mutable.Map[String, StructType]() ++= snapshot.tables
    // unflushed rows with their already-assigned row index (tombstoned rows
    // are removed but surviving rows keep their index, like the reference's
    // in-place nil tombstones, writes.go:101-110)
    val buffers = mutable.Map[String, mutable.ArrayBuffer[(Long, Row)]]()
    val rowCounters = mutable.Map[String, Long]().withDefaultValue(0L)
    // tables whose current-snapshot DATA this tx has scanned — the read
    // set that full-Serializable commits check against the concurrent
    // window (historical scanAsOf reads are version-pinned and excluded)
    val readTables = mutable.Set[String]()
    // the operation name recorded in the commit envelope (DESCRIBE
    // HISTORY's `operation`); FIRST public mutator wins, so a composite
    // op (MERGE calling insert internally) is named by its outer verb
    var op: Option[String] = None
    // tables whose CHANGE record this tx has started (a CDC object was
    // staged): once set, later inserts in the SAME tx must mirror their
    // rows into CDC too, because a window reader treats a commit's CDC
    // objects as the COMPLETE change record (Delta's rule) and ignores
    // its add actions
    val cdcTables = mutable.Set[String]()
    def id: Long = snapshot.version
  }

  private var tx: Option[TxState] = None

  /** Record `op` as this commit's operation name (surfaced by DESCRIBE
    * HISTORY); the FIRST public mutator to tag wins, so composite ops
    * (MERGE's internal insert, insertGenerated's routed
    * insertPartitioned) are named by their outer verb.
    */
  private def tagOp(op: String): Unit = {
    val t = currentTx
    if (t.op.isEmpty) t.op = Some(op)
  }

  private def currentTx: TxState =
    tx.getOrElse(throw new IllegalStateException("no open transaction"))

  /** Name the open transaction's commit operation (DESCRIBE HISTORY)
    * before any mutator runs — first name wins, so a composite caller
    * (atomic CTAS/RTAS) labels the commit by its outer verb instead of
    * its first internal step.
    */
  def tagOperation(op: String): Unit = tagOp(op)

  def newTx(): Unit = {
    if (tx.isDefined)
      throw new IllegalStateException("transaction already open")
    tx = Some(new TxState(txLog.begin()))
  }

  def createTable(table: String, schema: StructType): Unit = {
    tagOp("CREATE TABLE")
    val t = currentTx
    if (t.tables.contains(table))
      throw new IllegalArgumentException(s"table exists: $table")
    requireNotReserved(schema.fieldNames.toIndexedSeq)
    requireNoDotsInNames(schema, s"createTable($table)")
    // pin the log's protocol on first create (Delta writes protocol with
    // the table's first commit) at the BASE format version — a table
    // only requires what it uses, so a down-level engine keeps reading
    // new tables until a gated feature (initial defaults) actually
    // lands and ITS commit upgrades the log. Logs that already carry a
    // protocol are left alone.
    val hasProtocol =
      t.snapshot.actions.exists(_.isInstanceOf[SetProtocol]) ||
        t.actions.exists(_.isInstanceOf[SetProtocol])
    if (!hasProtocol)
      t.actions += SetProtocol(
        TxLog.BaseReaderVersion, TxLog.BaseWriterVersion)
    t.tables(table) = schema
    t.actions += ChangeMetadata(table, schema)
  }

  /** CONVERT: import an existing parquet directory as `table` IN PLACE —
    * metadata only, no data rewrite (Delta's `CONVERT TO DELTA`). Each
    * `.parquet` file under `srcDir` becomes one EXTERNAL data object: an
    * absolute-path Add carrying footer-exact numRows plus column min/max
    * stats (so converted objects file-skip like any other) and a
    * `rowBase` making the synthesized `(_tx_id, _row_idx)` provenance
    * unique table-wide (see readObjects). At 100 TB the import cost is
    * one footer read per file — no row is read or written; onboarding a
    * petabyte lake is a metadata pass. Source files are treated as
    * immutable: vacuum never deletes them (they live outside the table
    * root), deletes copy-on-write AWAY from them, and `compact` /
    * `materializeSchema` migrate their rows into managed objects, after
    * which the originals are simply unreferenced. Exotic characters in
    * `srcDir` that URI-encode differently than they print are not
    * supported (the read layer would fail loudly, never misattribute).
    */
  def convertParquet(table: String, srcDir: String): Unit = {
    tagOp("CONVERT")
    val t = currentTx
    val schema = spark.read.option("mergeSchema", "true")
      .parquet(srcDir).schema
    requireNotReserved(schema.fieldNames.toIndexedSeq)
    createTable(table, schema) // enforces non-existence, stages metadata
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(srcDir)
    val fs = root.getFileSystem(conf)
    val parts = fs.listStatus(root).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    require(parts.nonEmpty, s"no parquet files under $srcDir")
    var base = 0L
    parts.foreach { st =>
      val p = st.getPath.toUri.getPath // scheme-free absolute form
      val (rows, stats) = ParquetFooters.scan(conf, p, schema)
      t.actions += AddDataObject(table, p, t.id, rows, stats,
        rowBase = Some(base))
      base += rows
    }
    // later writes in the SAME tx must stamp row indexes above the
    // synthesized range or (txId, rowIdx) pairs would collide
    t.rowCounters(table) = base
  }

  /** COPY INTO: idempotent incremental ingestion of a parquet landing
    * directory (Delta's COPY INTO contract). Each call lists `srcDir`,
    * skips files already recorded as loaded, COPIES the remaining files'
    * rows into a managed data object, and stamps one [[SetTxn]] watermark
    * per loaded file (`copy:<table>:<fileName>`) in the SAME commit — so
    * a crashed-and-retried load, an overlapping scheduler double-run, or
    * a daily re-point at a growing directory each lands every row exactly
    * once. Unlike [[convertParquet]] (zero-copy metadata import of a
    * frozen directory), COPY INTO owns its bytes: source files may be
    * renamed or deleted afterwards, and repeated calls incrementally
    * drain the landing zone. Per-call cost: one listing, one metadata
    * lookup per file, and a write of only the NEW files' rows — at
    * 100 TB the steady-state daily load touches the day's increment,
    * never the table. Files are identified by NAME (the landing-zone
    * convention: files are immutable once landed; a re-written file
    * under the same name is NOT re-loaded). Source columns may arrive in
    * any order; they are aligned to the table schema by name. Returns
    * the newly-loaded file names (empty = nothing new, and nothing is
    * staged, so a commit of an otherwise-empty tx stays read-only).
    */
  def copyInto(table: String, srcDir: String): Seq[String] = {
    tagOp("COPY INTO")
    val t = currentTx
    val schema = schemaOf(table)
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(srcDir)
    val fs = root.getFileSystem(conf)
    val loaded = t.snapshot.txns(t.actions.toSeq).keySet
    val fresh = fs.listStatus(root).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)
      .filter(p => !loaded.contains(s"copy:$table:${p.getName}"))
      .sortBy(_.getName)
    if (fresh.nonEmpty) {
      // full URIs, not bare paths: the landing directory may live on a
      // non-default filesystem (the listing already resolved through it)
      // strict: a landing file vanishing mid-copy must fail the COPY,
      // not get marked ingested (setTxn below) with its rows absent
      val df = strictRead.parquet(fresh.map(_.toString): _*)
      insert(table, df.select(schema.fieldNames.map(col).toIndexedSeq: _*))
      fresh.foreach(p => setTxn(s"copy:$table:${p.getName}", 1L))
    }
    fresh.map(_.getName)
  }

  /** Drop `table`: one [[DropTable]] log action clears the table's schema,
    * live objects, DVs, and constraints at this log position — a metadata
    * op, O(1) regardless of table size. Data files stay on disk until
    * [[vacuum]] (they fall out of every retained snapshot's keep-set). A
    * later CREATE of the same name starts clean.
    */
  def dropTable(table: String): Unit = {
    val t = currentTx
    if (!t.tables.contains(table))
      throw new IllegalArgumentException(s"no such table: $table")
    t.tables.remove(table)
    t.buffers.remove(table)
    t.actions += DropTable(table)
  }

  /** Widen `table` with a new nullable column — schema evolution via a
    * last-wins ChangeMetadata, the mechanism the reference nominally has
    * (transactions.go:91-95) but documents as breaking deletes
    * (README.md:45-46). Here it is sound: parquet reads are by NAME, so
    * files written before the widening surface the new column as null,
    * and a range delete on the new column simply never matches old rows.
    */
  def addColumn(table: String, field: StructField): Unit = {
    if (field.name.contains('.')) return addNestedColumn(table, field)
    tagOp("ALTER")
    val t = currentTx
    val schema = schemaOf(table)
    require(!schema.fieldNames.contains(field.name),
      s"column exists: ${field.name}")
    requireNotReserved(Seq(field.name))
    requireNoDotsInNames(field.dataType, s"addColumn(${field.name})")
    require(field.nullable, "added columns must be nullable: rows written " +
      "before the widening have no value for them")
    flush(table) // buffered rows carry the pre-widening arity
    // fresh physical name: if this logical name was ever dropped before,
    // old files keep their bytes under the OLD physical name, so the new
    // column reads null from them instead of resurrecting dead values
    val phys = s"${field.name}_${UUID.randomUUID().toString.take(8)}"
    val mapped = field.copy(metadata = new MetadataBuilder()
      .withMetadata(field.metadata).putString(PhysKey, phys).build())
    val widened = StructType(schema.fields :+ mapped)
    t.tables(table) = widened
    t.actions += ChangeMetadata(table, widened)
  }

  /** Schema evolution INSIDE a struct — `addColumn(t, StructField(
    * "meta.lang", ...))` routes here: the parent struct gains a new
    * nullable field in one ChangeMetadata, zero data objects touched.
    * Old files lack the leaf and read it as null (parquet nested
    * by-name semantics, same contract as top-level widening). Nested
    * fields are physical == logical: they can be added but never
    * dropped or renamed (those ALTERs refuse dotted names), so the
    * dropped-name-resurrection hazard that forces fresh physical names
    * at the top level cannot arise below it.
    */
  private def addNestedColumn(table: String, field: StructField): Unit = {
    tagOp("ALTER")
    val t = currentTx
    val schema = schemaOf(table)
    val parts = field.name.split('.').toSeq
    require(field.nullable, "added columns must be nullable: rows written " +
      "before the widening have no value for them")
    requireNotReserved(Seq(parts.head))
    requireNoDotsInNames(field.dataType, s"addColumn(${field.name})")
    require(!hasColumnPath(schema, field.name),
      s"column exists: ${field.name}")
    flush(table)
    def widen(st: StructType, path: Seq[String]): StructType = path match {
      case Seq(leaf) =>
        StructType(st.fields :+ field.copy(name = leaf))
      case head +: rest =>
        require(st.fieldNames.contains(head),
          s"no such column: $head (adding ${field.name})")
        val f = st(st.fieldIndex(head))
        f.dataType match {
          case inner: StructType =>
            val updated = f.copy(dataType = widen(inner, rest))
            StructType(st.fields.map(x =>
              if (x.name == head) updated else x))
          case other => throw new IllegalArgumentException(
            s"$head is ${other.simpleString}, not a struct " +
              s"(adding ${field.name})")
        }
    }
    val widened = widen(schema, parts)
    t.tables(table) = widened
    t.actions += ChangeMetadata(table, widened)
  }

  /** METADATA-ONLY type widening (Delta's type-widening table feature):
    * change a column to a strictly wider type in one ChangeMetadata —
    * zero data objects touched at any table size. Old files keep their
    * narrow physical encoding; the parquet reader up-converts per file
    * (int32 read as long, float as double, decimal rescaled — native in
    * Spark 4's vectorized reader). Sound around the sidecars by
    * construction and by repair:
    *   - min/max STATS are stored pre-normalized to the Long/Double
    *     domain ([[ColStats.normalize]]), so pruning compares identically
    *     across the transition;
    *   - BLOOM probes hash the probe cast to the CURRENT column type
    *     (xxhash64(3L) != xxhash64(3: Int)), so this column's bloom
    *     sidecars are DROPPED here (metadata-only re-Adds, the same
    *     commit shape as buildBloom) — a stale bloom would silently
    *     false-prune; rebuild with buildBloom when wanted.
    * Widening chains only (byte<short<int<long, float<double,
    * integral→double, decimal growth that never shrinks scale or
    * integer digits); anything else refuses — narrowing is a rewrite,
    * not an ALTER. NDV blobs (ANALYZE) hash the STRING form, so
    * integral widenings leave them exact; float→double changes the
    * string of non-dyadic fractions, so NDV estimates on a widened
    * float column may double-count until the next full analyzeNdv.
    */
  def widenColumnType(table: String, column: String,
      newType: DataType): Unit = {
    tagOp("ALTER")
    val t = currentTx
    val schema = schemaOf(table)
    require(hasColumnPath(schema, column), s"no such column: $column")
    val oldType = typeAtPath(schema, column)
    require(isWidening(oldType, newType),
      s"cannot widen ${oldType.simpleString} to ${newType.simpleString}" +
        ": only byte<short<int<long, float<double, integral->double and " +
        "non-shrinking decimal growth are metadata-only")
    flush(table) // buffered rows land under the pre-widening schema
    // blooms hash the probe cast to the CURRENT type, so a widened
    // column's sidecars are dropped (stale blooms false-prune); nested
    // (nested leaves carry blooms too — physOf keys their dotted path)
    val phys = physOf(schema, column)
    liveFiles(table).filter(hasBloom(_, phys)).foreach { a =>
      t.actions += RemoveDataObject(table, a.path)
      t.actions += a.copy(blooms = a.blooms - phys,
        bloomRefs = a.bloomRefs - phys)
    }
    // dotted path: widen the leaf INSIDE the struct — same one
    // ChangeMetadata, zero objects touched; the parquet reader
    // up-converts nested leaves per file exactly as it does flat ones
    def widenAt(st: StructType, path: Seq[String]): StructType = path match {
      case Seq(leaf) => StructType(st.fields.map(x =>
        if (x.name == leaf) x.copy(dataType = newType) else x))
      case head +: rest =>
        StructType(st.fields.map(x =>
          if (x.name == head) x.copy(dataType =
            widenAt(x.dataType.asInstanceOf[StructType], rest))
          else x))
    }
    val widened = widenAt(schema, column.split('.').toSeq)
    t.tables(table) = widened
    t.actions += ChangeMetadata(table, widened)
  }

  private def isWidening(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (a, b) if a == b => false
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) =>
        true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case (a: DecimalType, b: DecimalType) =>
        b.scale >= a.scale &&
          b.precision - b.scale >= a.precision - a.scale &&
          (b.precision > a.precision || b.scale > a.scale)
      case _ => false
    }

  /** [[addColumn]] with an INITIAL DEFAULT (Iceberg's initial-default /
    * Delta's existingDefault shape): metadata-only — the default literal
    * and the alter's snapshot version ride the column's field metadata,
    * and reads fill the default for exactly the rows written BEFORE the
    * column existed (`_tx_id < since`; CoW rewrites preserve original
    * txIds, so the fill survives compaction/REORG untouched). Rows
    * written after the alter carry the physical column; an explicit null
    * stays null — this is a read default for pre-existing rows, not a
    * write default. Exact under concurrency: appends conflict with
    * ChangeMetadata, so every committed row either predates the alter or
    * was written against the widened schema. The literal must be a
    * foldable non-null expression castable to the column type — checked
    * eagerly so a typo fails at ALTER time, not at first read.
    *
    * Same-transaction edge (documented, pinned): rows buffered EARLIER
    * in the altering transaction share its txId and flush under the
    * pre-alter schema, so they read NULL, not the default — the txId
    * boundary cannot order writes within one transaction. Commit the
    * alter in its own transaction (the SQL surface always does) for the
    * clean pre/post split.
    */
  def addColumnWithDefault(table: String, field: StructField,
      defaultSql: String): Unit = {
    // dotted names route through addNestedColumn with the default
    // metadata riding the leaf: an in-struct add carries its initial
    // default exactly like a top-level one (applyDefaults fills nested
    // leaves via withField; a null parent struct stays null)
    val checked =
      try spark.range(1).select(expr(defaultSql).cast(field.dataType))
        .collect().head.get(0)
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"default for ${field.name} does not evaluate as " +
            s"${field.dataType.simpleString}: $defaultSql", e)
      }
    require(checked != null,
      s"default for ${field.name} must not evaluate to null: $defaultSql")
    // store the FROZEN literal, not the raw SQL: a volatile expression
    // ("rand()", "current_date()") evaluates once at ALTER time and
    // every future read fills that one value — the initial-default
    // contract is a constant, never a per-scan re-evaluation
    val frozen = org.apache.spark.sql.catalyst.expressions.Literal
      .create(checked, field.dataType).sql
    // defaults are a PROTOCOL-2 feature: a v1 reader ignores the field
    // metadata and silently reads nulls, a v1 writer's REORG clears it
    // without baking — upgrade pre-v2 logs in this same commit so
    // down-level engines fail loudly instead
    val proto = currentTx.snapshot.protocol
    if (proto.minReader < 2 || proto.minWriter < 2)
      currentTx.actions += SetProtocol(
        math.max(proto.minReader, 2), math.max(proto.minWriter, 2))
    val since = currentTx.snapshot.version
    val withDefault = field.copy(metadata = new MetadataBuilder()
      .withMetadata(field.metadata)
      .putString(DefaultValKey, frozen)
      .putLong(DefaultSinceKey, since).build())
    addColumn(table, withDefault)
  }

  /** Narrow `table` by dropping a column — METADATA-ONLY via column
    * mapping: one ChangeMetadata action, zero data objects touched, O(1)
    * at any table size. The dropped column's bytes stay in the files
    * (reads project them away) until [[materializeSchema]] or a compact
    * rewrites them out; re-adding the same logical name later mints a
    * fresh physical name in [[addColumn]], so old values can never
    * resurrect.
    */
  def dropColumn(table: String, name: String): Unit = {
    tagOp("ALTER")
    val t = currentTx
    val schema = schemaOf(table)
    require(!name.contains('.'), s"cannot drop nested field $name: " +
      "nested fields are add-only (physical == logical below the top " +
      "level); drop would need column mapping per leaf — rewrite the " +
      "struct column instead")
    require(schema.fieldNames.contains(name), s"no such column: $name")
    require(schema.length > 1, "cannot drop the last column")
    requireNoConstraintOn(table, name)
    flush(table) // buffered rows carry the pre-narrowing arity
    val narrowed = StructType(schema.fields.filterNot(_.name == name))
    t.tables(table) = narrowed
    t.actions += ChangeMetadata(table, narrowed)
    // drop the column's paths from the bloom registration (orphaned
    // sidecar bytes are harmless; a later re-add mints a fresh physical
    // name, so old blooms can never false-answer for the new column)
    remapBloomRegistration(table, c =>
      if (c == name || c.startsWith(name + ".")) None else Some(c))
  }

  /** Rename a column — METADATA-ONLY via column mapping: the field keeps
    * its stable physical name (pinned into field metadata on first
    * rename) and only the logical name changes. Zero data objects
    * touched; stats and bloom sidecars stay valid because they are keyed
    * by the physical name. Old name free for later re-add (a fresh
    * physical name, reads null from old files).
    */
  def renameColumn(table: String, from: String, to: String): Unit = {
    tagOp("ALTER")
    val t = currentTx
    val old = schemaOf(table)
    require(!from.contains('.') && !to.contains('.'),
      s"cannot rename nested field $from: nested fields are add-only " +
        "(physical == logical below the top level) — rewrite the " +
        "struct column instead")
    require(old.fieldNames.contains(from), s"no such column: $from")
    require(!old.fieldNames.contains(to), s"column exists: $to")
    requireNotReserved(Seq(to))
    requireNoConstraintOn(table, from)
    val renamed = StructType(old.fields.map { f =>
      if (f.name == from)
        f.copy(name = to, metadata = new MetadataBuilder()
          .withMetadata(f.metadata).putString(PhysKey, physName(f)).build())
      else f
    })
    t.tables(table) = renamed
    t.actions += ChangeMetadata(table, renamed)
    // a registered bloom column (or a registered nested path under a
    // renamed struct) follows the rename; the sidecars stay valid (they
    // key by the stable physical name)
    remapBloomRegistration(table, c => Some(
      if (c == from) to
      else if (c.startsWith(from + ".")) to + c.stripPrefix(from)
      else c))
  }

  /** Partition evolution (Iceberg-style): change the table's DECLARED
    * partition spec — one metadata-only ChangeMetadata rewriting the
    * partition markers, ZERO data objects touched at any table size.
    * Already-written objects keep their old layout and stay exactly as
    * prunable as before, because pruning here is per-object STATS, not
    * directory paths: an old object is single-valued on the old spec's
    * columns, a new one on the new spec's, and a predicate on either
    * set skips whichever objects its stats rule out. Future inserts
    * (SQL INSERT routing, [[insertPartitioned]] callers reading the
    * spec) lay out one object per new-spec value combination. Pass
    * `Nil` to make the table unpartitioned (inserts become plain
    * appends). The old layout is migrated lazily by ordinary
    * maintenance: a partition-scoped [[compact]] or [[clusterBy]] over
    * the old region rewrites it into the new shape when wanted.
    */
  def alterPartitioning(table: String, partCols: Seq[String]): Unit = {
    tagOp("ALTER")
    val t = currentTx
    val respecced = GraftClient.withPartitionSpec(schemaOf(table), partCols)
    t.tables(table) = respecced
    t.actions += ChangeMetadata(table, respecced)
  }

  /** Mark `column` as GENERATED ALWAYS AS `exprSql` (Delta's generated
    * columns) — one metadata-only ChangeMetadata. The expression may
    * reference any OTHER column; [[insertGenerated]] computes it on every
    * insert (callers must not supply it), and when the expression is the
    * recognized monotone form `to_date(base)`, `scanBounded` DERIVES
    * bounds on this column from query bounds on `base` — the Delta trick
    * that lets a predicate on a raw timestamp prune a date-partitioned
    * layout the query never mentions.
    */
  def setGeneratedColumn(table: String, column: String,
      exprSql: String): Unit = {
    tagOp("ALTER")
    import GraftClient.GeneratedAsKey
    val t = currentTx
    val schema = schemaOf(table)
    require(schema.fieldNames.contains(column), s"no such column: $column")
    // resolve the expression against the OTHER columns: bad references
    // and self-references fail here, at declaration time
    val others = StructType(schema.fields.filterNot(_.name == column))
    val probeType = spark
      .createDataFrame(List.empty[Row].asJava, others)
      .withColumn(column, expr(exprSql)).schema(column).dataType
    require(probeType == schema(schema.fieldIndex(column)).dataType,
      s"generation expression type $probeType != declared " +
        s"${schema(schema.fieldIndex(column)).dataType} for $column")
    flush(table)
    val marked = StructType(schema.fields.map(f =>
      if (f.name == column) f.copy(metadata = new MetadataBuilder()
        .withMetadata(f.metadata).putString(GeneratedAsKey, exprSql).build())
      else f))
    t.tables(table) = marked
    t.actions += ChangeMetadata(table, marked)
  }

  /** The generated columns of `table`: logical name -> SQL expression. */
  def generatedColumns(table: String): Map[String, String] = {
    import GraftClient.GeneratedAsKey
    schemaOf(table).fields
      .filter(_.metadata.contains(GeneratedAsKey))
      .map(f => f.name -> f.metadata.getString(GeneratedAsKey)).toMap
  }

  /** Insert with every generated column computed by the ENGINE — `df`
    * must carry all table columns except the generated ones (supplying
    * one refuses, the GENERATED ALWAYS contract: a writer-computed value
    * could silently disagree with the expression and break derived
    * pruning). Routes through the declared partition spec, so the
    * standard layout is partition-by-generated-date with inserts that
    * never mention the date.
    */
  def insertGenerated(table: String, df: DataFrame): Unit = {
    val gens = generatedColumns(table)
    require(gens.nonEmpty, s"$table has no generated columns")
    gens.keys.foreach(g => require(!df.schema.fieldNames.contains(g),
      s"GENERATED ALWAYS: the insert must not supply $g"))
    val order = schemaOf(table).fieldNames
    val full = gens.foldLeft(df) { case (d, (g, e)) =>
      d.withColumn(g, expr(e))
    }.select(order.map(col).toIndexedSeq: _*)
    declaredPartitioning(table) match {
      case Nil => insert(table, full)
      case ps => insertPartitioned(table, full, ps)
    }
  }

  /** Does generated-column expression `e` have the recognized monotone
    * shape `to_date(c)`?
    */
  private def isToDateOf(e: String, c: String): Boolean =
    e.replaceAll("\\s+", "").equalsIgnoreCase(s"to_date($c)")

  /** `to_date` of a query-bound value, driver-side (sessions pin UTC). */
  private def toDateBound(v: Any): Any = v match {
    case t: java.sql.Timestamp =>
      t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate
    case t: java.time.Instant =>
      t.atZone(java.time.ZoneOffset.UTC).toLocalDate
    case t: java.time.LocalDateTime => t.toLocalDate
    case d: java.sql.Date => d.toLocalDate
    case d: java.time.LocalDate => d
    case _ => null // unknown type: contributes no derived bound
  }

  /** Export a symlink-style manifest (the shape of Delta's `GENERATE
    * symlink_format_manifest` / Hive's SymlinkTextInputFormat): one text
    * file listing the absolute path of every parquet part file in the
    * table's COMMITTED live set, so an external engine that understands
    * plain parquet but not the log (Trino, DuckDB, Athena…) can read a
    * consistent snapshot. Returns the manifest file's path.
    *
    * Refuses while deletion vectors are live — a path list cannot express
    * row-level masks; run a full-sweep [[compact]] to retire them first.
    * Readers see PHYSICAL column names plus the provenance columns
    * (project them away); buffered rows of the open tx are uncommitted
    * and never listed. The manifest is an EXPORT artifact: written where
    * the caller points, never part of the log, stale after the next
    * commit — regenerate on a schedule, as Delta does. Driver cost is
    * O(#objects) metadata plus one directory listing per object.
    */
  def generateManifest(table: String, outDir: String): String = {
    val t = currentTx
    t.readTables += table
    schemaOf(table) // no such table fails here, loudly
    // COMMITTED snapshot only — this tx's staged objects and DVs are
    // uncommitted and must neither be listed nor block the export
    require(t.snapshot.liveDvs(table).isEmpty,
      s"$table has live deletion vectors; a path manifest cannot express " +
        "row masks — run a full-sweep compact to retire them, then " +
        "regenerate")
    // Hadoop-FS listing, so the manifest exports correctly when rootDir
    // lives on a remote scheme; local paths stay plain-absolute (external
    // engines read them verbatim), remote ones keep their full URI
    def printable(p: org.apache.hadoop.fs.Path): String = {
      val u = p.toUri
      if (u.getScheme == null || u.getScheme == "file") u.getPath
      else p.toString
    }
    val parts = t.snapshot.liveFiles(table).flatMap { a =>
      listPath(dataPath(a.path))
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet") &&
          !st.getPath.getName.startsWith(".") &&
          !st.getPath.getName.startsWith("_"))
        .map(st => printable(st.getPath))
    }.sorted
    // the manifest itself goes wherever the caller points (its own FS)
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val outFs = outPath.getFileSystem(spark.sessionState.newHadoopConf())
    outFs.mkdirs(outPath)
    val mf = new org.apache.hadoop.fs.Path(outPath,
      s"manifest-$table-v${t.snapshot.version}.txt")
    val os = outFs.create(mf, true)
    try os.write((parts.mkString("\n") + "\n").getBytes("UTF-8"))
    finally os.close()
    printable(mf)
  }

  /** The declared partition spec of `table` (markers written by the SQL
    * catalog's `PARTITIONED BY` and [[alterPartitioning]]), in spec
    * order; empty when unpartitioned. API callers use it to route
    * inserts the way the SQL catalog does:
    * `insertPartitioned(t, df, declaredPartitioning(t))`.
    */
  def declaredPartitioning(table: String): Seq[String] =
    GraftClient.partitionSpecOf(schemaOf(table))

  /** Bake the logical schema back into the files: rewrite every live
    * object with physical == logical column names, dropping the bytes of
    * dropped columns and re-keying per-object stats to the current
    * names. The REORG/PURGE companion to the metadata-only
    * [[renameColumn]]/[[dropColumn]] — O(table), schedule like any
    * OPTIMIZE; layout, per-object stats tightness, and original txIds
    * survive ([[rewriteObjects]]).
    */
  def materializeSchema(table: String): Unit = {
    tagOp("REORG")
    val t = currentTx
    val schema = schemaOf(table)
    flush(table)
    val clean = StructType(schema.fields.map(f =>
      if (f.metadata.contains(PhysKey)) f.copy(metadata = Metadata.empty)
      else f))
    rewriteObjects(table, schema, clean, identity)
    t.tables(table) = clean
    t.actions += ChangeMetadata(table, clean)
    // the REORG rewrote every object (DVs and defaults baked, physical
    // names rebased): re-stamp registered blooms AFTER the metadata
    // lands so they key by the rebased physical names
    maintainBlooms(table)
  }

  /** Object-for-object rewrite of every live object, projecting
    * `readSchema` onto `newSchema` (each output column `n` sourced from
    * input column `colSource(n)`). ONE distributed job for the whole
    * table: rows are routed back to their source object's ordinal
    * (derived from input_file_name) through the partitionBy staging
    * trick, so partition/cluster layout, per-object stats tightness, and
    * each object's ORIGINAL txId survive — unlike a compacting rewrite,
    * which would flatten an insertPartitioned/clusterBy layout into one
    * stats-useless object. Deletion vectors are applied and retired. An
    * object whose rows are all DV-masked simply disappears.
    */
  private def rewriteObjects(table: String, schema: StructType,
      newSchema: StructType, colSource: String => String): Unit = {
    val t = currentTx
    val files = liveFiles(table)
    val dvs = t.snapshot.liveDvs(table, t.actions.toSeq)
    if (files.isEmpty) return
    val byOrdinal = files.zipWithIndex.map { case (a, i) => i -> a }.toMap
    val lookupRows = files.zipWithIndex.map { case (a, i) =>
      Row(a.path, i)
    }.toList.asJava
    val lookup = spark.createDataFrame(lookupRows, StructType(Seq(
      StructField("_obj", StringType, nullable = false),
      StructField("_ord", IntegerType, nullable = false))))
    // _obj is stamped by the read layer on the SCAN, before the DV
    // anti-join (a plan with the DV read joined in has two sources);
    // readObjects yields LOGICAL columns, so colSource maps logical names.
    // Initial defaults are BAKED into the rewrite (materializeSchema
    // clears the field metadata that drives the read-time fill, so the
    // fill must become physical bytes here — the REORG materializes
    // defaults exactly like it materializes DVs)
    val routed = applyDefaults(schema,
      applyDvs(readObjects(schema, files, tagObj = true), dvs))
      .join(broadcast(lookup), Seq("_obj"), "left")
      // an inner join here would silently DROP any row whose derived _obj
      // fails to resolve (empty input_file_name under a plan/reader change);
      // the left join + raise_error turns that into a loud job failure
      .withColumn("_ord", coalesce(col("_ord"),
        raise_error(concat(lit("rewriteObjects: unroutable row from object "),
          col("_obj")))))
    // row conservation, from DATA not metadata (action-level numRows goes
    // stale once DV-masked rows are physically removed — DvCompactReproSpec):
    // the expected count is one column-pruned pass over the same immutable
    // inputs, so the two passes cannot legitimately disagree
    val expected = routed.count()
    val projected = routed.select(
      newSchema.fieldNames.toIndexedSeq.map(n => col(colSource(n)).as(n)) ++
        Seq(col(TxIdCol), col(RowIdxCol), col("_ord").as(PartCol)): _*)
    // hash-exchange on the routing value: each original object's rows
    // land in ONE task, so the direct committer (one object per
    // task × value) re-materializes exactly one object per input — the
    // old partitionBy staging merged multi-task output per value; the
    // rename-free committer must co-locate instead
    val staged = writeObjectsDirect(table,
      projected.repartition(col(PartCol)), Seq(PartCol), newSchema)
      .map { case (dir, name, rows, stats) =>
        val ord = dir.get.stripPrefix(s"$PartCol=").toInt
        (name, ord, rows, stats)
      }
    val written = staged.map(_._3).sum
    if (written != expected) {
      // validate BEFORE registering any action, so a caller that catches
      // and commits anyway can't commit a lossy rewrite
      staged.foreach { case (name, _, _, _) => deletePath(dataPath(name)) }
      throw new IllegalStateException(
        s"rewriteObjects row-conservation failure: wrote $written rows, " +
          s"expected $expected live rows")
    }
    staged.foreach { case (name, ord, rows, stats) =>
      if (rows > 0)
        t.actions += AddDataObject(table, name, byOrdinal(ord).txId,
          rows, stats)
      else deletePath(dataPath(name))
    }
    files.foreach(a => t.actions += RemoveDataObject(table, a.path))
    dvs.foreach(d => t.actions += RemoveDataObject(table, d.path))
  }

  /** Names of every table visible to the open transaction. */
  def tables: Set[String] = currentTx.tables.keySet.toSet

  /** Evolution guard: refuse to drop/rename a column a CHECK constraint
    * mentions (word-boundary textual match — conservative: a false
    * positive asks the user to drop the constraint first, never the
    * reverse).
    */
  private def requireNoConstraintOn(table: String, column: String): Unit = {
    val pat = (".*\\b" + java.util.regex.Pattern.quote(column) + "\\b.*").r
    val refs = constraintsOf(table).filter(c => pat.matches(c._2))
    require(refs.isEmpty,
      s"constraint(s) reference column $column: ${refs.keys.mkString(",")} " +
        "(drop them first)")
  }

  /** Active CHECK constraints of `table` (committed + staged this tx). */
  def constraintsOf(table: String): Map[String, String] = {
    val t = currentTx
    t.snapshot.constraints(table, t.actions.toSeq)
  }

  /** Durable table properties of `table` (committed + staged this tx). */
  def tablePropertiesOf(table: String): Map[String, String] = {
    val t = currentTx
    require(t.tables.contains(table), s"no such table: $table")
    t.snapshot.properties(table, t.actions.toSeq)
  }

  /** SET TBLPROPERTIES: merge `props` into the table's durable
    * configuration — one metadata action, O(1) at any table size.
    * Recognized `graft.*` keys change engine behavior (checked where they
    * apply, e.g. [[requireMutable]] for `graft.appendOnly`, the streaming
    * sink for `graft.autoCompact.maxObjects`); unrecognized keys are
    * carried verbatim (user annotations, pipeline metadata).
    */
  def setTableProperties(table: String, props: Map[String, String]): Unit = {
    val t = currentTx
    require(t.tables.contains(table), s"no such table: $table")
    require(props.nonEmpty, "no properties given")
    // engine-recognized keys are validated at SET time — a malformed
    // value must fail THIS statement, not crash-loop every later stream
    // batch or mutation that consults it
    props.get("graft.appendOnly").foreach(v =>
      require(v == "true" || v == "false",
        s"graft.appendOnly must be true|false, got: $v"))
    props.get("graft.autoCompact.maxObjects").foreach(v =>
      require(v.toIntOption.exists(_ > 0),
        s"graft.autoCompact.maxObjects must be a positive int, got: $v"))
    props.get("graft.cluster.columns").foreach { v =>
      val cols = v.split(",").toSeq
      require(v.isEmpty || (cols.nonEmpty && cols.forall(_.nonEmpty)),
        s"graft.cluster.columns must be a comma-separated column list, " +
          s"got: $v")
      val schema = schemaOf(table)
      cols.filter(_.nonEmpty).foreach(c =>
        require(GraftClient.canonicalColumnPath(schema, c).isDefined &&
          !c.contains(":"),
          s"graft.cluster.columns names a missing or unstorable " +
            s"column: $c"))
    }
    props.get("graft.autoCluster.minObjects").foreach(v =>
      require(v.toIntOption.exists(_ > 0),
        s"graft.autoCluster.minObjects must be a positive int, got: $v"))
    props.get("graft.autoCluster.numBuckets").foreach(v =>
      require(v.toIntOption.exists(_ >= 2),
        s"graft.autoCluster.numBuckets must be >= 2, got: $v"))
    props.get(GraftClient.AutoAnalyzeProperty).foreach(v =>
      require(v == "true" || v == "false",
        s"${GraftClient.AutoAnalyzeProperty} must be true|false, got: $v"))
    props.get(GraftClient.BloomColumnsProperty).foreach { v =>
      val cols = v.split(',').map(_.trim).filter(_.nonEmpty)
      require(cols.nonEmpty,
        s"${GraftClient.BloomColumnsProperty} must name at least one column")
      cols.foreach(c => require(hasColumnPath(schemaOf(table), c),
        s"${GraftClient.BloomColumnsProperty}: no such column: $c"))
    }
    props.get(GraftClient.BloomBitsProperty).foreach(v =>
      require(v.toIntOption.exists(b => b > 0 && b % 64 == 0),
        s"${GraftClient.BloomBitsProperty} must be a positive multiple " +
          s"of 64, got: $v"))
    props.get(GraftClient.BloomKProperty).foreach(v =>
      require(v.toIntOption.exists(k => k >= 1 && k <= 16),
        s"${GraftClient.BloomKProperty} must be in [1,16], got: $v"))
    props.get(GraftClient.CdfProperty).foreach { v =>
      require(v == "true" || v == "false",
        s"${GraftClient.CdfProperty} must be true|false, got: $v")
      // file-level CDC is a PROTOCOL-3 feature: a v2 reader would crash
      // on the cdc action with the generic unknown-action error, and a
      // v2 writer would mutate the table WITHOUT recording its change
      // set (silent feed corruption) — upgrade the log in this commit
      // so down-level engines fail with the named upgrade message
      val proto = t.snapshot.protocol
      if (v == "true" && (proto.minReader < 3 || proto.minWriter < 3))
        t.actions += SetProtocol(
          math.max(proto.minReader, 3), math.max(proto.minWriter, 3))
    }
    // persist clustering columns under the schema's CANONICAL spelling
    // (the validator above accepted them case-insensitively, matching
    // Spark identifier resolution; downstream consumers — maybeCluster,
    // the z-grid, describeDetail — read the property verbatim)
    val normProps = props.get("graft.cluster.columns") match {
      case Some(v) if v.nonEmpty =>
        val canon = v.split(",").map(c =>
          GraftClient.canonicalColumnPath(schemaOf(table), c).getOrElse(c))
        props.updated("graft.cluster.columns", canon.mkString(","))
      case _ => props
    }
    t.actions += SetProperties(table,
      scala.collection.immutable.ListMap(normProps.toSeq.sortBy(_._1): _*))
  }

  /** UNSET TBLPROPERTIES: remove keys (absent keys are a no-op, matching
    * SQL's IF EXISTS-less UNSET in Delta).
    */
  def unsetTableProperties(table: String, keys: Seq[String]): Unit = {
    val t = currentTx
    require(t.tables.contains(table), s"no such table: $table")
    require(keys.nonEmpty, "no keys given")
    t.actions += SetProperties(table, Map.empty, keys.toVector)
  }

  /** Gate row-mutation verbs on `graft.appendOnly` (Delta's
    * delta.appendOnly): an append-only table refuses DELETE / MERGE /
    * UPDATE-shaped rewrites / TRUNCATE while inserts keep flowing — the
    * audit-log contract.
    */
  private def requireMutable(table: String, verb: String): Unit =
    require(!tablePropertiesOf(table).get("graft.appendOnly")
        .contains("true"),
      s"$verb on $table refused: table property graft.appendOnly=true " +
        "(UNSET it to allow row mutation)")

  /** Add a CHECK constraint (Delta's ALTER TABLE ADD CONSTRAINT):
    * `sqlExpr` is a boolean SQL expression over the table's columns that
    * no row may make FALSE (NULL passes — SQL CHECK semantics). Existing
    * rows are validated first with one stats-prunable scan; from then on
    * enforcement is FREE on the read side and pass-free on the write side
    * — [[constraintGuard]] folds the check into the `_tx_id` stamp every
    * write already computes, so a violating row fails the writing job
    * (and thus the tx) before any object registers.
    */
  def addConstraint(table: String, name: String, sqlExpr: String): Unit = {
    val t = currentTx
    require(t.tables.contains(table), s"no such table: $table")
    require(name.nonEmpty && sqlExpr.nonEmpty,
      "constraint name and expression must be non-empty")
    flush(table)
    val violations = scan(table)
      .filter(!coalesce(expr(sqlExpr), lit(true))).limit(1).count()
    require(violations == 0,
      s"existing rows violate constraint $name: $sqlExpr")
    t.actions += SetConstraint(table, name, sqlExpr)
  }

  /** Drop a CHECK constraint by name. */
  def dropConstraint(table: String, name: String): Unit = {
    val t = currentTx
    require(constraintsOf(table).contains(name),
      s"no such constraint on $table: $name")
    t.actions += SetConstraint(table, name, "")
  }

  /** Fold the table's CHECK constraints into the `_tx_id` column of a
    * to-be-written frame: a violating row turns the stamp into
    * raise_error, failing the write job — no separate validation pass,
    * and the cost is one codegen'd boolean per row on data that is being
    * written anyway.
    */
  private def constraintGuard(table: String, df: DataFrame): DataFrame = {
    val cs = constraintsOf(table)
    if (cs.isEmpty) df
    else {
      val ok = cs.values.map(e => coalesce(expr(e), lit(true)))
        .reduce(_ && _)
      df.withColumn(TxIdCol, when(ok, col(TxIdCol)).otherwise(raise_error(
        lit(s"CHECK constraint violated on $table: " +
          cs.map { case (n, e) => s"$n ($e)" }.mkString("; ")))))
    }
  }

  /** Enforce declared NOT NULL on a to-be-written frame, top-level and
    * nested: for every declared non-nullable leaf whose FRAME type is
    * nullable (a frame from a parquet read, a struct() with nullable
    * members), fold `leaf IS NOT NULL OR some ancestor struct IS NULL`
    * into the `_tx_id` stamp — the [[constraintGuard]] shape: a null in
    * a non-nullable leaf fails the writing job (and the tx) before any
    * object registers, at the cost of one codegen'd boolean per row.
    * A null ANCESTOR is legal (the leaf constraint scopes to present
    * parents, parquet's definition-level semantics); leaves whose frame
    * type is already non-nullable cost nothing. This is the
    * one-directional nullability contract: non-nullable frame into
    * nullable table is free, nullable frame into non-nullable table is
    * runtime-checked — never silently violated.
    */
  private def nullabilityGuard(table: String, schema: StructType,
      df: DataFrame): DataFrame = {
    val guardedPaths = mutable.ArrayBuffer[String]()
    // Some(fn) when `want` declares a non-nullable position the frame's
    // `got` might null — fn maps a VALUE of this type to its guard
    // predicate. Recurses through structs AND array elements / map
    // values (a NOT NULL leaf inside array<struct<…>> is as much a part
    // of the declared contract as a top-level one; forall/map_values
    // keep the check codegen'd per row). A null container passes — the
    // constraint scopes to PRESENT ancestors, parquet's
    // definition-level semantics.
    def valueGuard(want: DataType, got: DataType,
        prefix: String): Option[org.apache.spark.sql.Column =>
          org.apache.spark.sql.Column] = (want, got) match {
      case (ws: StructType, gs: StructType) =>
        val parts = ws.fields.toSeq.flatMap { f =>
          gs.fields.find(_.name == f.name).toSeq.flatMap { g =>
            val p = s"$prefix${f.name}"
            val here: Seq[org.apache.spark.sql.Column =>
                org.apache.spark.sql.Column] =
              if (!f.nullable && g.nullable) {
                guardedPaths += p
                Seq(c => c.getField(f.name).isNotNull)
              } else Nil
            here ++ valueGuard(f.dataType, g.dataType, s"$p.")
              .map(fn => (c: org.apache.spark.sql.Column) =>
                fn(c.getField(f.name))).toSeq
          }
        }
        if (parts.isEmpty) None
        else Some(c => c.isNull || parts.map(_(c)).reduce(_ && _))
      case (wa: ArrayType, ga: ArrayType) =>
        val elems = {
          val own: Seq[org.apache.spark.sql.Column =>
              org.apache.spark.sql.Column] =
            if (!wa.containsNull && ga.containsNull) {
              guardedPaths += s"${prefix.stripSuffix(".")}[]"
              Seq(e => e.isNotNull)
            } else Nil
          own ++ valueGuard(wa.elementType, ga.elementType, prefix).toSeq
        }
        if (elems.isEmpty) None
        else Some(c => c.isNull ||
          forall(c, e => elems.map(_(e)).reduce(_ && _)))
      case (wm: MapType, gm: MapType) =>
        val vals = {
          val own: Seq[org.apache.spark.sql.Column =>
              org.apache.spark.sql.Column] =
            if (!wm.valueContainsNull && gm.valueContainsNull) {
              guardedPaths += s"${prefix.stripSuffix(".")}{}"
              Seq(e => e.isNotNull)
            } else Nil
          own ++ valueGuard(wm.valueType, gm.valueType, prefix).toSeq
        }
        if (vals.isEmpty) None
        else Some(c => c.isNull ||
          forall(map_values(c), e => vals.map(_(e)).reduce(_ && _)))
      case _ => None
    }
    // top level: named columns, no container to scope to — a declared
    // non-nullable top-level column guards unconditionally
    val guards = schema.fields.toSeq.flatMap { f =>
      df.schema.fields.find(_.name == f.name).toSeq.flatMap { g =>
        val here =
          if (!f.nullable && g.nullable) {
            guardedPaths += f.name
            Seq(col(f.name).isNotNull)
          } else Nil
        here ++ valueGuard(f.dataType, g.dataType, s"${f.name}.")
          .map(fn => fn(col(f.name))).toSeq
      }
    }
    if (guards.isEmpty) df
    else {
      val ok = guards.reduce(_ && _)
      df.withColumn(TxIdCol, when(ok, col(TxIdCol)).otherwise(raise_error(
        lit(s"NOT NULL violated on $table: null written to a declared " +
          s"non-nullable column (guarded: " +
          s"${guardedPaths.mkString(", ")})"))))
    }
  }

  /** Latest sink-batch watermark committed (or staged in this tx) for
    * `appId` — the exactly-once read side of [[setTxn]].
    */
  def lastTxn(appId: String): Option[Long] = {
    val t = currentTx
    t.snapshot.txns(t.actions.toSeq).get(appId)
  }

  /** Stage "appId has committed batch `version`" into this transaction,
    * atomically with its data — the streaming sink's idempotence marker.
    */
  def setTxn(appId: String, version: Long): Unit =
    currentTx.actions += SetTxn(appId, version)

  /** Retire every live object and deletion vector of `table` in this tx —
    * metadata-only (files stay for time travel until [[vacuum]]); the
    * Overwrite half of the connector's save path.
    */
  def truncate(table: String): Unit = {
    tagOp("TRUNCATE")
    val t = currentTx
    require(t.tables.contains(table), s"no such table: $table")
    requireMutable(table, "TRUNCATE")
    t.buffers.get(table).foreach(_.clear())
    liveFiles(table).foreach(a => t.actions += RemoveDataObject(table, a.path))
    t.snapshot.liveDvs(table, t.actions.toSeq)
      .foreach(d => t.actions += RemoveDataObject(table, d.path))
  }

  def schemaOf(table: String): StructType =
    currentTx.tables.getOrElse(table,
      throw new IllegalArgumentException(s"no such table: $table"))

  private def provSchema(schema: StructType): StructType =
    StructType(schema.fields :+ StructField(TxIdCol, LongType, nullable = false)
      :+ StructField(RowIdxCol, LongType, nullable = false))

  // ---- column mapping (Delta-style, via field metadata) ----------------
  //
  // Parquet reads are by name, so a naive rename/drop is an O(table)
  // rewrite. Instead each column carries a stable PHYSICAL name in its
  // field metadata (key `graftPhysical`; absent = physical == logical,
  // which keeps every pre-mapping table readable unchanged). Files are
  // written and stats/bloom sidecars keyed under PHYSICAL names; reads
  // project physical -> logical. renameColumn then only changes the
  // logical name (files and pruning stay valid), dropColumn only narrows
  // the logical schema (bytes stay until [[materializeSchema]]/compact),
  // and addColumn mints a FRESH physical name so re-adding a dropped
  // column's name can never resurrect old values.

  /** Field-metadata key holding a column's physical name. */
  val PhysKey = "graftPhysical"

  /** Field-metadata keys for initial column defaults
    * ([[addColumnWithDefault]]): the default's SQL literal, and the
    * alter-time snapshot version — rows with `_tx_id` strictly below it
    * predate the column and read the default. WRITER CONTRACT (part of
    * protocol v2): the stored value is always a FROZEN literal —
    * [[addColumnWithDefault]] evaluates the caller's expression once
    * and stores `Literal.sql`, never the raw text — so the per-scan
    * `expr()` below can only ever re-parse a constant.
    */
  val DefaultValKey = "graftDefault"
  val DefaultSinceKey = "graftDefaultSince"

  /** Fill initial defaults on a logical-column frame that still carries
    * provenance: null values in rows written before the column existed
    * become the stored literal. A frame read at a pre-alter version never
    * gets here with the metadata (the snapshot's schema lacks it).
    * NESTED defaulted leaves fill inside their struct via `withField`;
    * a null PARENT struct stays null (the default fills missing leaves
    * of present structs — Iceberg's initial-default scoping, and the
    * same rule the NOT NULL guard uses).
    */
  private def applyDefaults(schema: StructType, df: DataFrame): DataFrame = {
    def collectDefaulted(st: StructType,
        prefix: Seq[String]): Seq[(Seq[String], StructField)] =
      st.fields.toSeq.flatMap { f =>
        val here =
          if (f.metadata.contains(DefaultValKey)) Seq((prefix :+ f.name, f))
          else Nil
        here ++ (f.dataType match {
          case s: StructType => collectDefaulted(s, prefix :+ f.name)
          case _ => Nil
        })
      }
    val defaulted = collectDefaulted(schema, Nil)
    if (defaulted.isEmpty) df
    else defaulted.foldLeft(df) { case (d, (path, f)) =>
      val leaf = col(path.mkString("."))
      val filled = when(
        leaf.isNull && col(TxIdCol) < f.metadata.getLong(DefaultSinceKey),
        expr(f.metadata.getString(DefaultValKey)).cast(f.dataType))
        .otherwise(leaf)
      if (path.length == 1) d.withColumn(path.head, filled)
      else {
        val top = col(path.head)
        d.withColumn(path.head, when(top.isNull, top)
          .otherwise(top.withField(path.tail.mkString("."), filled)))
      }
    }
  }

  private def physName(f: StructField): String =
    if (f.metadata.contains(PhysKey)) f.metadata.getString(PhysKey)
    else f.name

  /** The schema as written to / read from parquet. */
  private def physSchema(schema: StructType): StructType =
    StructType(schema.fields.map(f => f.copy(name = physName(f))))

  /** logical -> physical for the fields where the two differ. */
  private def physRenames(schema: StructType): Map[String, String] =
    schema.fields.iterator.map(f => f.name -> physName(f))
      .filter(p => p._1 != p._2).toMap

  /** Physical name of logical column `c` (stats/bloom key). Dotted paths
    * address nested-struct leaves: the TOP segment maps through column
    * mapping (files key the whole struct under the top-level physical
    * name), nested segments are physical == logical — nested fields are
    * never dropped or renamed (refused at the ALTER surface), so the
    * resurrection hazard column mapping exists for cannot arise below
    * the top level.
    */
  private def physOf(schema: StructType, c: String): String =
    if (!c.contains('.')) physName(schema(schema.fieldIndex(c)))
    else {
      val parts = c.split('.')
      (physName(schema(schema.fieldIndex(parts.head))) +: parts.tail.toSeq)
        .mkString(".")
    }

  /** Deep type equality modulo nullability — the insert contract for a
    * struct column. Top-level scalars keep exact equality (as before);
    * struct-valued frames built with `struct(...)` routinely carry
    * non-null nested fields, which may always be written into nullable
    * declared ones. Field NAMES stay strict: parquet is by-name.
    */
  private def sameTypeIgnoringNullability(a: DataType, b: DataType): Boolean =
    GraftClient.sameTypeIgnoringNullability(a, b)

  /** DataType at a (possibly dotted) column path; caller must have
    * validated with [[hasColumnPath]].
    */
  private def typeAtPath(schema: StructType, c: String): DataType =
    c.split('.').foldLeft(schema: DataType) { (cur, seg) =>
      cur.asInstanceOf[StructType].apply(seg).dataType
    }

  /** Does `c` (possibly dotted) resolve to a field / nested leaf? */
  private def hasColumnPath(schema: StructType, c: String): Boolean = {
    var cur: DataType = schema
    c.split('.').forall { seg =>
      cur match {
        case st: StructType if st.fieldNames.contains(seg) =>
          cur = st(st.fieldIndex(seg)).dataType; true
        case _ => false
      }
    }
  }

  /** Rename a logical-layout DataFrame for writing (prov/internal columns
    * pass through untouched).
    */
  private def toPhysical(df: DataFrame, schema: StructType): DataFrame = {
    val m = physRenames(schema)
    if (m.isEmpty) df else df.withColumnsRenamed(m)
  }

  /** Read data objects: physical columns on disk, logical columns out.
    * Columns a file lacks (written before an addColumn, or re-added under
    * a fresh physical name) surface as null — parquet by-name semantics.
    *
    * Internal objects (rootDir-relative paths) carry physical
    * `_tx_id`/`_row_idx` columns; EXTERNAL objects (absolute-path Adds
    * imported in place by [[convertParquet]]) don't, so provenance is
    * synthesized — `_tx_id` from the Add's txId, `_row_idx` as the Add's
    * rowBase plus the row's position in its immutable file
    * (`_metadata.row_index`, stable across reads) — making DV anti-joins
    * and MVCC ordering valid over files this client never wrote. With
    * `tagObj` every row also carries `_obj`, the identity matching
    * `AddDataObject.path` (internal: object directory name; external:
    * absolute file path), for rewrite/compact routing. The external
    * branch joins a broadcast metadata-sized lookup; a path-form mismatch
    * fails loudly (left join + raise_error), never silently nulls
    * provenance.
    */
  private def readObjects(schema: StructType, adds: Seq[AddDataObject],
      tagObj: Boolean = false): DataFrame = {
    val pSchema = provSchema(physSchema(schema))
    val outCols = pSchema.fieldNames.toIndexedSeq ++
      (if (tagObj) Seq("_obj") else Nil)
    val (ext, internal) = adds.partition(_.rowBase.isDefined)
    val pieces = Seq(
      if (internal.isEmpty) None else Some {
        val df = readObjectDirs(internal.map(_.path), pSchema)
        (if (tagObj) df.withColumn("_obj",
          regexp_extract(input_file_name(), "/([^/]+)/[^/]+$", 1))
         else df).select(outCols.map(col): _*)
      },
      if (ext.isEmpty) None else Some {
        val lookup = spark.createDataFrame(
          ext.map(a => Row(a.path, a.txId, a.rowBase.get)).toList.asJava,
          StructType(Seq(
            StructField("_gpath", StringType, nullable = false),
            StructField("_gtx", LongType, nullable = false),
            StructField("_gbase", LongType, nullable = false))))
        strictRead.schema(physSchema(schema)).parquet(ext.map(_.path): _*)
          // strip the scheme ("file:/", "s3a://", …) so the join key has
          // the same scheme-free absolute form convertParquet stored
          .withColumn("_gpath", regexp_replace(col("_metadata.file_path"),
            "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/"))
          .withColumn("_gidx", col("_metadata.row_index"))
          .join(broadcast(lookup), Seq("_gpath"), "left")
          .withColumn(TxIdCol, coalesce(col("_gtx"),
            raise_error(concat(
              lit("readObjects: external object missing from lookup: "),
              col("_gpath"))).cast(LongType)))
          .withColumn(RowIdxCol, col("_gbase") + col("_gidx"))
          .withColumn("_obj", col("_gpath"))
          .select(outCols.map(col): _*)
      }).flatten
    val df = pieces match {
      case Seq(one) => one
      case Seq(a, b) => a.unionByName(b)
      case _ => spark.createDataFrame(List.empty[Row].asJava,
        if (tagObj) pSchema.add("_obj", StringType) else pSchema)
    }
    val m = physRenames(schema)
    if (m.isEmpty) df else df.withColumnsRenamed(m.map(_.swap))
  }

  def writeRow(table: String, values: Seq[Any]): Unit = {
    tagOp("INSERT")
    val t = currentTx
    val schema = schemaOf(table)
    require(values.length == schema.length,
      s"row arity ${values.length} != schema arity ${schema.length}")
    val buf = t.buffers.getOrElseUpdate(table, mutable.ArrayBuffer())
    val idx = t.rowCounters(table)
    t.rowCounters(table) = idx + 1
    buf += ((idx, Row.fromSeq(values)))
    if (buf.length >= dataObjectSize) flush(table)
  }

  /** Bulk distributed insert (the reference's TODO-scale path): writes
    * the DataFrame as data objects without driver materialization —
    * ONE OBJECT PER WRITE TASK (the Delta AddFile granularity), landed
    * rename-free at final names by [[DirectCommitProtocol]]. Per-task
    * objects are what make direct writes attempt-safe (a zombie
    * speculative attempt's files sit in their own unregistered dirs,
    * never inside a registered one) and give per-task min/max stats —
    * finer pruning than one whole-insert bound. A caller that wants
    * fewer, larger objects controls it the Spark way (repartition
    * before insert); steady-state small-object buildup is compact's
    * job, as in every lakehouse.
    *
    * Row indexes are CONTIGUOUS (base..base+n-1): a cheap counting pass
    * computes per-partition offsets, then the write pass stamps
    * base+offset+localIdx — so a later writeRow/insert in the same tx always
    * gets a strictly larger _row_idx and latest-wins MVCC ordering holds
    * (the reference preserves intra-tx row order, transactions.go:11-16).
    * The counting pass also yields the row count — no post-write re-read.
    */
  def insert(table: String, df: DataFrame): Unit =
    withStamped(table, df) { (t, schema, stamped, n, txId) =>
      val objs = writeDirectTagged(table, toPhysical(stamped, schema),
        countSchema = physSchema(schema))
      // footer-metadata read (no Spark job): exact written count + column
      // min/max stats for file skipping. A count mismatch means the pinned
      // lineage still diverged between the two passes — fail the tx rather
      // than corrupt MVCC ordering.
      val written = objs.map(_._2).sum
      require(written == n,
        s"insert wrote $written rows but counted $n: non-deterministic input")
      dropEmptyObjects(objs)
      val adds = objs.collect { case (name, rows, stats) if rows > 0 =>
        AddDataObject(table, name, txId, rows, stats)
      }
      adds.foreach(t.actions += _)
      afterInsertObjects(table, adds)
    }

  /** Schema-evolving insert (Delta's `mergeSchema`): columns in `df`
    * that the table lacks are ADDED first (nullable, metadata-only via
    * [[addColumn]] — old rows read them as null), and table columns the
    * frame omits are written as null (they must be nullable). Type
    * conflicts refuse loudly — silent coercion is how a drifting
    * upstream corrupts a 100 TB table. The common ingestion contract:
    * feeds gain fields over time, the table follows, nothing rewrites.
    */
  def insertEvolving(table: String, df: DataFrame): Unit = {
    val before = schemaOf(table)
    // top-level additions (a whole new struct column adds in one step)
    df.schema.fields.filterNot(f => before.fieldNames.contains(f.name))
      .foreach(f => addColumn(table, f.copy(nullable = true)))
    // NESTED additions: leaves the frame's structs carry that the
    // table's lack — each one a metadata-only in-struct addColumn
    // (`meta.lang`), recursing to any depth. The common ingestion
    // reality: feeds grow fields inside their metadata struct too.
    def addNested(tbl: StructType, inc: StructType, prefix: String): Unit =
      inc.fields.foreach { f =>
        val p = s"$prefix${f.name}"
        if (!tbl.fieldNames.contains(f.name))
          addColumn(table, f.copy(name = p, nullable = true))
        else (tbl(tbl.fieldIndex(f.name)).dataType, f.dataType) match {
          case (ts: StructType, is: StructType) =>
            addNested(ts, is, p + ".")
          case _ => () // leaf/leaf or mismatch: checked below
        }
      }
    df.schema.fields.foreach { f =>
      before.fields.find(_.name == f.name).foreach { tf =>
        (tf.dataType, f.dataType) match {
          case (ts: StructType, is: StructType) =>
            addNested(ts, is, s"${f.name}.")
          case _ => ()
        }
      }
    }
    val schema = schemaOf(table)
    // conflicts refuse loudly with the dotted path; a frame struct may
    // be a SUBSET of the table's (omitted leaves write null), but a
    // shared leaf must agree on type — silent coercion is how a
    // drifting upstream corrupts a 100 TB table
    def checkTypes(want: DataType, got: DataType, path: String): Unit =
      (want, got) match {
        case (w: StructType, g: StructType) =>
          g.fields.foreach { f =>
            checkTypes(w(w.fieldIndex(f.name)).dataType, f.dataType,
              s"$path.${f.name}")
          }
        case _ => require(sameTypeIgnoringNullability(got, want),
          s"mergeSchema type conflict on $path: frame $got " +
            s"vs table $want — cast explicitly or evolve the table first")
      }
    df.schema.fields.foreach(f => checkTypes(
      schema(schema.fieldIndex(f.name)).dataType, f.dataType, f.name))
    // align: table column order, struct columns rebuilt to the table's
    // full leaf set (frame-omitted leaves null; a null struct stays a
    // null struct, not a struct of nulls). A frame-omitted NESTED leaf
    // needs the declared leaf nullable, the same contract the top-level
    // omission path enforces — silently nulling a non-nullable leaf
    // would violate the declared schema (Delta refuses both cases).
    def align(want: DataType, have: Option[(Column, DataType)],
        name: String, path: String): Column = (want, have) match {
      case (st: StructType, Some((c, hs: StructType))) =>
        when(c.isNull, lit(null).cast(st)).otherwise(
          struct(st.fields.toIndexedSeq.map { f =>
            val sub = if (hs.fieldNames.contains(f.name))
              Some((c.getField(f.name),
                hs(hs.fieldIndex(f.name)).dataType))
            else None
            if (sub.isEmpty) require(f.nullable,
              s"insert omits non-nullable nested field $path.${f.name}")
            align(f.dataType, sub, f.name, s"$path.${f.name}")
          }: _*)).as(name)
      case (dt, Some((c, _))) => c.as(name)
      case (dt, None) => lit(null).cast(dt).as(name)
    }
    val cols = schema.fields.map { f =>
      if (df.schema.fieldNames.contains(f.name))
        align(f.dataType,
          Some((col(f.name),
            df.schema(df.schema.fieldIndex(f.name)).dataType)), f.name, f.name)
      else {
        require(f.nullable,
          s"insert omits non-nullable column ${f.name}")
        lit(null).cast(f.dataType).as(f.name)
      }
    }
    insert(table, df.select(cols.toIndexedSeq: _*))
  }

  /** Expectations with QUARANTINE (the Delta-Live-Tables pattern, the
    * third enforcement mode next to refuse-the-commit CHECK constraints
    * and silent filters): every row is evaluated against every named
    * expectation; passing rows land in `table`, failing rows land in
    * `quarantineTable` tagged `_violated` (comma-joined failed
    * expectation names, name order) — BOTH inserts in the SAME
    * transaction, which multi-table commits make atomic: downstream
    * sees the full batch split or nothing, and the quarantine table is
    * an ordinary transactional table to inspect, fix, and re-ingest.
    * The classification is evaluated ONCE on a pinned copy (the merge
    * discipline): a non-deterministic source cannot route a row to both
    * tables or neither. Returns (passed, quarantined) counts.
    */
  def insertExpect(table: String, df: DataFrame,
      expectations: Map[String, String],
      quarantineTable: String): (Long, Long) = {
    tagOp("INSERT")
    require(expectations.nonEmpty, "no expectations given")
    require(!df.schema.fieldNames.contains("_violated"),
      "the insert frame may not carry a _violated column")
    val qSchema = schemaOf(quarantineTable)
    require(qSchema.fieldNames.contains("_violated"),
      s"$quarantineTable needs a _violated STRING column")
    val flags = expectations.toSeq.sortBy(_._1).map { case (name, e) =>
      when(coalesce(expr(e), lit(false)), lit(null).cast("string"))
        .otherwise(lit(name))
    }
    val tagged = df
      .withColumn("_violated", concat_ws(",", flags: _*))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val good = tagged.filter(col("_violated") === "").drop("_violated")
      val bad = tagged.filter(col("_violated") =!= "")
      val nGood = good.count()
      val nBad = bad.count()
      if (nGood > 0) insert(table, good)
      if (nBad > 0) insert(quarantineTable,
        bad.select(qSchema.fieldNames.map(col).toIndexedSeq: _*))
      (nGood, nBad)
    } finally tagged.unpersist(false)
  }

  /** Identity-column insert (Delta's GENERATED ALWAYS AS IDENTITY, client
    * form): `df` carries every table column EXCEPT `idCol` (a LongType
    * column of the table); this call reserves the id range
    * [next, next+n) from the durable high-water property
    * `graft.identity.<col>.next`, stamps ids deterministically over the
    * same pinned-lineage partition-offset scheme the provenance stamp
    * uses, and bumps the high-water IN THE SAME COMMIT — ids are unique
    * and increasing across the table's lifetime, with gaps only where
    * transactions aborted (Delta's exact contract: monotone, not
    * contiguous). Concurrency: the property bump conflicts with any
    * concurrent commit to the table (SetProperties is a conflict for
    * appends and mutations alike), so two racing identity inserts can
    * never double-allocate — the loser fails loudly and the caller
    * re-runs `insertIdentity` to reserve a fresh range. Returns the
    * reserved range start.
    */
  /** Nested identity targets (`meta.id`-style) use the same physical-
    * path plumbing blooms/defaults use: the insert carries the table
    * schema MINUS the leaf (a parent struct the removal empties is
    * absent entirely), and the stamp rebuilds each struct on the path
    * with the generated id at its declared position. A null parent
    * struct MATERIALIZES (the generated id exists on every row; sibling
    * leaves stay null). Conflict semantics are unchanged — the range
    * reservation is the same SetProperties bump.
    */
  def insertIdentity(table: String, df: DataFrame, idCol: String): Long = {
    val schema = schemaOf(table)
    require(hasColumnPath(schema, idCol), s"no such column: $idCol")
    require(typeAtPath(schema, idCol) ==
      org.apache.spark.sql.types.LongType,
      s"identity column $idCol must be BIGINT")
    val path = idCol.split('.').toSeq
    val expect = GraftClient.removeLeafOpt(schema, path).getOrElse(
      StructType(Nil))
    require(expect.nonEmpty,
      s"identity table must have at least one non-identity column")
    require(sameTypeIgnoringNullability(df.schema, expect),
      s"GENERATED ALWAYS: the insert must carry every column except " +
        s"$idCol — got ${df.schema.simpleString}, expected " +
        expect.simpleString)
    val key = s"graft.identity.$idCol.next"
    val next = tablePropertiesOf(table).get(key).map(_.toLong).getOrElse(0L)
    // pinned lineage + per-partition offsets, the provenance-stamp scheme
    // (see withStamped): ids are deterministic for a deterministic input,
    // and the stamp stays a Dataset expression inside codegen — no RDD hop
    val pinned = df.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val partCounts = pinned
        .groupBy(spark_partition_id().as("_pid")).count()
        .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      val n = partCounts.map(_._2).sum
      if (n == 0) return next
      val idVal = lit(next) + col("_goff") + col("_mid")
      val full = stampOffsets(pinned, partCounts)
        .select(schema.fields.toIndexedSeq.map { f =>
          (if (f.name == path.head) {
            val src =
              if (path.length == 1) None
              else if (expect.fieldNames.contains(f.name))
                Some(col(f.name))
              else None
            leafInserted(src, f.dataType, path.tail, idVal)
          } else col(f.name)).as(f.name)
        }: _*)
      insert(table, full)
      setTableProperties(table, Map(key -> (next + n).toString))
      next
    } finally pinned.unpersist(false)
  }

  /** Rebuild `declared` at `path` with `value` as the identity leaf,
    * sourcing every other leaf from `cur` (whose type is the declared
    * type minus the leaf; None when the removal emptied this subtree
    * out of the insert — every sibling then reads null).
    */
  private def leafInserted(cur: Option[Column], declared: DataType,
      path: Seq[String], value: Column): Column =
    if (path.isEmpty) value
    else {
      val st = declared.asInstanceOf[StructType]
      struct(st.fields.toIndexedSeq.map { f =>
        (if (f.name == path.head) {
          val src =
            if (path.length == 1) None
            else cur.filter(_ => GraftClient.removeLeafOpt(
              f.dataType.asInstanceOf[StructType], path.tail).isDefined)
              .map(_.getField(f.name))
          leafInserted(src, f.dataType, path.tail, value)
        } else cur.map(_.getField(f.name))
          .getOrElse(lit(null).cast(f.dataType))
        ).as(f.name)
      }: _*)
    }

  /** Shared bulk-write preamble: schema check, flush-before-bulk, contiguous
    * provenance stamping over a lineage PINNED across the counting and
    * stamping passes (a non-deterministic input — sample/rand, recomputation
    * on retry — must not move rows between partitions after the counting
    * pass computed offsets from them). Advances the row counter by n after
    * `body` succeeds.
    *
    * Both passes are DATASET-level so the stamped write stays inside
    * whole-stage codegen end to end (no RDD hop, no Row re-encoding):
    * the counting pass is a one-row-per-partition aggregate on
    * `spark_partition_id`, and the stamp is `base + offset[pid] +
    * row-in-partition`, where row-in-partition is the low 33 bits of
    * `monotonically_increasing_id` (its documented layout: partition id
    * high, per-partition counter low). Partition identity is pinned by
    * the persist, so the two passes and the write see the same layout.
    */
  private def withStamped(table: String, df: DataFrame)(
      body: (TxState, StructType, DataFrame, Long, Long) => Unit): Unit = {
    tagOp("INSERT")
    val t = currentTx
    val schema = schemaOf(table)
    require(df.schema.fieldNames.sameElements(schema.fieldNames),
      s"insert schema mismatch: ${df.schema.fieldNames.mkString(",")}")
    schema.fields.zip(df.schema.fields).foreach { case (want, got) =>
      require(sameTypeIgnoringNullability(got.dataType, want.dataType),
        s"insert type mismatch for ${want.name}: ${got.dataType} vs declared ${want.dataType}")
    }
    flush(table) // keep buffered rows chronologically before the bulk batch
    val base = t.rowCounters(table)
    val txId = t.id
    val pinned = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val partCounts0 = pinned
        .groupBy(spark_partition_id().as("_pid")).count()
        .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      val n = partCounts0.map(_._2).sum
      if (n == 0) return
      // OPTIMIZED WRITE (Delta's optimizeWrite shape, row-count based):
      // the direct committer registers one object per task, so an
      // over-parallel upstream (32 slices of a 25-row frame) would
      // otherwise land 25 one-row objects. Right-size the write to
      // ~dataObjectSize rows per object, engaging only when it at
      // least halves the object count. The resized frame is PERSISTED
      // (same pinning contract as `pinned`): the recount materializes
      // the cache and the write job reads it back — partition identity
      // stays pinned for the stamp, and the exchange runs once, not
      // once per pass.
      val k = math.max(1L, math.min(partCounts0.length.toLong,
        (n + dataObjectSize - 1) / dataObjectSize)).toInt
      val resized =
        if (partCounts0.length >= k * 2)
          Some(pinned.repartition(k).persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        else None
      val (src, partCounts) = resized match {
        case Some(r) =>
          (r, r.groupBy(spark_partition_id().as("_pid")).count()
            .collect().map(x => (x.getInt(0), x.getLong(1))).sortBy(_._1))
        case None => (pinned, partCounts0)
      }
      try {
        // per-partition global offsets as a BROADCAST lookup (the
        // rewriteObjects routing shape), not an N-element array literal —
        // a 100k-partition cluster insert must not codegen a 100k-child
        // CreateArray. Both nondeterministic inputs (_pid, _mid) are
        // projected BEFORE the join; Catalyst never moves them across it.
        val stamped = stampOffsets(src, partCounts)
          .withColumn(TxIdCol, lit(txId))
          .withColumn(RowIdxCol, lit(base) + col("_goff") + col("_mid"))
          .select(schema.fieldNames.toIndexedSeq.map(col) ++
            Seq(col(TxIdCol), col(RowIdxCol)): _*)
        body(t, schema, nullabilityGuard(table, schema,
          constraintGuard(table, stamped)), n, txId)
        t.rowCounters(table) = base + n
      } finally resized.foreach(_.unpersist(false))
    } finally pinned.unpersist(false)
  }

  /** Attach `_goff` (the partition's global row offset, from the
    * counting pass) and `_mid` (the row's position within its
    * partition, the low 33 bits of `monotonically_increasing_id`'s
    * documented partition-high/counter-low layout) to a PINNED frame —
    * the Dataset-level half of the contiguous-stamp scheme shared by
    * [[withStamped]] and [[insertIdentity]].
    */
  private def stampOffsets(pinned: DataFrame,
      partCounts: Array[(Int, Long)]): DataFrame = {
    val offsets = partCounts
      .scanLeft((0, 0L)) { case ((_, acc), (pid, cnt)) => (pid, acc + cnt) }
      .init.zip(partCounts)
      .map { case ((_, off), (pid, _)) => Row(pid, off) }
    val lookup = spark.createDataFrame(offsets.toList.asJava,
      StructType(Seq(
        StructField("_pid", IntegerType, nullable = false),
        StructField("_goff", LongType, nullable = false))))
    pinned
      .withColumn("_pid", spark_partition_id())
      .withColumn("_mid",
        monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)))
      .join(broadcast(lookup), Seq("_pid"))
  }

  /** Bulk insert split into one data object per distinct value of
    * `partCol` — Hive-style partitioned layout expressed through the stats
    * mechanism: each object's stats pin partCol to a single value, so
    * range scans and deletes on partCol prune whole objects (partition
    * pruning == file skipping, no separate read-path code). One
    * distributed write job; object registration is driver-side metadata
    * (footer reads + directory renames — on a real object store the
    * staging step would be a direct-to-final committer instead).
    *
    * The partition column STAYS in the data files (the writer partitions
    * on a duplicate `_part` column that is dropped from the file schema by
    * partitionBy), so every object remains a self-contained parquet dir
    * with the full table schema — scan/delete/compact code is unchanged.
    * Choose low-cardinality partition columns, as with any Hive layout.
    */
  def insertPartitioned(table: String, df: DataFrame, partCol: String): Unit =
    insertPartitioned(table, df, Seq(partCol))

  /** Multi-column form: one data object per DISTINCT VALUE COMBINATION
    * of `partCols` (nested identity transforms — the (date, source)
    * layout real tables use). Each object's stats pin EVERY partition
    * column to a single value, so the existing pruning machinery works
    * unchanged: a point query on the full combination opens one object,
    * and a predicate on any SUBSET of the columns — including trailing
    * ones alone — prunes via the same per-column stats (no Hive-style
    * leading-prefix restriction, because pruning is stats, not paths).
    */
  def insertPartitioned(table: String, df: DataFrame,
      partCols: Seq[String]): Unit = {
    require(partCols.nonEmpty && partCols.distinct == partCols,
      s"partition columns must be non-empty and distinct: $partCols")
    // dotted paths partition by a nested-struct leaf (the object's
    // stats then pin that leaf, so nested pruning == partition pruning)
    partCols.foreach(c => require(hasColumnPath(df.schema, c),
      s"no such column: $c"))
    // staging duplicates (consumed by partitionBy, dropped from files)
    val stageCols = partCols.indices.map(i => s"$PartCol$i")
    stageCols.foreach(sc => require(!df.schema.fieldNames.contains(sc),
      s"column name collides with the staging layout: $sc"))
    withStamped(table, df) { (t, schema, stamped, n, txId) =>
      val withParts = partCols.zip(stageCols).foldLeft(
        toPhysical(stamped, schema)) { case (d, (c, sc)) =>
        d.withColumn(sc, col(physOf(schema, c)))
      }
      // WRITE-SIDE CLUSTERING (Delta's optimized write): one exchange on
      // the partition values so each value lands contiguously in ONE
      // task — without it every input task holds rows of every value and
      // each object fragments into up-to-#tasks part-files (32 tasks ×
      // 30 values = up to 960 small files per insert, then compaction
      // debt). The catalog's write also declares this through DSv2
      // RequiresDistributionAndOrdering, but Spark's V1-fallback insert
      // re-plans the pre-optimization query and drops the prepared
      // distribution, so the authoritative exchange lives here, where
      // every insert path (SQL, client API, connector save) funnels.
      // validate the write BEFORE registering any action: a count
      // mismatch (non-deterministic input) must leave the tx's action
      // buffer clean so a caller that catches and commits anyway can't
      // commit corrupt MVCC ordering (same order as insert's check)
      val staged = writeObjectsDirect(table,
        withParts.repartition(stageCols.map(col): _*),
        stageCols, physSchema(schema))
        .map { case (_, name, rows, stats) => (name, rows, stats) }
      val written = staged.map(_._2).sum
      require(written == n,
        s"insertPartitioned wrote $written rows but counted $n")
      val adds = staged.map { case (name, rows, stats) =>
        AddDataObject(table, name, txId, rows, stats)
      }
      adds.foreach(t.actions += _)
      // one batched hook call: write-time blooms for all the staged
      // partition objects fold in a single aggregation job
      afterInsertObjects(table, adds)
    }
  }

  private def flush(table: String): Unit = {
    val t = currentTx
    val buf = t.buffers.getOrElse(table, return)
    if (buf.isEmpty) return
    val schema = schemaOf(table)
    val rows = buf.map { case (idx, r) =>
      Row.fromSeq(r.toSeq :+ t.id :+ idx)
    }.toList.asJava
    // the rows are in driver memory already: one object written in
    // place, no Spark job (a CHECK violation throws while planning);
    // the write and its footer scan share one copy of the Hadoop conf
    val name = DirectWrite.tableNamer(table)(None)
    val conf = spark.sessionState.newHadoopConf()
    DirectWrite.writeLocal(
      toPhysical(
        constraintGuard(table,
          spark.createDataFrame(rows, provSchema(schema))), schema),
      rootDir, name, conf)
    val (rowsN, stats) =
      ParquetFooters.scan(conf, s"$rootDir/$name", physSchema(schema))
    require(rowsN == buf.length.toLong,
      s"flush wrote $rowsN rows of ${buf.length} buffered")
    val add = AddDataObject(table, name, t.id, rowsN, stats)
    t.actions += add
    afterInsertObject(table, add)
    buf.clear()
  }

  private def liveFiles(table: String): Vector[AddDataObject] = {
    val t = currentTx
    t.snapshot.liveFiles(table, t.actions.toSeq)
  }

  /** All live row versions (committed-in-snapshot + this tx's own writes),
    * with provenance columns. Latest-version semantics = order by
    * (_tx_id, _row_idx) descending; [[currentState]] does that per key.
    */
  def scan(table: String): DataFrame = scanBounded(table, Nil)

  /** [[scan]] with stats-based file skipping driven by inclusive
    * per-column bounds (`null` = unbounded on that side): an object is
    * opened only when its footer stats can overlap EVERY bound. This is
    * the connector's pushdown entry point ([[graft.sources.GraftSource]])
    * — a conjunctive predicate pushed by Spark becomes a bounds list here,
    * and the same column may appear more than once (each bound prunes
    * independently, so no driver-side bound merging is needed). NO
    * residual filtering happens here: callers own exact semantics, this
    * owns which files never get opened.
    */
  def scanBounded(table: String,
      bounds: Seq[(String, (Any, Any))]): DataFrame = {
    val schema = schemaOf(table)
    bounds.foreach { case (c, _) =>
      require(hasColumnPath(schema, c), s"no such column: $c") }
    // DERIVED bounds: a generated column g = to_date(c) is monotone
    // non-decreasing in c, so c ∈ [lo, hi] implies g ∈ [to_date(lo),
    // to_date(hi)] — a date-partitioned layout prunes from a predicate
    // on the raw timestamp it was derived from (which itself carries no
    // footer stats). A bound value of unrecognized type contributes
    // null, which mayOverlap treats as unbounded — conservative.
    val gens = generatedColumns(table)
    val derived = bounds.flatMap { case (c, (lo, hi)) =>
      gens.collect { case (g, e) if isToDateOf(e, c) =>
        g -> (toDateBound(lo), toDateBound(hi))
      }
    }
    // stats are keyed by PHYSICAL column names (rename-stable)
    scanFiltered(table, a => (bounds ++ derived).forall { case (c, (lo, hi)) =>
      ColStats.mayOverlap(a.stats, physOf(schema, c), lo, hi) })
  }

  /** [[scan]] over only the live objects passing `filePred` — the shared
    * core of every file-skipping read (bounds, bloom). Buffered rows of
    * the open tx always pass through (no stats exist for them yet).
    */
  private def scanFiltered(table: String,
      filePred: AddDataObject => Boolean): DataFrame = {
    val t = currentTx
    t.readTables += table
    val schema = schemaOf(table)
    val pSchema = provSchema(schema)
    val files = liveFiles(table).filter(filePred)
    val committed =
      if (files.isEmpty)
        spark.createDataFrame(List.empty[Row].asJava, pSchema)
      else
        applyDvs(readObjects(schema, files),
          t.snapshot.liveDvs(table, t.actions.toSeq))
    val buf = t.buffers.getOrElse(table, mutable.ArrayBuffer())
    val all =
      if (buf.isEmpty) committed
      else {
        val rows = buf.map { case (idx, r) =>
          Row.fromSeq(r.toSeq :+ t.id :+ idx)
        }.toList.asJava
        committed.unionByName(spark.createDataFrame(rows, pSchema))
      }
    applyDefaults(schema, all)
  }

  /** Suppress rows named by live deletion vectors. While the LIVE DV
    * total stays under [[GraftClient.BroadcastKeyRowGate]] — priced
    * metadata-only from Σ `AddDeleteVector.numRows` in the log — the
    * keys are read on the driver ([[DvKeys.maskOf]]: parquet-hadoop
    * through the session's Hadoop conf, no Spark job) and masked inside
    * the scan by one [[NotDeleted]] filter, so the read plans no join
    * and runs no broadcast job. The keys stay in a JVM-wide cache keyed
    * by DV object path and bounded by total keys ([[DvKeys.MaxCachedKeys]],
    * the gate's 4 M keys, 64 MB): DV objects are immutable, so a repeat
    * read of the same DVs opens none of them. DV rows accumulate across
    * deletes until compaction retires them, and the subquery-DML path
    * hands this step arbitrary user key sets, so past the gate the DV
    * objects are read as a second relation and anti-joined shuffled:
    * bounded executor memory instead of an unbounded driver read.
    */
  private def applyDvs(df: DataFrame, dvs: Seq[AddDeleteVector]): DataFrame =
    if (dvs.isEmpty) df
    else if (dvs.map(_.numRows).sum <= broadcastKeyRowGate) {
      val mask = DvKeys.maskOf(dataFs, dvs.map(d => dataPath(d.path)))
      df.filter(SqlShim.column(NotDeleted(UnresolvedAttribute.quoted(TxIdCol),
        UnresolvedAttribute.quoted(RowIdxCol), mask)))
    } else {
      val keys = readProvKeys(dvs.map(_.path))
      df.join(keys, Seq(TxIdCol, RowIdxCol), "left_anti")
        // a USING join fronts the key columns; restore the scan layout
        .select(df.columns.map(col).toIndexedSeq: _*)
    }

  /** [[GraftClient.BroadcastKeyRowGate]], per-session overridable via
    * `spark.graft.broadcastKeyRowGate` (tests set it low to pin the
    * shuffled shapes without materializing 4 M keys).
    */
  private def broadcastKeyRowGate: Long =
    spark.conf.getOption("spark.graft.broadcastKeyRowGate").map(_.toLong)
      .getOrElse(GraftClient.BroadcastKeyRowGate)

  /** Current table state: latest version per key — one shuffle on keyCols.
    * This is the reference consumers' first-seen-wins dedup over the
    * reverse-chronological scan (main_test.go:321-329) as a window query.
    */
  def currentState(table: String, keyCols: Seq[String]): DataFrame = {
    val schema = schemaOf(table)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(TxIdCol).desc, col(RowIdxCol).desc)
    scan(table)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** Metadata listing of the table's live objects (path, txId, numRows,
    * column stats) — the planning input for stats-based file skipping;
    * driver-side only, no Spark job.
    */
  def objects(table: String): Vector[AddDataObject] = liveFiles(table)

  /** [[scan]] restricted by an inclusive range on `column`, with
    * stats-based FILE SKIPPING: objects whose footer min/max can't overlap
    * [start, end] are never opened (verifiable via `.inputFiles`). Within
    * the opened objects, parquet row-group stats prune further and the
    * residual filter lands via pushdown — three pruning tiers, all from
    * one declarative predicate. Unflushed buffered rows pass through the
    * same Catalyst predicate.
    */
  def scanRange(table: String, column: String, start: Any, end: Any): DataFrame =
    scanBounded(table, Seq(column -> (start, end)))
      .filter(col(column).between(lit(start), lit(end)))

  /** LIKE-'prefix%' scan with stats-based file skipping: the prefix
    * compiles to the range [prefix, [[ColStats.prefixUpperBound]]] over
    * the existing string min/max (parquet's truncated bounds stay
    * conservative), so only objects whose range can contain the prefix
    * are opened; the exact startsWith filter applies on top. The same
    * compilation serves the batch scan's pushed StringStartsWith
    * filters ([[graft.sql.FilterTranslation.boundsOf]]).
    */
  def scanPrefix(table: String, column: String, prefix: String): DataFrame = {
    require(prefix.nonEmpty, "empty prefix matches every row — use scan")
    scanBounded(table,
      Seq(column -> (prefix, ColStats.prefixUpperBound(prefix))))
      .filter(col(column).startsWith(prefix))
  }

  /** Attach a per-object bloom filter over `column` to every live object
    * that lacks one — the reference's unimplemented bloom-filter TODO
    * (README.md:37), and the point-lookup complement to min/max stats:
    * high-cardinality keys (ids, names, hashes) overlap range-wise across
    * every object, so [[scanRange]] pruning degenerates to a full scan,
    * while a 1 KiB bloom per object still excludes almost all of them.
    *
    * One distributed pass over the un-bloomed objects: k seeded xxhash64
    * bit positions per row, bit-or folded into `numBits/64` words per
    * object — the same map-side-combine shape as any aggregation, no
    * driver-side data. Each object's metadata is then re-staged
    * (remove + re-add of the SAME path) with the bloom attached; the
    * ordered log fold makes the re-add win. Like [[clusterBy]], run it as
    * an OPTIMIZE-style maintenance pass; new objects written later start
    * bloom-less until the next pass.
    *
    * `numBits` is a per-object CAP, not a fixed geometry: each object's
    * width derives from its own row count (~10 bits/row for ~1 % FP,
    * [[bloomBitsFor]]), clamped by the cap — so a table whose object
    * sizes vary 100× holds the FP target everywhere instead of running
    * big objects at a fraction of the bits-per-key. Bitsets land as
    * per-object SIDECAR store objects; only a fixed-size [[BloomRef]]
    * rides the log (driver snapshot and checkpoints stay O(objects)).
    */
  def buildBloom(table: String, column: String,
      numBits: Int = GraftClient.DefaultBloomCapBits, k: Int = 4): Unit = {
    tagOp("BLOOM")
    val t = currentTx
    require(numBits % 64 == 0 && numBits > 0, s"numBits must be a multiple of 64")
    require(k >= 1 && k <= 16, "k must be in [1,16]")
    val schema = schemaOf(table)
    // dotted paths key the bloom sidecar by the leaf's PHYSICAL dotted
    // path (top segment through column mapping, nested segments
    // physical == logical) — the same key space stats use, so
    // scanEquals("meta.source", v) probes nested blooms exactly like
    // flat ones. A corpus keyed on a struct leaf keeps the point-lookup
    // tier.
    require(hasColumnPath(schema, column), s"no such column: $column")
    flush(table)
    // blooms are keyed by the PHYSICAL column name (rename-stable)
    val physCol = physOf(schema, column)
    val files = liveFiles(table).filterNot(hasBloom(_, physCol))
    if (files.isEmpty) return
    // one explode-shaped pass (see bloomsForObjects for the plan-size
    // contract); defaults are filled inside it before hashing, so
    // pre-alter objects bloom the default value their rows READ and a
    // point lookup on it never false-prunes; an all-null column gets
    // the empty bloom
    val computed = bloomsForObjects(schema, files, Seq(column), numBits, k)
    files.foreach { a =>
      t.actions += RemoveDataObject(table, a.path)
      t.actions += withBloomStamp(table, a,
        Map(physCol -> computed(a.path)(physCol)))
    }
  }

  /** Register `columns` for WRITE-TIME blooms and bloom the existing
    * history: sets [[GraftClient.BloomColumnsProperty]] (+ geometry),
    * then runs the incremental maintenance pass so every live object
    * carries the registered blooms immediately. From here on inserts
    * stamp their own objects ([[afterInsertObjects]]), compaction
    * OR-merges metadata-only, and re-layout rewrites re-stamp — the
    * one-shot [[buildBloom]] becomes unnecessary on registered tables.
    */
  def registerBlooms(table: String, columns: Seq[String],
      numBits: Int = GraftClient.DefaultBloomCapBits, k: Int = 4): Unit = {
    require(columns.nonEmpty && columns.distinct == columns,
      s"bloom columns must be non-empty and distinct: $columns")
    val schema = schemaOf(table)
    columns.foreach(c =>
      require(hasColumnPath(schema, c), s"no such column: $c"))
    require(numBits % 64 == 0 && numBits > 0,
      "numBits must be a positive multiple of 64")
    require(k >= 1 && k <= 16, "k must be in [1,16]")
    // UNION with any existing registration: "register one more column"
    // must never silently drop the columns already registered (new
    // writes would stop stamping them and the point-lookup tier would
    // degrade with no error). A geometry change is refused loudly —
    // existing sidecars would be probed at the wrong width — the
    // re-keying path is dropBloom per column, then re-register.
    val t = currentTx
    val existing = t.snapshot.properties(table, t.actions.toSeq)
    existing.get(GraftClient.BloomColumnsProperty).foreach { _ =>
      val (oldBits, oldK) = bloomConfig(table)
      require(oldBits == numBits && oldK == k,
        s"bloom geometry mismatch: table is registered at " +
          s"numBits=$oldBits k=$oldK, asked for numBits=$numBits k=$k " +
          "— dropBloom the registered columns, then re-register at the " +
          "new geometry")
    }
    val merged = (existing.get(GraftClient.BloomColumnsProperty)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil) ++ columns).distinct
    setTableProperties(table, Map(
      GraftClient.BloomColumnsProperty -> merged.mkString(","),
      GraftClient.BloomBitsProperty -> numBits.toString,
      GraftClient.BloomKProperty -> k.toString))
    maintainBlooms(table)
  }

  /** Drop every live object's bloom for `column` — METADATA-ONLY
    * (remove + re-add actions, zero data touched), the re-keying path:
    * blooms at a wrong geometry are otherwise permanent because
    * [[buildBloom]] and [[maintainBlooms]] deliberately skip objects
    * that already carry the column (rebuild-avoidance). `dropBloom`
    * then [[registerBlooms]] (or [[buildBloom]]) re-keys at the new
    * geometry in one transaction; between the two the column simply
    * stats-prunes, so there is no correctness window. On a REGISTERED
    * table the drop also removes the column from
    * [[GraftClient.BloomColumnsProperty]] (geometry properties go when
    * the registration empties) — so the re-register recipe works and
    * an intervening insert can't re-stamp the dropped column at the
    * old width.
    */
  def dropBloom(table: String, column: String): Unit = {
    tagOp("BLOOM")
    val t = currentTx
    val schema = schemaOf(table)
    require(hasColumnPath(schema, column), s"no such column: $column")
    flush(table)
    val phys = physOf(schema, column)
    liveFiles(table).filter(hasBloom(_, phys)).foreach { a =>
      t.actions += RemoveDataObject(table, a.path)
      t.actions += a.copy(blooms = a.blooms - phys,
        bloomRefs = a.bloomRefs - phys)
    }
    // de-REGISTER too: registerBlooms' geometry-mismatch error says
    // "dropBloom the registered columns, then re-register at the new
    // geometry" — that recipe only works if the drop removes the column
    // from the write-time registration. Left registered, the geometry
    // properties survive and re-registration refuses forever, and any
    // insert between the two re-stamps the dropped column at the OLD
    // width (afterInsertObjects reads the registration, not the files).
    val props = t.snapshot.properties(table, t.actions.toSeq)
    props.get(GraftClient.BloomColumnsProperty).foreach { v =>
      val cols = v.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      if (cols.contains(column)) {
        val left = cols.filterNot(_ == column)
        if (left.nonEmpty)
          setTableProperties(table, Map(
            GraftClient.BloomColumnsProperty -> left.mkString(",")))
        else unsetTableProperties(table, Seq(
          GraftClient.BloomColumnsProperty,
          GraftClient.BloomBitsProperty,
          GraftClient.BloomKProperty))
      }
    }
  }

  // ---- bloom sidecar residency ---------------------------------------
  // Bitsets live as their own DATA-PLANE objects (`_bloom_<table>_<uuid>`
  // flat files under rootDir); the log carries only fixed-size
  // [[BloomRef]] pointers, so driver snapshot and checkpoint bytes stay
  // O(objects) regardless of geometry. Sidecars are uuid-named and
  // immutable once written — the decode cache below can never stale.

  /** Serialize one object's bitsets as a sidecar file; returns its
    * rootDir-relative name. Format: magic, count, then per column
    * (name, k, numWords, words) — a few lines of codec instead of a
    * parquet dependency, because a sidecar is one bounded binary blob
    * read whole.
    */
  private def writeBloomSidecar(table: String,
      blooms: Map[String, BloomData]): String = {
    val name = s"_bloom_${table}_${UUID.randomUUID()}"
    val out = dataFs.create(dataPath(name), false)
    try {
      val d = new java.io.DataOutputStream(
        new java.io.BufferedOutputStream(out, 64 * 1024))
      d.writeInt(GraftClient.BloomSidecarMagic)
      d.writeInt(blooms.size)
      blooms.toSeq.sortBy(_._1).foreach { case (c, b) =>
        val cb = c.getBytes("UTF-8")
        d.writeInt(cb.length); d.write(cb)
        d.writeInt(b.k); d.writeInt(b.words.length)
        b.words.foreach(d.writeLong)
      }
      d.flush()
    } finally out.close()
    name
  }

  /** Decoded sidecar through the JVM-wide byte-bounded cache. None when
    * the sidecar is unreadable — e.g. a reader pinned at an old version
    * whose sidecars vacuum reclaimed past retention: the probe then
    * simply does not prune on it (conservative, never wrong; the DATA
    * read still fails loudly if the data objects are gone too).
    */
  private def loadBloomSidecar(rel: String): Option[Map[String, BloomData]] =
    GraftClient.loadBloomSidecarAt(s"$rootPath/$rel", dataFs)

  /** The bloom over PHYSICAL column `physCol` carried by `a`: inline
    * (legacy logs) or loaded from its sidecar (cached). None = no bloom
    * for the column, or the sidecar is unreadable / inconsistent with
    * its ref — both degrade to "no pruning on this object".
    */
  def bloomOf(a: AddDataObject, physCol: String): Option[BloomData] =
    a.blooms.get(physCol).orElse(
      a.bloomRefs.get(physCol).flatMap(r =>
        loadBloomSidecar(r.path).flatMap(_.get(physCol))
          .filter(b => b.k == r.k && b.numBits == r.numBits)))

  /** Does `a` carry a bloom for `physCol` (inline or sidecar)? The
    * metadata-only membership test — never opens a sidecar.
    */
  def hasBloom(a: AddDataObject, physCol: String): Boolean =
    a.blooms.contains(physCol) || a.bloomRefs.contains(physCol)

  /** Stage `fresh` bitsets for `a` as ONE new sidecar: refs added,
    * superseded inline/sidecar entries for those columns dropped (the
    * old sidecar object becomes garbage for vacuum once the re-add
    * commits). The action mutation only — callers stage the
    * remove+re-add pair.
    */
  private def withBloomStamp(table: String, a: AddDataObject,
      fresh: Map[String, BloomData]): AddDataObject =
    if (fresh.isEmpty) a
    else {
      val path = writeBloomSidecar(table, fresh)
      a.copy(blooms = a.blooms -- fresh.keys,
        bloomRefs = a.bloomRefs ++ fresh.map { case (c, b) =>
          c -> BloomRef(b.k, b.numBits, path) })
    }

  /** Per-object bloom geometry: ~10 bits per row (≈1 % FP for
    * high-cardinality keys), rounded to whole words, floored at 1024
    * bits, clamped by the table's registered width (which is therefore
    * a CAP, not a fixed geometry) — an object 100× bigger than its
    * neighbors gets 100× the bits instead of running at a hundredth of
    * the bits-per-key, and a trickle write stops paying big-object
    * bytes. The writer knows `numRows` at stamp time, so this is free.
    */
  private def bloomBitsFor(numRows: Long, capBits: Int): Int = {
    val ideal = (10L * math.max(numRows, 1L) + 63) / 64 * 64
    math.min(capBits.toLong, math.max(1024L, ideal)).toInt
  }

  /** Registered write-time bloom columns (logical paths; empty unless
    * [[GraftClient.BloomColumnsProperty]] is set). Filtered to paths
    * the CURRENT schema actually has — the same defensive shape as
    * [[ndvColumns]]: rename/drop rewrite the property in the same
    * commit, but a registration written by another engine version (or
    * a hand-edited property) must degrade to "that column stops
    * stamping", never to "every write on the table throws".
    */
  private def bloomColumns(table: String): Seq[String] = {
    val schema = schemaOf(table)
    currentTx.snapshot.properties(table, currentTx.actions.toSeq)
      .get(GraftClient.BloomColumnsProperty)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        .filter(hasColumnPath(schema, _)))
      .getOrElse(Nil)
  }

  /** Keep the bloom registration consistent across column DDL: rename
    * maps the affected path segments to the new name (blooms are keyed
    * by PHYSICAL names, so the sidecars themselves stay valid across a
    * rename — only the logical registration needs the update); drop
    * removes the dropped column's paths (orphaned sidecar bytes are
    * harmless and vanish at the next rewrite).
    */
  private def remapBloomRegistration(table: String,
      f: String => Option[String]): Unit = {
    val t = currentTx
    t.snapshot.properties(table, t.actions.toSeq)
      .get(GraftClient.BloomColumnsProperty).foreach { v =>
        val cols = v.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        val remapped = cols.flatMap(f)
        if (remapped != cols)
          t.actions += SetProperties(table, Map(
            GraftClient.BloomColumnsProperty -> remapped.mkString(",")))
      }
  }

  /** (numBits, k) for write-time bloom stamping, from the table's
    * geometry properties (defaults
    * [[GraftClient.DefaultBloomCapBits]]/4, matching [[buildBloom]]).
    * Same defensive contract as [[bloomColumns]]: this engine's
    * setTableProperties validates at SET time, but a foreign-written or
    * hand-edited geometry must degrade to the defaults, never make
    * every write on the table throw.
    */
  private def bloomConfig(table: String): (Int, Int) = {
    val props = currentTx.snapshot.properties(table, currentTx.actions.toSeq)
    (props.get(GraftClient.BloomBitsProperty).flatMap(_.toIntOption)
      .filter(b => b > 0 && b % 64 == 0)
      .getOrElse(GraftClient.DefaultBloomCapBits),
      props.get(GraftClient.BloomKProperty).flatMap(_.toIntOption)
        .filter(k => k >= 1 && k <= 16).getOrElse(4))
  }

  /** One distributed pass computing per-object blooms for `cols` over
    * exactly `objs` — the core of both [[buildBloom]] and the
    * write-time stamping ([[afterInsertObjects]]), all columns folded
    * in a SINGLE job: an insert that staged 30 partition objects blooms
    * them in one pass, not 30. EXPLODE shape, not a
    * word-per-aggregate-column shape: each value contributes k (column,
    * bit-position) rows, folded by groupBy(_obj, column, word) +
    * bit_or, so the expression tree is O(cols·k) and NEVER scales with
    * the geometry — a per-word aggregate column codegens numBits/64
    * expressions (measured: 89 MB task binaries and executor OOM at a
    * 655k-bit geometry), while here a million-bit bloom costs the same
    * plan as a 1024-bit one and the shuffle carries at most
    * objects × cols × words partial rows. Null values contribute no
    * rows, so an all-null column keeps its zero-initialized vector —
    * the empty bloom, which correctly excludes every non-null probe.
    * Driver memory is the returned map itself: objs × cols × words
    * longs — the same order as the bloom-carrying add actions the
    * caller is about to stage. Returns path -> (physical column ->
    * bloom); probes use the identical seeded xxhash64, so build and
    * probe can never drift.
    */
  private def bloomsForObjects(schema: StructType,
      objs: Seq[AddDataObject], cols: Seq[String], capBits: Int,
      k: Int): Map[String, Map[String, BloomData]] = {
    // per-OBJECT geometry (capBits is the cap, see bloomBitsFor): the
    // modulus becomes a joined column instead of a literal — a tiny
    // broadcast (path, bits) frame, never O(objects) in the plan tree
    val bitsFor: Map[String, Int] =
      objs.map(a => a.path -> bloomBitsFor(a.numRows, capBits)).toMap
    val bitsDf = spark.createDataFrame(
      objs.map(a => Row(a.path, bitsFor(a.path).toLong)).asJava,
      StructType(Seq(StructField("_obj", StringType, nullable = false),
        StructField("_bits", LongType, nullable = false))))
    val df = applyDefaults(schema,
      readObjects(schema, objs.toVector, tagObj = true))
    val hashes = cols.zipWithIndex.flatMap { case (c, ci) =>
      (0 until k).map(i =>
        when(col(c).isNotNull,
          struct(lit(ci).as("ci"),
            pmod(xxhash64(lit(i), col(c)), col("_bits"))
              .as("pos"))))
    }
    val grouped = df
      .join(broadcast(bitsDf), "_obj")
      .select(col("_obj"), explode(array(hashes.toIndexedSeq: _*)).as("h"))
      .filter(col("h").isNotNull)
      .select(col("_obj"), col("h.ci").as("ci"),
        expr("CAST(h.pos / 64 AS INT)").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(h.pos % 64 AS INT))")
          .as("b"))
      .groupBy(col("_obj"), col("ci"), col("w"))
      .agg(expr("bit_or(b)").as("b"))
    // zero-initialized accumulators; partial rows OR in, in any order
    val acc = mutable.Map[String, Array[Array[Long]]]()
    objs.foreach(a =>
      acc(a.path) = Array.fill(cols.length)(
        new Array[Long](bitsFor(a.path) / 64)))
    grouped.toLocalIterator().forEachRemaining { r =>
      acc.get(r.getString(0)).foreach { m =>
        m(r.getInt(1))(r.getInt(2)) |= r.getLong(3)
      }
    }
    acc.iterator.map { case (p, m) =>
      p -> cols.zipWithIndex.map { case (c, ci) =>
        physOf(schema, c) -> BloomData(k, m(ci).toVector)
      }.toMap
    }.toMap
  }

  /** Restore a bloom-registered table's invariant — every live object
    * carries a bloom for every registered column. Incremental: only
    * objects missing at least one registered bloom are read, and every
    * missing column folds in the ONE [[bloomsForObjects]] pass. The
    * re-layout rewrites (cluster/REORG) call this after staging so a
    * registered point-lookup tier survives maintenance; [[compact]]
    * mostly no-ops here because it OR-merged its inputs metadata-only.
    * Blooms an object already has are kept, not recomputed.
    */
  private def maintainBlooms(table: String): Unit = {
    val cols = bloomColumns(table)
    if (cols.isEmpty) return
    val t = currentTx
    flush(table)
    val schema = schemaOf(table)
    val (numBits, k) = bloomConfig(table)
    val phys = cols.map(c => physOf(schema, c))
    val missing = liveFiles(table)
      .filter(a => phys.exists(p => !hasBloom(a, p)))
    if (missing.isEmpty) return
    val computed = bloomsForObjects(schema, missing, cols, numBits, k)
    missing.foreach { a =>
      val fresh = computed.getOrElse(a.path, Map.empty)
        .filterNot { case (p, _) => hasBloom(a, p) }
      if (fresh.nonEmpty) {
        t.actions += RemoveDataObject(table, a.path)
        t.actions += withBloomStamp(table, a, fresh)
      }
    }
  }

  /** Point lookup with two-tier file skipping: min/max stats AND the
    * per-object bloom for `column` (objects without one only stats-prune).
    * The k raw probe hashes are evaluated once through the same Catalyst
    * xxhash64 expression the build used, so build and probe can never
    * drift. Exact equality is then a normal pushed-down filter over the
    * surviving objects.
    */
  def scanEquals(table: String, column: String, value: Any): DataFrame = {
    val schema = schemaOf(table)
    require(hasColumnPath(schema, column), s"no such column: $column")
    val probe = lit(value).cast(typeAtPath(schema, column))
    scanPruned(table, Seq(column -> (value, value)), Seq(column -> value))
      .filter(col(column) === probe)
  }

  /** Join-driven dynamic file pruning (the DPP/DFP analog for graft
    * tables): prune `table`'s objects by the DISTINCT values a dim-side
    * frame's single `column` takes BEFORE the join executes — the
    * star-join shape where a filtered dimension should keep the fact
    * scan from touching partitions no dim row can match. The key list is
    * collected driver-side under a LOUD bound (`maxKeys`, default 64 —
    * [[GraftClient.InListNarrowCap]]): filtered dimensions are broadcast-sized
    * by construction, so their key set is driver-sized; past the cap
    * the probe goes DISTRIBUTED instead ([[wideSurvivors]] — executor-
    * side stats+bloom tests over broadcast object metadata), so pruning
    * survives any key-set width. The returned frame is exactly-filtered
    * to the key set on BOTH paths, so callers join it directly. At
    * 100 TB against a partitioned/
    * clustered fact table this turns a full-table scan into
    * |matched partitions| object reads for one extra dim-side job.
    */
  def scanSemi(table: String, column: String, keys: DataFrame,
      maxKeys: Int = 64): DataFrame = {
    val schema = schemaOf(table)
    require(schema.fieldNames.contains(column), s"no such column: $column")
    require(keys.schema.length == 1,
      s"keys frame must have exactly one column, got ${keys.schema.length}")
    val vals = keys.distinct().limit(maxKeys + 1).collect()
      .map(_.get(0)).toSeq
    if (vals.length > maxKeys) {
      // WIDE key set: the driver IN-list path would collect an
      // unbounded key list, so probe DISTRIBUTED instead — each
      // executor tests its key partitions against the broadcast object
      // metadata, loading only the sidecars it actually touches
      // ([[wideSurvivors]]). Exact semantics via the semi join; pruning
      // stays an optimization, never a correctness gate. The key frame
      // is PINNED (eager localCheckpoint) before the probe: the probe
      // and the lazy semi join are two evaluations, and a
      // non-deterministic or recomputed source (sample, executor loss)
      // could otherwise yield a join key whose object the probe never
      // saw — pruned rows silently missing (the same two-pass
      // divergence merge() pins its source against).
      val keyCol = keys.columns.head
      val pinned = keys.distinct()
        .withColumnRenamed(keyCol, column).localCheckpoint(true)
      val keep = wideSurvivors(table, column, pinned)
      scanFiltered(table, a => keep(a.path))
        .join(pinned, Seq(column), "left_semi")
    } else {
      scanPruned(table, Nil, Nil, Seq(column -> vals))
        .filter(col(column).isInCollection(vals))
    }
  }

  /** EXECUTOR-side stats+bloom probe for wide key sets — the wide half
    * of the sidecar design: the driver ships each live object's
    * fixed-size probe metadata (its stats and bloom ref for `column`)
    * as ONE broadcast, the keys stay distributed, and each executor
    * loads only the sidecars its key partitions actually probe (JVM-
    * wide byte-bounded cache per executor). An object already proven
    * surviving within a partition is skipped for later keys, so a hot
    * object costs one sidecar probe per partition, not per key.
    * Returns the surviving object paths (driver-bounded: ≤ |objects|).
    */
  private def wideSurvivors(table: String, column: String,
      keys: DataFrame): Set[String] = {
    val schema = schemaOf(table)
    val phys = physOf(schema, column)
    val live = liveFiles(table)
    if (live.isEmpty) return Set.empty
    val colType = typeAtPath(schema, column)
    val maxK = live.iterator.flatMap(a => a.bloomRefs.get(phys).map(_.k))
      .maxOption.getOrElse(0)
    // fixed-size per object: path, (ref, absolute sidecar path) — NEVER
    // bitsets. Legacy INLINE blooms are deliberately excluded: shipping
    // them would make the broadcast O(objects × geometry), the exact
    // shape the sidecar redesign removed — a legacy object probes
    // stats-only on this path (conservative no-prune; the narrow driver
    // path still uses its inline bloom). The stats tier ships as a
    // PRE-SORTED interval index ([[WideProbeIndex]]): each key finds
    // its stats-overlapping objects in O(log objects + hits), not by
    // testing every object — the difference between ~2×10⁶ and ~10¹¹
    // comparisons per partition at 10⁶ objects × 10⁵ keys.
    val meta: Array[(String, Option[(BloomRef, String)])] =
      live.map(a => (a.path,
        a.bloomRefs.get(phys).map(r => (r, s"$rootPath/${r.path}"))))
        .toArray
    val index = WideProbeIndex.build(live.map(_.stats.get(phys)))
    val metaB = spark.sparkContext.broadcast((meta, index))
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.SerializableWritable(
        spark.sessionState.newHadoopConf()))
    // the SAME per-index xxhash64 the bloom build used, computed inside
    // codegen before the probe partition sees the row
    val hashCols = (0 until maxK).map(i =>
      xxhash64(lit(i), col("_wv")).as(s"_wh$i"))
    // null keys can never semi-match (SQL equality) — dropped here so
    // the probe rows' hash columns are non-null primitives
    val probe = keys.toDF("_wv")
      .select(col("_wv").cast(colType).as("_wv"))
      .filter(col("_wv").isNotNull).distinct()
      .select((col("_wv") +: hashCols).toIndexedSeq: _*)
    val physCol = phys // avoid capturing `this` in the task closure
    val kMax = maxK
    import spark.implicits._
    try {
      probe.mapPartitions { it =>
        val (objs, idx) = metaB.value
        val conf = confB.value.value
        var fsCache: org.apache.hadoop.fs.FileSystem = null
        def fsFor(p: String): org.apache.hadoop.fs.FileSystem = {
          if (fsCache == null)
            fsCache = new org.apache.hadoop.fs.Path(p).getFileSystem(conf)
          fsCache
        }
        val surviving = new scala.collection.mutable.HashSet[String]
        it.foreach { row =>
          if (surviving.size < objs.length) {
            val v = ColStats.normalize(row.get(0))
            val hs = (0 until kMax).map(i => row.getLong(1 + i))
            idx.candidates(v).foreach { i =>
              val (path, ref) = objs(i)
              if (!surviving.contains(path)) {
                val bloom = ref.flatMap { case (r, abs) =>
                  GraftClient.loadBloomSidecarAt(abs, fsFor(abs))
                    .flatMap(_.get(physCol))
                    .filter(b => b.k == r.k && b.numBits == r.numBits)
                }
                if (bloom.forall(_.mightContain(hs))) surviving += path
              }
            }
          }
        }
        surviving.iterator
      }.distinct().collect().toSet
    } finally {
      // one-shot broadcasts: release executor + driver copies NOW
      // rather than waiting on GC/ContextCleaner (a long-lived service
      // issuing many wide probes would otherwise accumulate them)
      metaB.destroy()
      confB.destroy()
    }
  }

  /** The full file-skipping stack in one call: range `bounds` prune by
    * min/max stats, `equalities` additionally probe per-object bloom
    * sidecars, and `inLists` (IN-shaped disjunctions) keep an object
    * only when at least ONE listed value survives its stats AND bloom —
    * a scattered `IN (v1, …, vn)` opens the objects containing those
    * values, not the whole [min(vs), max(vs)] span. NO residual
    * filtering (callers own exact semantics) — this is the connector's
    * pushdown entry point; [[scanEquals]] and [[scanBounded]] are
    * conveniences over it.
    */
  def scanPruned(table: String, bounds: Seq[(String, (Any, Any))],
      equalities: Seq[(String, Any)],
      inLists: Seq[(String, Seq[Any])] = Nil,
      isNullCols: Seq[String] = Nil): DataFrame = {
    val keep = prunedObjects(table, bounds, equalities, inLists, isNullCols)
      .map(_.path).toSet
    scanFiltered(table, a => keep(a.path))
  }

  /** The metadata half of [[scanPruned]]: which live objects survive the
    * stats bounds and bloom probes — driver-side only, usable for plan
    * introspection (the connector reports it) without reading any data.
    */
  def prunedObjects(table: String, bounds: Seq[(String, (Any, Any))],
      equalities: Seq[(String, Any)],
      inLists: Seq[(String, Seq[Any])] = Nil,
      isNullCols: Seq[String] = Nil): Vector[AddDataObject] = {
    val schema = schemaOf(table)
    (bounds.map(_._1) ++ equalities.map(_._1) ++ inLists.map(_._1) ++
      isNullCols).foreach(c =>
        require(hasColumnPath(schema, c), s"no such column: $c"))
    val live = liveFiles(table)
    // IN lists past the narrow cap would widen the probe-hash job below
    // by |values|×k columns and the disjunction filter to
    // |values|×|objects| tests — they go through the driver-side
    // interval-index probe instead ([[wideInKeep]]: O(log objects +
    // hits) per value), applied AFTER the conjunctive tiers so its
    // sidecar loads touch only objects those tiers already kept
    val (narrowIn, wideIn) =
      inLists.partition(_._2.length <= GraftClient.InListNarrowCap)
    // one tiny local job evaluates every probe's raw hashes through the
    // same Catalyst xxhash64 the bloom build used (casting each probe to
    // its column's type first — xxhash64(3L) != xxhash64(3: Int)), so
    // build and probe can never drift
    val pointProbes: Seq[(String, Any)] =
      equalities ++ narrowIn.flatMap { case (c, vs) => vs.map(c -> _) }
    // k rides in the REF (and inline legacy blooms), so hash planning
    // never opens a sidecar; sidecars load lazily below, and only for
    // objects that already survived min/max stats (the && short-circuit)
    val maxK = live.iterator.flatMap(a =>
      a.blooms.valuesIterator.map(_.k) ++
        a.bloomRefs.valuesIterator.map(_.k)).maxOption.getOrElse(0)
    val hashes: Map[(String, Any), Seq[Long]] =
      if (maxK == 0 || pointProbes.isEmpty) Map.empty
      else {
        val hashCols = pointProbes.zipWithIndex.flatMap { case ((c, v), e) =>
          val typed = lit(v).cast(typeAtPath(schema, c))
          (0 until maxK).map(i => xxhash64(lit(i), typed).as(s"h${e}_$i"))
        }
        val row = spark.range(1).select(hashCols.toIndexedSeq: _*).head()
        pointProbes.zipWithIndex.map { case ((c, v), e) =>
          (c, v) -> (0 until maxK).map(i => row.getLong(e * maxK + i))
        }.toMap
      }
    // PREFETCH the sidecars the filter below will open, concurrently
    // on a bounded pool: the filter probes objects one at a time, and a
    // cold equality scan over 10k stats-overlapping objects on a
    // remote store would otherwise pay one SERIAL round trip each —
    // minutes of driver-side planning where ~8-way fetch is enough.
    // Exactly the loads the filter performs: refs of probed columns on
    // objects that survive min/max stats, minus what's already cached.
    if (hashes.nonEmpty) {
      val wanted = live.iterator.flatMap { a =>
        // same conjuncts as the filter below, bounds INCLUDED — a
        // bounds-rejected object's bloom is never opened there, so
        // prefetching it would only issue dead remote reads and evict
        // useful cache entries
        if (!bounds.forall { case (c, (lo, hi)) =>
          ColStats.mayOverlap(a.stats, physOf(schema, c), lo, hi) })
          Iterator.empty
        else pointProbes.iterator.flatMap { case (c, v) =>
          val phys = physOf(schema, c)
          if (ColStats.mayOverlap(a.stats, phys, v, v))
            a.bloomRefs.get(phys).map(_.path)
          else None
        }
      }.toVector.distinct
        .filter(r => GraftClient.bloomSidecarCache
          .get(s"$rootPath/$r").isEmpty)
      if (wanted.length > 1) {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(wanted.length, 8),
          r => { val t = new Thread(r, "graft-bloom-prefetch")
            t.setDaemon(true); t })
        try wanted
          .map(r => pool.submit(new Runnable {
            def run(): Unit = loadBloomSidecar(r) }))
          .foreach(f => try f.get()
            catch { case scala.util.control.NonFatal(_) => () })
        finally pool.shutdown()
      }
    }
    def valueSurvives(a: AddDataObject, c: String, v: Any): Boolean = {
      val phys = physOf(schema, c)
      ColStats.mayOverlap(a.stats, phys, v, v) &&
        hashes.get((c, v)).forall(hs =>
          bloomOf(a, phys).forall(_.mightContain(hs)))
    }
    val base = live.filter(a =>
      bounds.forall { case (c, (lo, hi)) =>
        ColStats.mayOverlap(a.stats, physOf(schema, c), lo, hi) } &&
        equalities.forall { case (c, v) => valueSurvives(a, c, v) } &&
        narrowIn.forall { case (c, vs) =>
          vs.exists(valueSurvives(a, c, _)) } &&
        // IS NULL tier: a footer null count of ZERO proves no row of the
        // object (DV-dead included — counting them only over-keeps)
        // satisfies `c IS NULL`; no count / no stats entry (pre-add
        // schema-evolution objects read physically-absent columns as
        // null) keeps the object
        isNullCols.forall { c =>
          a.stats.get(physOf(schema, c)).flatMap(_.nulls) match {
            case Some(0L) => false
            case _ => true
          }
        })
    wideIn.foldLeft(base) { case (objs, (c, vs)) =>
      wideInKeep(objs, schema, c, vs)
    }
  }

  /** Driver-side INDEXED survivors of one WIDE IN list — the connector/
    * SQL analog of the executor-side wide semi probe: the per-object
    * stats tier is a [[WideProbeIndex]] (each value finds its
    * stats-overlapping objects in O(log objects + hits), never by
    * testing every object), the bloom tier loads sidecars lazily
    * through the JVM cache with skip-once-surviving (a hot object costs
    * one probe total, not one per value), and the probe hashes are the
    * SAME Catalyst xxhash64 expression the bloom build used — evaluated
    * driver-side per value (no job), so a 10⁵-value list costs ~10⁵
    * log-time lookups instead of a 10⁵×k-column hash job plus a
    * 10⁵×|objects| disjunction sweep. The value list is already
    * driver-resident (it IS the pushed filter), so no new driver-memory
    * shape. Strictly conservative: a value the cast can't represent, or
    * any evaluation failure, keeps every object (for a DISJUNCTION,
    * dropping a value would over-prune — uncertainty must widen, never
    * narrow).
    */
  private def wideInKeep(objs: Vector[AddDataObject], schema: StructType,
      column: String, values: Seq[Any]): Vector[AddDataObject] = {
    if (objs.isEmpty) return objs
    val phys = physOf(schema, column)
    val colType = typeAtPath(schema, column)
    val idx = WideProbeIndex.build(objs.map(_.stats.get(phys)))
    val maxK = objs.iterator.flatMap(a =>
      a.blooms.get(phys).map(_.k).iterator ++
        a.bloomRefs.get(phys).map(_.k).iterator)
      .maxOption.getOrElse(0)
    val surviving = new mutable.HashSet[Int]
    try {
      val it = values.distinct.iterator
      while (it.hasNext && surviving.size < objs.length) {
        val v = it.next()
        val cast = driverCastAndHashes(v, colType, maxK)
        if (cast.isEmpty) return objs // unrepresentable value: no prune
        val (ext, hs) = cast.get
        val norm = ColStats.normalize(ext)
        idx.candidates(norm).foreach { i =>
          if (!surviving.contains(i)) {
            val a = objs(i)
            if (ColStats.mayOverlap(a.stats, phys, ext, ext) &&
              (maxK == 0 || bloomOf(a, phys).forall(_.mightContain(hs))))
              surviving += i
          }
        }
      }
      objs.zipWithIndex.collect { case (a, i) if surviving(i) => a }
    } catch { case scala.util.control.NonFatal(_) => objs }
  }

  /** One wide-probe value, prepared DRIVER-side: cast to the column's
    * type and hashed through interpreted eval of the IDENTICAL Catalyst
    * expressions the narrow path runs as a job (`cast` + seeded
    * `xxhash64` — eval and codegen agree by Catalyst's contract, pinned
    * in Round14Spec). Returns the cast value in its EXTERNAL Scala form
    * (what [[graft.tx.ColStats]] and the stats tier compare) plus the
    * `maxK` raw bloom-probe hashes; None when the cast cannot represent
    * the value (callers must then skip pruning — in a disjunction,
    * dropping a value would over-prune).
    */
  private[graft] def driverCastAndHashes(v: Any, colType: DataType,
      maxK: Int): Option[(Any, Seq[Long])] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.{
      Cast => CatCast, Literal => CatLit, XxHash64}
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val internal = CatCast(CatLit(v), colType, tz).eval(null)
    if (internal == null) None
    else Some((
      CatalystTypeConverters.convertToScala(internal, colType),
      (0 until maxK).map(i =>
        // aux ctor = functions.xxhash64's default seed
        new XxHash64(Seq(CatLit(i), CatLit(internal, colType)))
          .eval(null).asInstanceOf[Long])))
  }

  /** Delta-style MERGE expressed through MVCC, in two bounded jobs and no
    * target rewrite: source rows satisfying `deleteCond` delete their
    * matching target keys via a deletion vector; every other source row is
    * inserted as a newer version, so latest-wins [[currentState]] realizes
    * both WHEN MATCHED UPDATE and WHEN NOT MATCHED INSERT. The source
    * should be one row per key, as with any MERGE; it need NOT be
    * broadcast-sized — delete keys under
    * [[GraftClient.BroadcastKeyRowGate]] broadcast into the DV match,
    * a wider (fact-sized CDC) key set routes file pruning through the
    * distributed wide probe and the row match through a shuffled semi
    * join, so no merge collects its keys to the driver.
    */
  def merge(table: String, source: DataFrame, keyCols: Seq[String],
      deleteCond: org.apache.spark.sql.Column = lit(false),
      dropCols: Seq[String] = Nil, evolveSchema: Boolean = false): Unit = {
    tagOp("MERGE")
    val t = currentTx
    requireMutable(table, "MERGE")
    val schema = schemaOf(table)
    require(keyCols.forall(schema.fieldNames.contains),
      s"merge keys must be table columns: ${keyCols.mkString(",")}")
    // dropCols: source-only control columns (e.g. a CDC delete flag) that
    // feed deleteCond but are not part of the table schema — stripped
    // from the inserted rows after classification
    require(dropCols.forall(c => !keyCols.contains(c)),
      s"dropCols cannot include merge keys: ${dropCols.mkString(",")}")
    // flush first so this tx's buffered rows become a live object the
    // delete vector covers — otherwise a buffered row whose key the
    // source deletes would be flushed AFTER the DV was computed and
    // silently survive
    flush(table)
    // deleteCond is evaluated ONCE, into a flag column on a pinned copy of
    // the source, and BOTH classifications read that flag: with either a
    // non-deterministic source (sample, recomputed shuffle) or a
    // non-deterministic condition (rand-based sampling deletes), separate
    // filter passes could classify a row delete in one pass and insert (or
    // neither) in the other — breaking the exact delete/insert partition
    // the docstring promises. The source is dimension-sized by contract,
    // so caching it is cheap. The delete-key set is additionally pinned
    // because it feeds three metadata passes (emptiness probe, min/max
    // prune bounds, the semi-join) whose prune bounds must agree with the
    // join's keys.
    val delFlag = s"_merge_del_${UUID.randomUUID().toString.take(8)}"
    val classified = source
      .withColumn(delFlag, coalesce(deleteCond, lit(false)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val delKeys = classified.filter(col(delFlag))
      .select(keyCols.map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      mergeDeletes(table, schema, delKeys, keyCols)
      val upserts =
        classified.filter(!col(delFlag)).drop(delFlag).drop(dropCols: _*)
      // MERGE … WITH SCHEMA EVOLUTION (the Delta shape): source-only
      // columns route through the insertEvolving widening path — new
      // nullable columns/leaves are ADDED metadata-only, pre-evolution
      // rows (matched-row old versions included) read them as null.
      // Type conflicts still refuse loudly inside insertEvolving, and
      // the flagless form keeps refusing ANY unknown column: a CDC
      // pipeline must opt in to upstream drift, never absorb it
      // silently. (The delete leg runs on the PRE-evolution schema by
      // construction: merge keys must already be table columns.)
      if (evolveSchema) insertEvolving(table, upserts)
      else insert(table, upserts)
    } finally { delKeys.unpersist(false); classified.unpersist(false) }
  }

  /** `WHEN NOT MATCHED BY SOURCE` engine half (round 16, the SQL-2023 /
    * Delta full-snapshot-sync shape): apply ONE action — DELETE, or
    * UPDATE when `updateAssigns` is set (a REPLACEMENT image per
    * affected row, computed from the OLD row's values; every column
    * assigned or passed through) — to every live target row whose key
    * tuple matches NO row of `sourceKeys`, optionally narrowed by
    * `cond` (target columns only). Runs inside the caller's tx like
    * [[merge]]'s other legs.
    *
    * Scale shape: absence cannot be stats- or point-pruned (any file
    * may hold an orphaned key), so this is by nature ONE full pass
    * over the target — the same cost Delta pays for the clause. The
    * pass is a single distributed anti join: source keys broadcast
    * under [[GraftClient.BroadcastKeyRowGate]], shuffled past it; the
    * target never moves to the driver. Deletes land as deletion
    * vectors (no rewrite); update images are computed from READ-BACK
    * of the persisted DV keys, so the deleted and re-inserted row sets
    * agree exactly even under a non-deterministic `cond`. SQL MERGE
    * key semantics hold: a NULL-keyed target row equals no source row,
    * so the action applies to it.
    */
  def mergeBySource(table: String, sourceKeys: DataFrame,
      keyCols: Seq[String],
      cond: Option[org.apache.spark.sql.Column] = None,
      updateAssigns: Option[Map[String, org.apache.spark.sql.Column]] =
        None): Unit = {
    tagOp("MERGE")
    val t = currentTx
    requireMutable(table, "MERGE")
    val schema = schemaOf(table)
    require(keyCols.nonEmpty && keyCols.forall(schema.fieldNames.contains),
      s"merge keys must be table columns: ${keyCols.mkString(",")}")
    updateAssigns.foreach(as => require(
      as.keySet.subsetOf(schema.fieldNames.toSet),
      s"assignments must target table columns: ${as.keySet.mkString(",")}"))
    // the merge() ordering contract: buffered rows become live objects
    // the DV can cover
    flush(table)
    val files = liveFiles(table)
    if (files.isEmpty) return
    // pin the key set: one count() materializes it AND prices the gate
    val keys = sourceKeys.select(keyCols.map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val keyCount = keys.count()
      val bcast = keyCount <= broadcastKeyRowGate
      GraftClient.lastMergeKeysBroadcast = bcast
      val live = applyDefaults(schema, applyDvs(
        readObjects(schema, files),
        t.snapshot.liveDvs(table, t.actions.toSeq)))
      val anti = live.join(if (bcast) broadcast(keys) else keys,
        keyCols, "left_anti")
      val affected = cond.fold(anti)(anti.filter)
      val objs = writeDirectTagged(table,
        affected.select(col(TxIdCol), col(RowIdxCol)), "dv_")
      dropEmptyObjects(objs)
      val dvObjs = objs.filter(_._2 > 0)
      dvObjs.foreach { case (name, n, _) =>
        t.actions += AddDeleteVector(table, name, t.id, n)
      }
      if (dvObjs.nonEmpty) {
        // both the CDC record and the update images come from read-back
        // of the persisted DV keys: one authoritative affected-row set
        val dvKeys = readProvKeys(dvObjs.map(_._1))
        val doomed = live.join(dvKeys, Seq(TxIdCol, RowIdxCol),
          "left_semi")
        if (cdfEnabled(t, table)) writeCdc(table, doomed, "delete")
        updateAssigns.foreach { as =>
          val images = doomed.select(
            schema.fields.toIndexedSeq.map(f =>
              as.get(f.name).map(_.cast(f.dataType))
                .getOrElse(col(f.name)).as(f.name)): _*)
          insert(table, images)
        }
      }
    } finally keys.unpersist(false)
  }

  /** Stats-prune the merge-delete DV scan by the delete-key span: merge
    * deletes usually touch a narrow key band, and the min/max of the
    * dimension-sized key set is one tiny aggregate. Composite keys
    * intersect every column's prune (one aggregate computes all the
    * bounds) — an object survives only if it can overlap EVERY key
    * column's span, so trailing columns prune too.
    */
  private[graft] def mergePrunedFiles(allFiles: Vector[AddDataObject],
      delKeys: DataFrame, keyCols: Seq[String],
      statKey: String => String = identity): Vector[AddDataObject] = {
    val aggs = keyCols.flatMap(c => Seq(min(col(c)), max(col(c))))
    delKeys.agg(aggs.head, aggs.tail: _*).collect().headOption match {
      case Some(r) =>
        keyCols.zipWithIndex.foldLeft(allFiles) { case (fs, (c, i)) =>
          if (r.isNullAt(2 * i)) fs
          else pruneByRange(fs, statKey(c), r.get(2 * i), r.get(2 * i + 1))
        }
      case _ => allFiles
    }
  }

  /** POINT-SET file skipping for the merge key probe, layered on top of
    * [[mergePrunedFiles]]' span prune: a delete-key set whose first-key
    * values span the whole table still only *touches* the objects that
    * contain at least one of those values (a fully-matched row matches
    * every key column, the first included — pruning on it alone is
    * conservative). ≤[[GraftClient.InListNarrowCap]] distinct values
    * collect driver-side and prune through the driver index probe
    * ([[wideInKeep]]); a high-cardinality source — past
    * driver-collectable size — goes through the DISTRIBUTED wide probe
    * ([[wideSurvivors]]: executor-side stats+bloom over broadcast object
    * metadata), so a 10⁵-key merge over a partitioned target opens only
    * matched objects instead of the span. `delKeys` is pinned by the
    * merge contract, so the probe and the later semi join see one key
    * set.
    */
  private def mergeKeyPrunedFiles(table: String, schema: StructType,
      files: Vector[AddDataObject], delKeys: DataFrame,
      keyCols: Seq[String]): Vector[AddDataObject] = {
    if (files.length <= 1) return files
    val c = keyCols.head
    val cap = GraftClient.InListNarrowCap
    // nulls drop BEFORE the limit(cap+1) sample: a null key in a
    // >cap-distinct set must not shrink the sample under the cap, or
    // the narrow driver probe would prune on a truncated value set and
    // the merge would silently skip objects holding the unsampled keys
    val vals = delKeys.select(col(c)).filter(col(c).isNotNull)
      .distinct().limit(cap + 1).collect().map(_.get(0)).toSeq
    if (vals.isEmpty) files // all-null keys: semi join matches nothing,
                            // but over-keeping is the safe direction
    else if (vals.length <= cap) wideInKeep(files, schema, c, vals)
    else {
      val keep = wideSurvivors(table, c, delKeys.select(col(c)).distinct())
      files.filter(a => keep(a.path))
    }
  }

  /** Point-set file skipping for a DRIVER-RESIDENT value set (the SQL
    * catalog's runtime-filter entry: Spark's dynamic partition pruning
    * hands the collected build-side join keys to the scan): the same
    * two tiers as the merge key probe — ≤[[GraftClient.InListNarrowCap]]
    * values through the driver interval-index/bloom probe
    * ([[wideInKeep]]), wider sets re-distributed through the executor-
    * side stats+bloom probe ([[wideSurvivors]]). Strictly conservative:
    * nulls never match an equi-join, any failure keeps every file.
    */
  private[graft] def pointSetPrunedFiles(table: String, schema: StructType,
      files: Vector[AddDataObject], column: String,
      values: Seq[Any]): Vector[AddDataObject] = {
    if (files.length <= 1 || !hasColumnPath(schema, column)) return files
    val vals = values.filter(_ != null).distinct
    if (vals.isEmpty) files
    else if (vals.length <= GraftClient.InListNarrowCap)
      wideInKeep(files, schema, column, vals)
    else try {
      val colType = typeAtPath(schema, column)
      val keysDf = spark.createDataFrame(
        vals.map(v => Row(v)).asJava,
        StructType(Seq(StructField(column, colType))))
      val keep = wideSurvivors(table, column, keysDf)
      files.filter(a => keep(a.path))
    } catch { case scala.util.control.NonFatal(_) => files }
  }

  /** [[scan]] over exactly the live objects named by `keepPaths` — the
    * read half of a caller that already ran its own pruning (the SQL
    * catalog's native DSv2 scan plans files first, then reads them).
    * Buffered rows of the open tx still pass through, as in every scan.
    */
  private[graft] def scanKeeping(table: String,
      keepPaths: Set[String]): DataFrame =
    scanFiltered(table, a => keepPaths(a.path))

  /** COLUMNAR fast-path probe for the native SQL scan: when reading
    * `table` right now is a PURE parquet scan — no live DVs, no rows
    * buffered in this tx, no initial-default fill anywhere in the
    * schema, and no column mapping in force (physical == logical
    * names) — return the parquet frame over exactly `files`, read with
    * `required`'s schema (field order preserved; files lacking an
    * added-later column surface it as null, parquet by-name — the same
    * semantics the row pipeline gets from [[readObjects]]). The caller
    * serves the vectorized reader's ColumnarBatches from it directly.
    * None ⇒ one of the row-pipeline stages is live and must run.
    * Registers the read in the tx read set like every scan.
    */
  private[graft] def pureScanDf(table: String, required: StructType,
      files: Vector[AddDataObject]): Option[DataFrame] = {
    val t = currentTx
    val schema = schemaOf(table)
    def defaulted(st: StructType): Boolean = st.fields.exists(f =>
      f.metadata.contains(DefaultValKey) || (f.dataType match {
        case s: StructType => defaulted(s)
        case _ => false
      }))
    val pure = files.nonEmpty &&
      t.snapshot.liveDvs(table, t.actions.toSeq).isEmpty &&
      t.buffers.get(table).forall(_.isEmpty) &&
      !defaulted(schema) && physRenames(schema).isEmpty &&
      required.fieldNames.forall(schema.fieldNames.contains)
    if (!pure) None
    else {
      t.readTables += table
      val (ext, internal) = files.partition(_.rowBase.isDefined)
      Some(Seq(
        Option.when(internal.nonEmpty)(
          readObjectDirs(internal.map(_.path), required)),
        Option.when(ext.nonEmpty)(
          strictRead.schema(required).parquet(ext.map(_.path): _*))
      ).flatten.reduce(_ union _))
    }
  }

  /** `residual` (the key-delete entry points only — merge passes none):
    * an extra row predicate the DV rows must ALSO satisfy, making a
    * key-driven delete exact when the SQL condition carries non-key
    * conjuncts (`DELETE WHERE k IN (SELECT …) AND c`): pruning stays
    * key-driven (conservative — residuals only narrow), the DV scan
    * filters by it before the key semi join.
    */
  private def mergeDeletes(table: String, schema: StructType,
      delKeys: DataFrame, keyCols: Seq[String],
      residual: Option[org.apache.spark.sql.Column] = None): Unit = {
    val t = currentTx
    val allFiles = liveFiles(table)
    // a full count(), not isEmpty: one aggregate on the persisted key
    // set that (a) MATERIALIZES the pin before the prune probes run —
    // the probes and the semi join must see ONE key set even if a
    // future reordering changes which job touches it first — and
    // (b) prices the broadcast gate below. Cheap next to the
    // full-table DV scan it skips for the common pure-upsert merge.
    GraftClient.lastMergeProbedObjects = -1
    GraftClient.lastMergeDelKeyCount = -1L
    val delCount = if (allFiles.isEmpty) 0L else delKeys.count()
    GraftClient.lastMergeDelKeyCount = delCount
    if (allFiles.nonEmpty && delCount > 0) {
      val files = mergeKeyPrunedFiles(table, schema,
        mergePrunedFiles(allFiles, delKeys, keyCols, physOf(schema, _)),
        delKeys, keyCols)
      GraftClient.lastMergeProbedObjects = files.length
      if (files.nonEmpty) { // all objects pruned ⇒ no key can match
        // defaults filled before the key join: merge keys on an
        // initial-default column must match what scans show
        val live = applyDefaults(schema, applyDvs(
          readObjects(schema, files),
          t.snapshot.liveDvs(table, t.actions.toSeq)))
        // key sets up to the gate broadcast (dimension-sized CDC
        // sources — the common case); past it the hint drops and the
        // semi join shuffles: a 10⁷-key merge source that just routed
        // file pruning through the DISTRIBUTED wide probe must not
        // turn around and collect those same keys to the driver
        val bcast = delCount <= broadcastKeyRowGate
        GraftClient.lastMergeKeysBroadcast = bcast
        val matched = residual.fold(live)(live.filter)
          .join(if (bcast) broadcast(delKeys) else delKeys,
            keyCols, "left_semi")
          .select(col(TxIdCol), col(RowIdxCol))
        val objs = writeDirectTagged(table, matched, "dv_")
        dropEmptyObjects(objs)
        val dvObjs = objs.filter(_._2 > 0)
        dvObjs.foreach { case (name, n, _) =>
          t.actions += AddDeleteVector(table, name, t.id, n)
        }
        if (dvObjs.nonEmpty) {
          // merge's change record, from READ-BACK of the persisted DV
          // keys (a non-deterministic source cannot diverge the feed);
          // the upserted/inserted new images mirror via the insert
          // hook, which fires because this marked the table CDC-touched
          if (cdfEnabled(t, table))
            writeCdc(table, live.join(readProvKeys(dvObjs.map(_._1)),
              Seq(TxIdCol, RowIdxCol), "left_semi"), "delete")
        }
      }
    }
  }

  /** Key-driven deletion-vector delete — the engine half of
    * `DELETE FROM t WHERE k IN (SELECT …)` (the SQL subquery-DML
    * rewrite): delete every live row whose key columns match a row of
    * `keys` and (optionally) satisfies `residual`. Same two bounded
    * jobs and the same file-skipping tiers as the merge delete leg —
    * the key set span-prunes, then point-set probes (driver index
    * under [[GraftClient.InListNarrowCap]], the distributed wide probe
    * past it), so a 10⁵-key quarantine-driven delete opens only the
    * matched objects. `keys` may be any size: under
    * [[GraftClient.BroadcastKeyRowGate]] it broadcasts into the DV
    * semi join, past the gate the join plans shuffled; nulls in
    * `keys` match nothing (SQL IN semantics).
    */
  def deleteByKeys(table: String, keys: DataFrame, keyCols: Seq[String],
      residual: Option[org.apache.spark.sql.Column] = None): Unit = {
    tagOp("DELETE")
    requireMutable(table, "DELETE")
    val schema = schemaOf(table)
    require(keyCols.nonEmpty && keyCols.forall(schema.fieldNames.contains),
      s"delete keys must be table columns: ${keyCols.mkString(",")}")
    // flush first so this tx's buffered rows become a live object the
    // delete vector covers (the merge() ordering contract)
    flush(table)
    // pin the key set: the prune probes and the semi join are separate
    // evaluations and must see ONE key set
    val delKeys = keys.select(keyCols.map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try mergeDeletes(table, schema, delKeys, keyCols, residual)
    finally delKeys.unpersist(false)
  }

  /** Row-level change data feed between two log versions: what an
    * incremental consumer missed. A full outer join of the two snapshots'
    * latest-version states on `keyCols`, emitting `_change` ∈
    * insert/update/delete with the NEW row values (OLD values for a
    * delete, since there is no new row). Unchanged rows are not emitted.
    * Null-safe column comparison, so null→value and value→null transitions
    * count as updates.
    */
  def changesBetween(table: String, keyCols: Seq[String],
      fromVersion: Long, toVersion: Long,
      preimages: Boolean = false): DataFrame = {
    val snap = txLog.beginAt(toVersion)
    val schema = snap.tables.getOrElse(table,
      throw new IllegalArgumentException(s"no such table at v$toVersion: $table"))
    val valCols = schema.fieldNames.filterNot(keyCols.contains).toSeq
    // both snapshots are aligned to the toVersion schema: a column ADDED
    // in the window doesn't exist on the before side (projected as null —
    // its appearance reads as an update, which is what an incremental
    // consumer must apply), and a column DROPPED in the window is simply
    // absent from the feed. Without this, a widening between the versions
    // made the full-outer join throw AnalysisException instead of
    // reporting the feed.
    def aligned(df: DataFrame): DataFrame =
      df.select(schema.fields.toIndexedSeq.map { f =>
        // present columns cast too: a type WIDENING inside the window
        // leaves the before side narrower, and the join/compare below
        // must see one type (the cast is a no-op when types match)
        if (df.columns.contains(f.name)) col(f.name).cast(f.dataType)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    // a KEY column added in the window means the before side cannot be
    // keyed at all: every after row is an insert, so before is empty
    val beforeSchema = txLog.beginAt(fromVersion).tables.get(table)
    val beforeState =
      if (beforeSchema.exists(s => keyCols.forall(s.fieldNames.contains)))
        currentStateAsOf(table, keyCols, fromVersion)
      else spark.createDataFrame(List.empty[Row].asJava, schema)
    // presence markers, not key-null tests: a row whose KEY is null would
    // otherwise read as absent from its own side and misclassify
    val before = aligned(beforeState)
      .withColumn("_in_b", lit(1))
    val after = aligned(currentStateAsOf(table, keyCols, toVersion))
      .withColumn("_in_a", lit(1))
    val joined = before.as("b").join(after.as("a"),
      keyCols.map(k => col(s"b.$k") <=> col(s"a.$k")).reduce(_ && _),
      "full_outer")
    val inAfter = col("a._in_a").isNotNull
    val inBefore = col("b._in_b").isNotNull
    val differs =
      if (valCols.isEmpty) lit(false)
      else valCols.map(c => !(col(s"b.$c") <=> col(s"a.$c"))).reduce(_ || _)
    val classified = joined
      .withColumn("_change",
        when(!inBefore, lit("insert"))
          .when(!inAfter, lit("delete"))
          .when(differs, lit("update")))
      .filter(col("_change").isNotNull)
    if (!preimages)
      classified.select(schema.fieldNames.toIndexedSeq.map(c =>
        when(col("_change") === "delete", col(s"b.$c"))
          .otherwise(col(s"a.$c")).as(c)) :+ col("_change"): _*)
    else {
      // Delta-CDF-parity labels: an update emits BOTH sides —
      // `update_preimage` (old values) then `update_postimage` (new) —
      // so an incremental consumer can retract the old contribution and
      // apply the new one (the property aggregate view maintenance
      // needs; new-values-only updates cannot retract).
      def side(p: String): Column = struct(
        schema.fieldNames.toIndexedSeq.map(c => col(s"$p.$c").as(c)): _*)
      classified.select(explode(
        when(col("_change") === "insert",
          array(struct(side("a").as("r"), lit("insert").as("l"))))
        .when(col("_change") === "delete",
          array(struct(side("b").as("r"), lit("delete").as("l"))))
        .otherwise(array(
          struct(side("b").as("r"), lit("update_preimage").as("l")),
          struct(side("a").as("r"), lit("update_postimage").as("l")))))
        .as("e"))
        .select(schema.fieldNames.toIndexedSeq
          .map(c => col(s"e.r.$c").as(c)) :+ col("e.l").as("_change"): _*)
    }
  }

  // --- file-level change data feed (Delta AddCDCFile parity) ---------------

  /** Is the file-level change feed recorded for `table` in this tx's
    * view? Opt-in via `setTableProperties(table,
    * Map(GraftClient.CdfProperty -> "true"))` — exactly Delta's
    * `delta.enableChangeDataFeed`. Recording costs one extra parquet
    * write per mutating commit, proportional to the CHANGED rows (never
    * the table), which is why it is a property and not the default.
    */
  private def cdfEnabled(t: TxState, table: String): Boolean =
    t.snapshot.properties(table, t.actions.toSeq)
      .get(GraftClient.CdfProperty).contains("true")

  /** Write `rows` (logical columns) as a CDC object with the given
    * `_change_type` and stage its action. Marks the table CDC-touched
    * so later inserts in this tx mirror themselves too — and BACKFILLS
    * inserts staged EARLIER in this tx: the reader treats a commit's
    * CDC objects as the complete record and ignores add actions, so an
    * insert-then-delete tx would otherwise silently drop its inserted
    * rows from the feed. Backfill mirrors only NET-NEW objects (an
    * autoAnalyze/bloom re-add of a pre-tx path is a metadata amendment,
    * not an insert), last add per path wins.
    */
  private def writeCdc(table: String, rows: DataFrame,
      changeType: String): Unit = {
    val t = currentTx
    if (!t.cdcTables.contains(table)) {
      t.cdcTables += table // first: the mirrors below must not re-enter
      val preLive = t.snapshot.liveFiles(table).map(_.path).toSet
      val net = mutable.LinkedHashMap[String, AddDataObject]()
      t.actions.foreach {
        case a: AddDataObject if a.table == table && !preLive(a.path) =>
          net(a.path) = a
        case RemoveDataObject(tb, p) if tb == table => net.remove(p)
        case _ => ()
      }
      net.values.foreach(a => mirrorInsertCdc(table, a))
    }
    val schema = schemaOf(table)
    val objs = writeDirectTagged(table,
      rows.select(schema.fieldNames.toIndexedSeq.map(col): _*)
        .withColumn(GraftClient.ChangeTypeCol, lit(changeType)), "cdc_")
    dropEmptyObjects(objs)
    objs.foreach { case (name, n, _) =>
      if (n > 0) {
        t.actions += AddCdcObject(table, name, t.id, n)
        t.cdcTables += table
      }
    }
  }

  /** Insert-path mirror: once a tx has staged CDC for a table, every
    * subsequently staged data object's rows must ALSO appear in CDC
    * (the reader ignores adds when CDC objects are present). Reads the
    * just-written object back rather than re-evaluating the caller's
    * DataFrame, so a non-deterministic input cannot diverge between the
    * data and its change record.
    */
  private def mirrorInsertCdc(table: String, add: AddDataObject): Unit = {
    val t = currentTx
    if (t.cdcTables.contains(table))
      writeCdc(table,
        applyDefaults(schemaOf(table),
          readObjects(schemaOf(table), Vector(add))), "insert")
  }

  /** Every staged insert object passes through here: the CDC mirror
    * (when this tx already has a change record open) and, with the
    * opt-in `graft.autoAnalyze=true` property on an ANALYZEd table,
    * write-time stats freshness — the new object gets its per-column
    * NDV blobs (one small aggregation over the rows just written) and
    * the table estimate refolds, so appends never leave the stats
    * stale. Off by default: a bulk load prefers one
    * [[analyzeIncremental]] at the end over a pass per object.
    */
  private def afterInsertObject(table: String, add: AddDataObject): Unit =
    afterInsertObjects(table, Vector(add))

  /** Post-staging hook for freshly written data objects: CDC mirroring,
    * opt-in write-time NDV blobs (autoAnalyze), and write-time blooms
    * for [[registerBlooms]]-registered columns — the bloom pass is ONE
    * aggregation over the new objects regardless of how many the insert
    * staged. Updated metadata replaces the staged add via remove +
    * re-add (the ordered log fold keeps the re-add).
    */
  private def afterInsertObjects(table: String,
      adds: Seq[AddDataObject]): Unit = {
    adds.foreach(mirrorInsertCdc(table, _))
    val t = currentTx
    val auto = t.snapshot.properties(table, t.actions.toSeq)
      .get(GraftClient.AutoAnalyzeProperty).contains("true")
    val ndvCols = if (auto) ndvColumns(table) else Nil
    val bCols = bloomColumns(table)
    if (ndvCols.isEmpty && bCols.isEmpty) return
    val schema = schemaOf(table)
    val blooms =
      if (bCols.isEmpty) Map.empty[String, Map[String, BloomData]]
      else {
        val (numBits, k) = bloomConfig(table)
        bloomsForObjects(schema, adds, bCols, numBits, k)
      }
    adds.foreach { add =>
      val withNdv =
        if (ndvCols.isEmpty) add
        else add.copy(ndv = add.ndv ++ ndvBlobsFor(schema, add, ndvCols))
      val updated = blooms.get(add.path) match {
        case Some(bl) => withBloomStamp(table, withNdv, bl)
        case None => withNdv
      }
      if (updated != add) {
        t.actions += RemoveDataObject(table, add.path)
        t.actions += updated
      }
    }
    if (ndvCols.nonEmpty) analyzeRefresh(table)
  }

  /** Row-level change feed WITHOUT key columns — per-commit change
    * records, Delta's file-level CDC. For each commit in
    * `[fromVersion, toVersion)` the changes are, in order of precedence:
    *
    *   1. the commit's CDC objects, if any (the complete record written
    *      because `graft.enableChangeDataFeed` was set);
    *   2. derived inserts, when the commit only ADDS data objects
    *      (append-only commits carry no CDC objects — Delta's own
    *      design, so the append path pays zero write amplification);
    *   3. derived deletes, when the commit only REMOVES objects (a
    *      TRUNCATE / whole-object delete): the removed objects' rows at
    *      the prior version, minus rows already DV-masked then;
    *   4. nothing, for net-no-change commits (metadata amendments like
    *      an autoAnalyze/bloom remove+re-add, empty-DV retirements) and
    *      for layout-only maintenance commits (COMPACT, CLUSTER, REORG,
    *      BLOOM, ANALYZE — which the CALL procedures run in their own
    *      tx);
    *   5. otherwise (RESTORE, or any mutation committed before the CDF
    *      property was set) a PROVENANCE-KEYED snapshot diff: MVCC
    *      (_tx_id, _row_idx) is a durable row identity, so the
    *      cross-version diff needs no key columns — correct for every
    *      commit shape, at the cost of two snapshot scans per such
    *      commit, which is why recorded CDC is the fast path.
    *
    * Result columns: the table's columns at `toVersion`'s schema (a
    * commit's rows are aligned by name, missing columns null), plus
    * `_change_type` and `_commit_version`. Updates surface as
    * delete+insert of the affected rows — without keys there is no row
    * identity to pair pre/post images; use the keyed feed for
    * retraction-form updates.
    */
  def changesByFile(table: String, fromVersion: Long,
      toVersion: Long): DataFrame = {
    val toSchema = txLog.beginAt(toVersion).tables.getOrElse(table,
      throw new IllegalArgumentException(
        s"no such table at v$toVersion: $table"))
    // maintenance ops run in their own tx (the CALL procedures
    // guarantee it): their commits are pure re-layout and emit nothing
    val maintenanceOps = Set("COMPACT", "CLUSTER", "REORG", "BLOOM",
      "ANALYZE", "CHECKPOINT")
    // one base replay + window-only store reads: snapshots for every
    // commit in the window ROLL FORWARD locally from the base instead
    // of re-replaying the whole log per commit (the streaming source
    // calls this every trigger)
    val base = txLog.beginAt(fromVersion)
    val entries = txLog.entriesDetailedBetween(fromVersion, toVersion)
    def aligned(df: DataFrame): DataFrame =
      df.select(toSchema.fields.toIndexedSeq.map { f =>
        if (df.columns.contains(f.name)) col(f.name).cast(f.dataType)
        else lit(null).cast(f.dataType).as(f.name)
      } :+ col(GraftClient.ChangeTypeCol): _*)
    var prevSnap = base
    val pieces: Seq[DataFrame] = entries.flatMap { case (v, op, as) =>
      val curSnap = Snapshot(v + 1, prevSnap.actions ++ as)
      val prev = prevSnap
      prevSnap = curSnap
      val cdc = as.collect { case c: AddCdcObject if c.table == table => c }
      // classification is by NET effect on the live set, not raw action
      // counts: a remove+re-add of one path (autoAnalyze/bloom metadata
      // amendment) is no change, an empty-DV retirement is no change, a
      // brand-new path is an insert — raw counts misread all of these
      val prevLive = prev.liveFiles(table)
      val curLive = curSnap.liveFiles(table)
      val prevPaths = prevLive.map(_.path).toSet
      val curPaths = curLive.map(_.path).toSet
      val added = curLive.filterNot(a => prevPaths(a.path))
      val removed = prevLive.filterNot(a => curPaths(a.path))
      val prevDvPaths = prev.liveDvs(table).map(_.path).toSet
      val newDvs = curSnap.liveDvs(table)
        .filterNot(d => prevDvPaths(d.path))
      val atV = curSnap.tables.getOrElse(table, toSchema)
      val piece: Option[DataFrame] =
        if (cdc.nonEmpty) {
          // CDC objects carry logical columns + _change_type at their
          // commit's schema; read with it explicitly so a later ALTER
          // doesn't change what was recorded
          val cdcSchema = StructType(atV.fields :+
            StructField(GraftClient.ChangeTypeCol, StringType))
          Some(aligned(readObjectDirs(cdc.map(_.path), cdcSchema)))
        } else if (added.nonEmpty && removed.isEmpty && newDvs.isEmpty) {
          Some(aligned(applyDefaults(atV, readObjects(atV, added))
            .withColumn(GraftClient.ChangeTypeCol, lit("insert"))))
        } else if (removed.nonEmpty && added.isEmpty && newDvs.isEmpty) {
          // whole-object deletes (TRUNCATE): rows live at the PRIOR
          // version inside the removed objects, DV-masked excluded
          Some(aligned(applyDefaults(atV,
            applyDvs(readObjects(atV, removed), prev.liveDvs(table)))
            .withColumn(GraftClient.ChangeTypeCol, lit("delete"))))
        } else if (added.isEmpty && removed.isEmpty && newDvs.isEmpty) {
          None // metadata-only / pure re-layout amendment
        } else if (op.exists(maintenanceOps)) {
          None // layout-only rewrite in its own tx: no row changed
        } else {
          // UNRECORDED mutation (RESTORE by nature; any mutation made
          // before the CDF property was set): MVCC provenance gives
          // every row a durable identity, so a cross-version diff needs
          // NO key columns — rows whose (_tx_id, _row_idx) exist at
          // v+1 but not v are inserts, the reverse deletes. Correct for
          // every commit shape; costs two snapshot scans per such
          // commit, which is why recorded CDC is the fast path.
          val prov = Seq(TxIdCol, RowIdxCol)
          val prior = scanAsOf(table, v)
          val cur = scanAsOf(table, v + 1)
          val ins = cur.join(prior.select(prov.map(col): _*), prov,
            "left_anti")
            .withColumn(GraftClient.ChangeTypeCol, lit("insert"))
          val del = prior.join(cur.select(prov.map(col): _*), prov,
            "left_anti")
            .withColumn(GraftClient.ChangeTypeCol, lit("delete"))
          Some(aligned(ins.unionByName(del)))
        }
      piece.map(_.withColumn("_commit_version", lit(v)))
    }
    val empty = StructType(toSchema.fields ++ Seq(
      StructField(GraftClient.ChangeTypeCol, StringType),
      StructField("_commit_version", LongType, nullable = false)))
    val pageSize = spark.conf.getOption("spark.graft.cdf.unionPageSize")
      .map(_.toInt).getOrElse(GraftClient.CdfUnionPageSize)
    if (pieces.isEmpty)
      spark.createDataFrame(List.empty[Row].asJava, empty)
    else if (pieces.length <= pageSize) pieces.reduce(_ unionByName _)
    else {
      // A window spanning thousands of commits would otherwise build a
      // thousands-way union (driver plan-size growth — the plan, not the
      // data, is the problem). Page internally: each page of commit
      // pieces is materialized into a spill directory and the result is
      // ONE multi-file parquet scan — plan depth bounded by the page
      // size no matter how wide the window. Spills live under ONE
      // per-client root inside rootDir (`_cdfspill_*`), one subdir per
      // call — so they ride the data filesystem (wide-window CDF works
      // on a remote scheme) and [[vacuum]] reclaims them like stranded
      // staging dirs: a long-lived service that diffs wide windows
      // repeatedly holds disk only until its next maintenance pass, not
      // until JVM exit. (Vacuum's spill AGE gate covers the
      // unconsumed-DataFrame race — see spillRetainMs.)
      val dir = s"$cdfSpillRoot/${UUID.randomUUID()}"
      val rel = dir.stripPrefix(s"$rootDir/")
      // rename-free spill: pages land DIRECTLY under the page dir via
      // the direct committer, and the read names the EXACT committed
      // objects (never the dir), so debris a crashed attempt left in
      // the page dir can't duplicate feed rows — same
      // uniqueness/visibility/reclamation contract as data objects
      val written = pieces.grouped(pageSize).flatMap { page =>
        DirectWrite.write(page.reduce(_ unionByName _), rootDir, Nil,
          DirectWrite.prefixNamer(rel))
      }.map(_._2).toVector
      if (written.isEmpty) spark.createDataFrame(List.empty[Row].asJava, empty)
      else readObjectDirs(written, empty)
    }
  }

  /** This client's change-feed spill root (created lazily by the first
    * wide-window diff; reclaimed by [[vacuum]]).
    */
  private lazy val cdfSpillRoot: String =
    s"$rootDir/_cdfspill_${UUID.randomUUID()}"

  /** Inclusive range delete, start <= col <= end — the reference's single
    * predicate (writes.go:58-88) — as copy-on-write (writes.go:90-162).
    *
    * Scale design: a CONSTANT number of Spark jobs regardless of object
    * count. One distributed aggregation finds which objects contain matches
    * (parquet min/max footer stats prune untouched objects at scan time, so
    * files whose range can't match are never materialized); one distributed
    * rewrite job copies the survivors of all touched objects into a single
    * new multi-part object. MVCC ordering is unaffected by merging objects:
    * each row carries its original _tx_id/_row_idx, and the action-level
    * txId (min of the originals) only orders the metadata listing — same
    * observable semantics as the reference's per-object rewrite that keeps
    * the ORIGINAL txId (transactions.go:11-16).
    *
    * Unflushed rows are filtered through the SAME Catalyst predicate as
    * flushed rows (tiny local-DataFrame job), so buffered and durable data
    * share delete semantics exactly.
    */
  def deleteRows(table: String, column: String, start: Any, end: Any): Unit = {
    tagOp("DELETE")
    require(hasColumnPath(schemaOf(table), column),
      s"no such column: $column")
    // stats-based file skipping: objects whose min/max can't overlap the
    // range are never opened, let alone rewritten
    deleteWhereImpl(table, col(column).between(lit(start), lit(end)),
      pruneByRange(liveFiles(table), physOf(schemaOf(table), column),
        start, end))
  }

  /** Live objects whose stats may contain rows with start <= column <= end.
    * `column` is the PHYSICAL name (stats keys); objects without stats
    * for it are conservatively kept.
    */
  private def pruneByRange(files: Vector[AddDataObject], column: String,
      start: Any, end: Any): Vector[AddDataObject] =
    files.filter(a => ColStats.mayOverlap(a.stats, column, start, end))

  /** Copy-on-write delete of every row matching an arbitrary Catalyst
    * predicate — the generalization of the reference's single-range
    * surface. A null predicate result never matches (the reference skips
    * nil rows).
    */
  def deleteWhere(table: String, pred: org.apache.spark.sql.Column): Unit = {
    tagOp("DELETE")
    deleteWhereImpl(table, pred, liveFiles(table))
  }

  private def deleteWhereImpl(table: String, pred: org.apache.spark.sql.Column,
      candidates: Vector[AddDataObject]): Unit = {
    val t = currentTx
    requireMutable(table, "DELETE")
    val schema = schemaOf(table)
    val keepPred = !coalesce(pred, lit(false))

    // phase 1: tombstone matching unflushed rows (writes.go:101-110)
    tombstoneBuffer(table, pred, schema)

    // phase 2: copy-on-write over candidate live objects (writes.go:113-159)
    val files = candidates
    if (files.isEmpty) return
    val byName = files.map(a => a.path -> a).toMap
    // defaults filled BEFORE the predicate: a DELETE on an
    // initial-default column must match the values a scan shows, not
    // the physical nulls underneath
    val scanAll = applyDefaults(schema,
      readObjects(schema, files, tagObj = true))

    // job 1: matched-row count per object (metadata-sized result); _obj
    // is the read layer's object identity (== AddDataObject.path for
    // internal dirs and external converted files alike).
    // DRIVER-MEMORY CONTRACT: this map is O(#TOUCHED objects), ~200 B
    // per entry — same order as the log-replay metadata the driver
    // already holds (a 100 TB table at 128 MB objects is ~800k entries,
    // ~160 MB). The loud cap below trips long before heap pressure; a
    // delete that legitimately touches more objects than that should be
    // issued as range-scoped deleteRows calls (stats-pruned per call),
    // which is also how you'd bound its single-commit blast radius.
    val matchedPerObject: Map[String, Long] = scanAll
      .filter(pred)
      .groupBy(col("_obj"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    require(matchedPerObject.size <= GraftClient.MaxDeleteTouchedObjects,
      s"delete touches ${matchedPerObject.size} objects (cap " +
        s"${GraftClient.MaxDeleteTouchedObjects}): split into " +
        "range-scoped deleteRows calls to bound driver metadata and " +
        "single-commit blast radius")

    if (matchedPerObject.isEmpty) return
    val touched = matchedPerObject.keySet.toSeq.sorted

    // file-level change record, derived from READ-BACK, never from
    // re-evaluating the predicate: deleted = the touched objects' live
    // rows MINUS the survivors the rewrite actually persisted
    // (provenance anti-join) — so a non-deterministic predicate cannot
    // make the feed name different rows than were actually deleted.
    // Runs after the rewrite parquet exists but BEFORE its add action
    // is staged (writeCdc's backfill would misread the rewrite as an
    // insert of this tx).
    def recordDeleteCdc(survivorPaths: Seq[String]): Unit =
      if (cdfEnabled(t, table)) {
        val live = applyDefaults(schema, applyDvs(
          readObjects(schema, touched.map(byName)),
          t.snapshot.liveDvs(table, t.actions.toSeq)))
        val deleted =
          if (survivorPaths.nonEmpty) {
            val survProv = readProvKeys(survivorPaths)
            live.join(survProv, Seq(TxIdCol, RowIdxCol), "left_anti")
          } else live // every touched object fully matched
        writeCdc(table, deleted, "delete")
      }

    // fully-matched objects (matched == physical rows: numRows is the
    // footer-derived PHYSICAL count, and job 1 counted physical rows, so
    // equality proves every row matches) are dropped metadata-only — a
    // whole-partition DELETE stages RemoveDataObject actions and rewrites
    // nothing. Only partially-matched objects pay the rewrite.
    val partial = touched.filter(n => matchedPerObject(n) < byName(n).numRows)

    // job 2: rewrite the partially-matched objects' surviving rows as ONE
    // new object. The survivor count comes from the WRITTEN DATA (parquet
    // footers), never from numRows arithmetic: action-level numRows goes
    // stale once a deletion vector's masked rows are physically removed by
    // a later rewrite, and a skip-empty decision based on stale metadata
    // silently drops live rows (found by the 500-op model test; pinned in
    // DvCompactReproSpec).
    if (partial.nonEmpty) {
      // defaults are filled for the predicate AND therefore baked into
      // the rewritten survivors (rows keep their original _tx_id, so a
      // filled value reads identically either way; explicit post-alter
      // nulls are untouched by the txId-gated fill)
      val objs = writeDirectTagged(table,
        toPhysical(applyDefaults(schema, readObjects(schema,
          partial.map(byName))).filter(keepPred), schema),
        countSchema = physSchema(schema))
      dropEmptyObjects(objs)
      val survObjs = objs.filter(_._2 > 0)
      recordDeleteCdc(survObjs.map(_._1))
      val minTx = partial.map(n => byName(n).txId).min
      survObjs.foreach { case (name, survivors, stats) =>
        val add = AddDataObject(table, name, minTx, survivors, stats)
        // if the table is ANALYZEd, sketch the rewrite output now (one
        // small aggregation over rows this job just wrote) so the
        // post-delete NDV refresh below stays metadata-exact
        val cols = ndvColumns(table)
        val withNdv = if (cols.isEmpty) add
          else add.copy(ndv = ndvBlobsFor(schema, add, cols))
        // registered blooms: re-stamp the survivor object EXACTLY (an
        // OR-carryover of the inputs' blooms would keep the deleted
        // values' bits forever, degrading toward all-ones across
        // repeated deletes) — one more aggregation over the same
        // just-written rows
        val bCols = bloomColumns(table)
        t.actions += (if (bCols.isEmpty) withNdv
          else {
            val (numBits, k) = bloomConfig(table)
            bloomsForObjects(schema, Vector(add), bCols, numBits, k)
              .get(add.path) match {
              case Some(bl) => withBloomStamp(table, withNdv, bl)
              case None => withNdv
            }
          })
      }
    } else recordDeleteCdc(Nil)
    touched.foreach(n => t.actions += RemoveDataObject(table, n))
    // delete-aware stats: the live set just changed — refold the stored
    // NDV blobs from the surviving objects' per-object sketches
    analyzeRefresh(table)

    // phase 3: a row that was BOTH live-DV-masked and pred-matched was just
    // physically removed — shrink the DVs so live DV keys always reference
    // physically present rows. This is the invariant that keeps
    // describeDetail's files-minus-DVs row arithmetic exact (the
    // DvCompactReproSpec under-count scenario: deleteRowsDV followed by an
    // overlapping copy-on-write delete). The shrink is DV-scale work: both
    // joins broadcast the tiny DV-key side, the one big input is a
    // provenance-column-pruned re-read of just the touched objects.
    // Both joins' small sides are bounded by the LIVE DV total
    // (removedMasked is a semi join against dvKeys, so ≤ it), so one
    // metadata-priced Σ numRows gate covers both: under
    // [[GraftClient.BroadcastKeyRowGate]] they broadcast, past it the
    // hints drop and Spark shuffles — same rationale as [[applyDvs]].
    val dvs = t.snapshot.liveDvs(table, t.actions.toSeq)
    if (dvs.nonEmpty) {
      val dvBcast = dvs.map(_.numRows).sum <= broadcastKeyRowGate
      val dvKeys = readProvKeys(dvs.map(_.path))
      val removedMasked = applyDefaults(schema,
          readObjects(schema, touched.map(byName)))
        .filter(pred)
        .select(col(TxIdCol), col(RowIdxCol))
        .join(if (dvBcast) broadcast(dvKeys) else dvKeys,
          Seq(TxIdCol, RowIdxCol), "left_semi")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        if (!removedMasked.isEmpty) {
          val objs = writeDirectTagged(table,
            dvKeys.join(
              if (dvBcast) broadcast(removedMasked) else removedMasked,
              Seq(TxIdCol, RowIdxCol), "left_anti"), "dv_")
          dropEmptyObjects(objs)
          dvs.foreach(d => t.actions += RemoveDataObject(table, d.path))
          objs.foreach { case (dvName, n, _) =>
            if (n > 0) t.actions += AddDeleteVector(table, dvName, t.id, n)
          }
        }
      } finally removedMasked.unpersist(false)
    }
  }

  /** Flush buffers, append the log entry, release the tx. Throws
    * [[CommitConflictException]] if a concurrent committer won the id; the
    * transaction is discarded either way (transactions.go:106-147). Orphaned
    * data objects from a failed commit are unreachable (never logged).
    *
    * Single-attempt case of [[commitTxRetrying]] — one commit epilogue
    * (flush, read-only skip, put, best-effort checkpoint) lives in one
    * place.
    */
  def commitTx(): Unit = commitTxRetrying(maxAttempts = 1)

  /** [[commitTx]] with optimistic REBASE on conflict — the reference's
    * declared-TODO multi-writer scenario (main_test.go:177: "TODO
    * TestConcurrentWriters fails to commit"). On losing the log-id race,
    * re-read the log, check the concurrent window for LOGICAL conflicts,
    * and if compatible, re-stage the same actions (data objects are
    * already written and immutable) at the new version.
    *
    * The conflict check is FOOTPRINT-based, per table (the Delta-style
    * concurrency matrix), not a blanket same-table rule:
    *
    *   - a tx whose footprint on a table is APPEND-ONLY (only
    *     AddDataObject actions — insert/writeRow/streaming ingest) rebases
    *     past concurrent appends, deletes, DVs, and compactions of that
    *     table: new immutable objects cannot invalidate, or be
    *     invalidated by, changes to objects that existed before them.
    *     Only a concurrent ChangeMetadata conflicts (the rows were
    *     written against a schema that no longer holds — e.g. a
    *     concurrent dropColumn would let the appended files smuggle the
    *     dropped column's bytes back in).
    *   - a tx that MUTATES a table (any RemoveDataObject /
    *     AddDeleteVector / ChangeMetadata) logically read that table's
    *     snapshot, so ANY concurrent commit touching the table conflicts:
    *     a concurrent append would escape the mutation's predicate, a
    *     concurrent remove may have taken the very object it rewrote
    *     (lost update), a concurrent metadata change pulls the schema out
    *     from under it. Lost updates are never silent.
    *
    * Concurrent writers to disjoint tables therefore all succeed, as do
    * concurrent blind appenders to the SAME table — the multi-writer
    * streaming-ingest shape.
    *
    * Rebasing does not restamp row-level provenance (_tx_id stays the
    * original attempt's id inside written parquet); that is
    * observationally safe because the rebase is taken only when no
    * concurrent commit touched the same table, so within-table
    * (_tx_id, _row_idx) ordering is unaffected.
    *
    * ISOLATION LEVEL: `WriteSerializable` (Delta-style) by default — the
    * conflict check covers the WRITE set (tables this tx staged actions
    * against), so a tx that read table A while writing table B rebases
    * past a concurrent commit to A and write skew between such txs is
    * admitted. Passing `isolation = Serializable` additionally conflicts
    * on the tracked READ set (every table whose current-snapshot data
    * this tx scanned): any concurrent commit touching a read table
    * aborts the rebase, which forbids write skew — two txs that each
    * read what the other writes cannot both commit. Historical
    * `scanAsOf` reads are version-pinned and therefore never conflict.
    */
  def commitTxRetrying(maxAttempts: Int = 5,
      isolation: GraftClient.Isolation =
        GraftClient.Isolation.WriteSerializable): Unit = {
    val t = currentTx
    // writer-side protocol gate: refuse to append to a log whose format
    // contract we don't fully implement (the read side is gated in
    // TxLog.begin)
    val proto = t.snapshot.protocol
    if (proto.minWriter > TxLog.SupportedWriterVersion)
      throw new IllegalStateException(
        s"log requires writer protocol version ${proto.minWriter}, but " +
          s"this engine supports ${TxLog.SupportedWriterVersion} — " +
          "upgrade the engine to write to this table store")
    t.tables.keys.foreach(flush)
    try {
      if (t.actions.isEmpty) return // read-only
      // per-table footprint: append-only iff every staged action on the
      // table is an AddDataObject
      val footprint: Map[String, Boolean] = t.actions.toSeq
        .groupBy(_.table)
        .map { case (tbl, as) =>
          tbl -> as.forall(_.isInstanceOf[AddDataObject])
        }
      var snapshot = t.snapshot
      var attempt = 1
      var committed = false
      while (!committed) {
        try {
          txLog.commit(snapshot, t.actions.toSeq, t.op)
          committed = true
        } catch {
          case e: CommitConflictException =>
            if (attempt >= maxAttempts) throw e
            // jittered exponential backoff before re-basing: under a
            // conflict storm (N writers hammering one log) re-trying at
            // full speed lets an unlucky writer lose every arbitration
            // while faster peers keep advancing the slot — measured over
            // the HTTP store (a writer lost 50 straight: BASELINE.md
            // "HTTP store commit protocol").
            // Randomized sleep desynchronizes the contenders, the same
            // cure every optimistic-commit protocol ships.
            Thread.sleep(scala.util.Random.nextInt(
              4 << math.min(attempt, 6)).toLong)
            val newer = txLog.begin()
            val concurrent =
              txLog.actionsBetween(snapshot.version, newer.version)
            val conflict = footprint.exists { case (tbl, appendOnly) =>
              val theirs = concurrent.filter(_.table == tbl)
              // an append must not rebase past a concurrent schema change
              // OR constraint change: the appended file was written
              // against the old schema and was never validated against
              // the new invariant
              if (appendOnly) theirs.exists(a =>
                a.isInstanceOf[ChangeMetadata] ||
                  a.isInstanceOf[SetConstraint] ||
                  // e.g. a concurrent graft.appendOnly=true must not be
                  // rebased past by a write it was meant to gate
                  a.isInstanceOf[SetProperties] ||
                  a.isInstanceOf[DropTable])
              else {
                // OBJECT-level conflicts for mutations (Delta-style), not
                // table-level: partition-disjoint deletes/rewrites of one
                // table commit concurrently. A mutation conflicts only
                // with
                //  - a schema/constraint change (predicate + validation
                //    semantics shift under it),
                //  - a FRESH append (txId >= our snapshot: rows our
                //    predicate never scanned — a concurrent REWRITE keeps
                //    its original txId < our snapshot and only carries
                //    rows we did scan; objects it rewrote overlap our
                //    removes if we touched them),
                //  - a remove of an object we also remove (double
                //    rewrite/retire of the same data),
                //  - a same-slot sink watermark (double batch commit).
                // A concurrent deletion vector never conflicts: DV keys
                // are provenance-based and stay valid across our rewrite
                // (rows we physically removed were rows it wanted gone).
                val ourRemoves = t.actions.collect {
                  case RemoveDataObject(tt, p) if tt == tbl => p
                }.toSet
                theirs.exists {
                  case _: ChangeMetadata | _: SetConstraint => true
                  case _: SetProperties => true // config shifted under us
                  case _: DropTable => true // table gone under our feet
                  case a: AddDataObject => a.txId >= t.snapshot.version
                  case RemoveDataObject(_, p) => ourRemoves(p)
                  case _: SetTxn => true
                  case _: AddDeleteVector => false
                  // a concurrent commit's CDC record is commit-scoped
                  // bookkeeping (uuid path, never in liveFiles) — it
                  // can't collide with anything this tx staged; without
                  // this arm the exists() threw MatchError instead of
                  // DECIDING whenever the concurrent writer had CDF on
                  case _: AddCdcObject => false
                  // two first-creates racing both stamp the BASE
                  // protocol — identical, safe to rebase past; a genuine
                  // concurrent protocol UPGRADE (a feature landing)
                  // invalidates what this tx validated against and must
                  // conflict
                  case p: SetProtocol => p != SetProtocol(
                    TxLog.BaseReaderVersion, TxLog.BaseWriterVersion)
                }
              }
            }
            // full Serializable: reads conflict too — any concurrent
            // commit touching a table this tx scanned aborts the rebase
            val readConflict =
              isolation == GraftClient.Isolation.Serializable &&
                t.readTables.exists(tbl => concurrent.exists(_.table == tbl))
            if (conflict || readConflict) throw e
            attempt += 1
            snapshot = newer
        }
      }
      if (checkpointInterval > 0 &&
          (snapshot.version + 1) % checkpointInterval == 0)
        try {
          txLog.checkpoint(txLog.begin())
          // log retention (opt-in via logRetainVersions >= 0): after each
          // auto-checkpoint, reclaim log/checkpoint entries no retained
          // snapshot can need — what keeps a long-lived streaming table
          // (one commit per micro-batch) at a BOUNDED object count
          // instead of millions of _log_ files. Time travel below the
          // pruned horizon errors loudly (TxLog.beginAt).
          if (logRetainVersions >= 0) {
            val keepFrom = math.max(0L, snapshot.version + 1 - logRetainVersions)
            txLog.newestCheckpointAtOrBelow(keepFrom)
              .foreach(txLog.pruneTo)
          }
        } catch { case scala.util.control.NonFatal(_) => () }
    } finally tx = None
  }

  /** Range delete via a DELETION VECTOR instead of copy-on-write: one
    * distributed job records the (_tx_id, _row_idx) keys of matching live
    * rows as a small parquet object; reads anti-join it. For a small
    * delete against a huge table this writes kilobytes where
    * [[deleteRows]] would rewrite every touched object — the
    * read-amplification trade the reference lists as TODO (README.md:38).
    * [[compact]] later applies and retires DVs. Unflushed rows are
    * tombstoned in the buffer exactly as in [[deleteRows]].
    */
  def deleteRowsDV(table: String, column: String, start: Any, end: Any): Unit = {
    tagOp("DELETE")
    require(hasColumnPath(schemaOf(table), column),
      s"no such column: $column")
    deleteWhereDVImpl(table, col(column).between(lit(start), lit(end)),
      pruneByRange(liveFiles(table), physOf(schemaOf(table), column),
        start, end))
  }

  /** [[deleteWhere]] semantics via a deletion vector. */
  def deleteWhereDV(table: String, pred: org.apache.spark.sql.Column): Unit =
    deleteWhereDVImpl(table, pred, liveFiles(table))

  private def deleteWhereDVImpl(table: String,
      pred: org.apache.spark.sql.Column,
      candidates: Vector[AddDataObject]): Unit = {
    val t = currentTx
    requireMutable(table, "DELETE")
    val schema = schemaOf(table)
    tombstoneBuffer(table, pred, schema)

    if (candidates.isEmpty) return
    // defaults filled before the predicate — same contract as the
    // copy-on-write path
    val live = applyDefaults(schema, applyDvs(
      readObjects(schema, candidates),
      t.snapshot.liveDvs(table, t.actions.toSeq)))
    val matched = live.filter(pred).select(col(TxIdCol), col(RowIdxCol))
    // count only; DV keys carry no prunable columns
    val objs = writeDirectTagged(table, matched, "dv_")
    dropEmptyObjects(objs)
    val dvObjs = objs.filter(_._2 > 0)
    dvObjs.foreach { case (name, n, _) =>
      t.actions += AddDeleteVector(table, name, t.id, n)
    }
    if (dvObjs.nonEmpty) {
      // change record from READ-BACK of the persisted DV keys, never a
      // predicate re-evaluation: the feed names exactly the rows the DV
      // masks, even under a non-deterministic predicate
      if (cdfEnabled(t, table))
        writeCdc(table, live.join(readProvKeys(dvObjs.map(_._1)),
          Seq(TxIdCol, RowIdxCol), "left_semi"), "delete")
    }
  }

  private def tombstoneBuffer(table: String,
      pred: org.apache.spark.sql.Column, schema: StructType): Unit = {
    val t = currentTx
    val keepPred = !coalesce(pred, lit(false))
    t.buffers.get(table).filter(_.nonEmpty).foreach { buf =>
      val bufSchema = StructType(schema.fields :+
        StructField(RowIdxCol, LongType, nullable = false))
      val rows = buf.map { case (idx, r) => Row.fromSeq(r.toSeq :+ idx) }
        .toList.asJava
      val kept = spark.createDataFrame(rows, bufSchema)
        .filter(keepPred).collect()
        .map(r => (r.getLong(r.length - 1), Row.fromSeq(r.toSeq.dropRight(1))))
        .sortBy(_._1)
      buf.clear(); buf ++= kept
    }
  }

  /** Time travel: the full multi-version scan of `table` as of log
    * version `asOf` (the state after commits with id < asOf). Works
    * outside any open transaction — it reads a historical snapshot, not
    * the current one — and immutable data objects make it cheap: old log
    * entries still reference the exact files that were live then, so
    * later deletes and compactions don't disturb historical replay.
    * History is only guaranteed within the last [[vacuum]]'s retained
    * window: vacuum physically reclaims superseded objects, and time
    * travel past its `retainVersions` horizon will fail to find files.
    */
  def scanAsOf(table: String, asOf: Long): DataFrame = {
    val snap = txLog.beginAt(asOf)
    val schema = snap.tables.getOrElse(table,
      throw new IllegalArgumentException(s"no such table at v$asOf: $table"))
    val pSchema = provSchema(schema)
    val files = snap.liveFiles(table)
    if (files.isEmpty) spark.createDataFrame(List.empty[Row].asJava, pSchema)
    // the as-of SCHEMA drives the fill: at a pre-alter version the
    // column (and its default metadata) doesn't exist yet
    else applyDefaults(schema,
      applyDvs(readObjects(schema, files), snap.liveDvs(table)))
  }

  /** The live object metadata of the historical snapshot at `asOf` —
    * the time-travel twin of [[objects]] (planning-time stats for
    * version-pinned reads). Works outside any open transaction.
    */
  def objectsAsOf(table: String, asOf: Long): Vector[AddDataObject] =
    txLog.beginAt(asOf).liveFiles(table)

  /** [[currentState]] of the historical snapshot at `asOf`.
    *
    * If a transaction is open and `asOf` is at-or-past its snapshot
    * version, this is a read of CURRENT state in disguise (createView
    * routes here with the latest version), so it joins the tx's tracked
    * read set — otherwise Serializable isolation would admit write skew
    * through the SQL-view surface. Strictly-historical reads stay
    * untracked (version-pinned data can never change under us).
    */
  def currentStateAsOf(table: String, keyCols: Seq[String],
      asOf: Long): DataFrame = {
    tx.foreach(t => if (asOf >= t.snapshot.version) t.readTables += table)
    val snap = txLog.beginAt(asOf)
    val schema = snap.tables.getOrElse(table,
      throw new IllegalArgumentException(s"no such table at v$asOf: $table"))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(TxIdCol).desc, col(RowIdxCol).desc)
    scanAsOf(table, asOf)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** The schema of `table` at log version `asOf` — the time-travel twin
    * of [[schemaOf]]. Works outside any open transaction.
    */
  def schemaAsOf(table: String, asOf: Long): StructType =
    txLog.beginAt(asOf).tables.getOrElse(table,
      throw new IllegalArgumentException(s"no such table at v$asOf: $table"))

  /** The current log version (the id the next commit will take) —
    * a name-only listing, no log body or snapshot replay (the streaming
    * source polls this every trigger). Offset v = "all commits with
    * id < v".
    */
  def latestVersion: Long = txLog.latestVersion

  /** Snapshot version as of wall-clock `tsMillis` (TIMESTAMP AS OF) —
    * see [[TxLog.versionAtTimestamp]].
    */
  def versionAt(tsMillis: Long): Long = txLog.versionAtTimestamp(tsMillis)

  /** First commit id committed at-or-after `tsMillis` (the change feed's
    * `startingTimestamp`) — see [[TxLog.versionAfterTimestamp]].
    */
  def versionAfter(tsMillis: Long): Long =
    txLog.versionAfterTimestamp(tsMillis)

  /** Committed log entries with `from <= id < until` as (id, actions) —
    * O(window) reads, see [[TxLog.entriesBetween]].
    */
  def historyBetween(from: Long, until: Long): Vector[(Long, Vector[Action])] =
    txLog.entriesBetween(from, until)

  /** Rows added to `table` by commits with `fromV <= id < untilV` — one
    * micro-batch of the streaming source. Exactly the objects those
    * commits Added, read with the CURRENT schema (files written before a
    * widening surface the new columns as null), user columns only.
    *
    * Append-only by contract: a RemoveDataObject or AddDeleteVector in
    * the window means a delete/rewrite/compaction landed mid-stream, and
    * replaying its Adds would duplicate or lose rows downstream — the
    * call fails unless an option opts out, Delta's exact ladder:
    * `ignoreDeletes` tolerates REMOVE-ONLY commits (a full-object
    * delete, a TRUNCATE — their removes touch no add this stream ever
    * replays, so exactly-once still holds for the rows that flow);
    * `ignoreChanges` additionally tolerates rewrites (CoW deletes,
    * compaction, DV deletes) by replaying rewritten objects' surviving
    * rows — at-least-once. The distinction is PER COMMIT: a commit that
    * both removes and adds (or carries a DV) is a rewrite no matter what
    * else the window holds. Works outside any open transaction.
    */
  def addedBetween(table: String, fromV: Long, untilV: Long,
      ignoreChanges: Boolean = false,
      ignoreDeletes: Boolean = false): DataFrame = {
    val schema = txLog.begin().tables.getOrElse(table,
      throw new IllegalArgumentException(s"no such table: $table"))
    val entries = txLog.entriesBetween(fromV, untilV)
    if (!ignoreChanges) entries.foreach { case (id, as) =>
      val removes = as.exists {
        case RemoveDataObject(t, _) => t == table; case _ => false }
      val dvs = as.exists {
        case AddDeleteVector(t, _, _, _) => t == table; case _ => false }
      val adds = as.exists {
        case a: AddDataObject => a.table == table; case _ => false }
      if (dvs || (removes && adds)) throw new IllegalArgumentException(
        s"commit $id rewrites $table mid-stream; the stream is " +
          "append-only (set ignoreChanges=true for at-least-once " +
          "replay of rewritten objects)")
      if (removes && !ignoreDeletes) throw new IllegalArgumentException(
        s"commit $id deletes from $table mid-stream; the stream is " +
          "append-only (set ignoreDeletes=true to skip remove-only " +
          "commits, or ignoreChanges=true for at-least-once replay " +
          "of rewrites too)")
    }
    val adds = entries.flatMap(_._2).collect {
      case a: AddDataObject if a.table == table => a
    }
    val cols = schema.fieldNames.map(col).toIndexedSeq
    if (adds.isEmpty)
      spark.createDataFrame(List.empty[Row].asJava, schema)
    else
      // initial defaults fill here too: a stream reading a pre-alter
      // window through the CURRENT schema sees the same values a batch
      // scan would (the fill keys on each row's own txId)
      applyDefaults(schema, readObjects(schema, adds)).select(cols: _*)
  }

  /** SHALLOW CLONE: fork `src` as a new table `dst` without copying a
    * byte of data (Delta's CLONE) — the clone commit re-adds every live
    * object and deletion vector of `src` under `dst`'s name, plus its
    * schema and constraints. Because data objects are immutable and
    * retirement is (table, path)-keyed, the two tables immediately
    * diverge copy-on-write: deletes/rewrites on either side produce new
    * objects and retire only that table's references, and [[vacuum]]
    * keeps a shared object alive while EITHER table references it.
    * Cloning a 100 TB table is a driver-side metadata write —
    * the standard way to fork production data for an experiment.
    */
  def shallowClone(src: String, dst: String): Unit = {
    tagOp("CLONE")
    val t = currentTx
    require(t.tables.contains(src), s"no such table: $src")
    require(!t.tables.contains(dst), s"table exists: $dst")
    flush(src) // buffered src rows become a live object the clone sees
    val schema = schemaOf(src)
    t.tables(dst) = schema
    t.actions += ChangeMetadata(dst, schema)
    constraintsOf(src).foreach { case (n, e) =>
      t.actions += SetConstraint(dst, n, e) }
    val props = tablePropertiesOf(src)
    if (props.nonEmpty) t.actions += SetProperties(dst,
      scala.collection.immutable.ListMap(props.toSeq.sortBy(_._1): _*))
    liveFiles(src).foreach(a => t.actions += a.copy(table = dst))
    t.snapshot.liveDvs(src, t.actions.toSeq)
      .foreach(d => t.actions += d.copy(table = dst))
  }

  /** Shallow clone of `src`'s state AS OF log version `asOf` (Delta's
    * `CLONE … VERSION AS OF`): the zero-copy fork, pointed at history —
    * fork yesterday's 100 TB table for a backfill experiment without
    * copying a byte or disturbing today's writers. Same mechanics as
    * [[shallowClone]] (objects/DVs re-added under the new name with
    * their ORIGINAL txIds, schema and constraints as they were THEN),
    * bounded by the same vacuum horizon as time travel: once the
    * historical snapshot's objects are reclaimed, the clone refuses up
    * front. Properties are taken from the historical snapshot too — the
    * clone is the table as it WAS, configuration included.
    */
  def shallowCloneAt(src: String, dst: String, asOf: Long): Unit = {
    tagOp("CLONE")
    val t = currentTx
    require(!t.tables.contains(dst), s"table exists: $dst")
    val snap = txLog.beginAt(asOf)
    val schema = snap.tables.getOrElse(src,
      throw new IllegalArgumentException(s"no such table at v$asOf: $src"))
    val files = snap.liveFiles(src)
    // same vacuum-horizon check as restore: managed names live under the
    // root (the data FS), external (converted) objects are absolute on
    // the filesystem their scheme-free path resolves to
    val missing = files.map(_.path).filterNot(p => objectExists(p))
    require(missing.isEmpty,
      s"cannot clone $src at v$asOf: object(s) physically reclaimed by " +
        s"vacuum: ${missing.sorted.mkString(",")}")
    t.tables(dst) = schema
    t.actions += ChangeMetadata(dst, schema)
    snap.constraints(src).foreach { case (n, e) =>
      t.actions += SetConstraint(dst, n, e) }
    val props = snap.properties(src)
    if (props.nonEmpty) t.actions += SetProperties(dst,
      scala.collection.immutable.ListMap(props.toSeq.sortBy(_._1): _*))
    files.foreach(a => t.actions += a.copy(table = dst))
    snap.liveDvs(src).foreach(d => t.actions += d.copy(table = dst))
  }

  /** RESTORE `table` to its state as of log version `asOf` — rollback as
    * a forward commit, the inverse surface of [[scanAsOf]] time travel.
    * Purely metadata: the staged actions remove objects/DVs that became
    * live after `asOf`, re-add the ones that were live then (with their
    * ORIGINAL txId and stats, so they sort back into their chronological
    * MVCC slot), and reset the schema if it evolved. No data is read or
    * written, so restoring a 100 TB table is a driver-side log diff.
    * History stays intact — the restore is itself just another log entry,
    * and a later restore can roll the restore back.
    *
    * Bounded by the same horizon as time travel: once [[vacuum]] has
    * physically reclaimed a superseded object, restores that need it fail
    * (checked here up front, before anything is staged).
    */
  def restore(table: String, asOf: Long): Unit = {
    tagOp("RESTORE")
    val t = currentTx
    require(t.buffers.get(table).forall(_.isEmpty),
      s"restore requires no buffered rows for $table in the open tx")
    val snap = txLog.beginAt(asOf)
    val thenSchema = snap.tables.getOrElse(table,
      throw new IllegalArgumentException(s"no such table at v$asOf: $table"))
    val nowFiles = liveFiles(table).map(a => a.path -> a).toMap
    val thenFiles = snap.liveFiles(table).map(a => a.path -> a).toMap
    val nowDvs = t.snapshot.liveDvs(table, t.actions.toSeq)
      .map(d => d.path -> d).toMap
    val thenDvs = snap.liveDvs(table).map(d => d.path -> d).toMap
    val resurrect =
      (thenFiles.keySet -- nowFiles.keySet) ++ (thenDvs.keySet -- nowDvs.keySet)
    val reclaimed = resurrect.filterNot(p => objectExists(p))
    require(reclaimed.isEmpty,
      s"cannot restore $table to v$asOf: object(s) physically reclaimed by " +
        s"vacuum: ${reclaimed.toSeq.sorted.mkString(",")}")
    (nowFiles.keySet -- thenFiles.keySet).toSeq.sorted
      .foreach(p => t.actions += RemoveDataObject(table, p))
    (nowDvs.keySet -- thenDvs.keySet).toSeq.sorted
      .foreach(p => t.actions += RemoveDataObject(table, p))
    (thenFiles.keySet -- nowFiles.keySet).toSeq.sorted
      .foreach(p => t.actions += thenFiles(p))
    (thenDvs.keySet -- nowDvs.keySet).toSeq.sorted
      .foreach(p => t.actions += thenDvs(p))
    if (schemaOf(table) != thenSchema) {
      t.tables(table) = thenSchema
      t.actions += ChangeMetadata(table, thenSchema)
    }
  }

  /** Bin-packing compaction — the reference's unimplemented compaction
    * TODO (README.md:32) and the answer to the small-file problem a
    * streaming writer creates, shaped so maintenance does NOT undo the
    * pruning that `insertPartitioned`/`clusterBy` bought. A full-table
    * merge into one object would give the merged object min/max stats
    * spanning everything (a month-partitioned table would compact into
    * one un-prunable blob); instead:
    *
    *   - only objects with at most `targetRows / 2` rows are candidates —
    *     large objects are never rewritten (O(small files), not O(table));
    *   - candidates are grouped by *partition identity*: the columns whose
    *     footer stats are a single point value in every candidate (the
    *     shape `insertPartitioned` writes). Bins never span groups, so
    *     per-partition pruning survives. A degenerate grouping (more
    *     groups than half the candidates — e.g. single-row objects where
    *     every column is a point) falls back to one group;
    *   - within a group, candidates are ordered by the first stat-bearing
    *     non-point column's min (stat adjacency — range-clustered
    *     neighbors merge with neighbors, keeping bins' stat ranges
    *     narrow), then greedily packed into bins of ≤ `targetRows` rows;
    *   - every bin becomes one object via ONE distributed job (rows are
    *     routed to their bin by source object, `input_file_name` → bin
    *     id broadcast map), taking the minimum member txId for its MVCC
    *     metadata slot. Rows keep (_tx_id, _row_idx) provenance.
    *
    * Deletion vectors: applied-and-retired only when every live object is
    * being rewritten (a full sweep — then the masked rows are physically
    * gone everywhere, including from singleton bins, which are rewritten
    * in that case just so the DVs can retire). With any object left
    * untouched, DVs stay live and unapplied — correct (they keep masking
    * exactly the same rows) and keeps the files-minus-DVs row arithmetic
    * exact. numRows per bin is counted from the written footers, never
    * from files-minus-DV arithmetic (DvCompactReproSpec).
    */
  def compact(table: String,
      targetRows: Long = GraftClient.DefaultCompactTargetRows,
      scope: Option[(String, Any, Any)] = None): Unit = {
    tagOp("COMPACT")
    require(targetRows >= 2, "targetRows must be >= 2")
    val t = currentTx
    val schema = schemaOf(table)
    val files = liveFiles(table)
    val dvs = t.snapshot.liveDvs(table, t.actions.toSeq)
    if (files.length <= 1 && dvs.isEmpty) return
    if (files.isEmpty) { // only DVs to retire; nothing masks anything
      dvs.foreach(d => t.actions += RemoveDataObject(table, d.path))
      return
    }
    // optional maintenance SCOPE (column, start, end): only objects whose
    // stats may overlap the inclusive range are candidates — at 100 TB
    // you compact the partitions a backfill just fragmented, never the
    // whole table. Stats-conservative (unknown stats ⇒ in scope, which is
    // correctness-neutral for compaction); the full-sweep DV retirement
    // below can only trigger when the scope covers every live object,
    // because `small` is drawn from the scoped subset but compared
    // against ALL live files.
    val scoped = scope match {
      case None => files
      case Some((c, s, e)) =>
        val phys = physOf(schema, c)
        files.filter(a => ColStats.mayOverlap(a.stats, phys, s, e))
    }
    val small = scoped.filter(_.numRows <= math.max(1L, targetRows / 2))
    val fullSweep = small.length == files.length
    // retiring DVs requires the full sweep; then even singleton bins
    // rewrite so no masked row survives physically
    val retireDvs = fullSweep && dvs.nonEmpty
    if (small.length < 2 && !retireDvs) return

    // partition identity, qualified PER COLUMN (never a joint fallback
    // that could merge bins across partitions): a column qualifies when
    // it is a single point value in every LIVE file's stats — a multi-row
    // object that stays point on a column is real evidence of
    // partition-style layout, while row-unique columns lose pointness on
    // any multi-row object. In the all-single-row corner (no multi-row
    // evidence anywhere) every column is point, so a distinct-count guard
    // keeps row-unique columns from making every object its own group:
    // a genuine partition key groups several objects per value.
    def pointIn(a: AddDataObject, c: String): Boolean =
      a.stats.get(c).exists(s => s.min != null && s.min == s.max)
    val allSingleRow = files.forall(_.numRows <= 1)
    // stats keys are PHYSICAL names; this whole block is stats-space only
    val pointCols = physSchema(schema).fieldNames.filter { c =>
      files.forall(pointIn(_, c)) &&
        (!allSingleRow ||
          small.map(_.stats(c).min).distinct.length <=
            math.max(1, small.length / 2))
    }
    val grouped = small.groupBy(a => pointCols.map(c => a.stats(c).min).toSeq)

    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Long, y: Long) => x < y
      case (x: Double, y: Double) => x < y
      case (x: Long, y: Double) => x.toDouble < y
      case (x: Double, y: Long) => x < y.toDouble
      case (x: String, y: String) => x < y
      case _ => false
    }
    val bins = mutable.ArrayBuffer[Vector[AddDataObject]]()
    grouped.toSeq.sortBy(_._1.mkString("|")).foreach { case (_, members) =>
      val orderCol = physSchema(schema).fieldNames
        .filterNot(pointCols.contains)
        .find(c => members.forall(_.stats.get(c).exists(_.min != null)))
      val sorted = orderCol match {
        case Some(c) => members.sortWith { (a, b) =>
          val (x, y) = (a.stats(c).min, b.stats(c).min)
          if (x == y) a.txId < b.txId else lt(x, y)
        }
        case None => members.sortBy(_.txId)
      }
      var cur = Vector.empty[AddDataObject]
      var rows = 0L
      sorted.foreach { a =>
        if (cur.nonEmpty && rows + a.numRows > targetRows) {
          bins += cur; cur = Vector(a); rows = a.numRows
        } else { cur :+= a; rows += a.numRows }
      }
      if (cur.nonEmpty) bins += cur
    }
    val eligible = bins.filter(b => b.length >= 2 || retireDvs).toVector
    if (eligible.isEmpty) return

    val binOf = eligible.zipWithIndex
      .flatMap { case (bin, i) => bin.map(_.path -> i) }.toMap
    // the read layer yields LOGICAL columns plus the _obj identity
    // (handling external converted objects' synthesized provenance);
    // toPhysical before the write keeps the new objects readable under
    // the current column mapping
    val src = readObjects(schema, eligible.flatten, tagObj = true)
    val mapping = spark.createDataFrame(
      binOf.toSeq.map { case (p, b) => Row(p, b) }.asJava,
      StructType(Seq(StructField("_obj", StringType, nullable = false),
        StructField(PartCol, IntegerType, nullable = false))))
    val masked = if (retireDvs) applyDvs(src, dvs) else src
    // LEFT join + raise_error, not inner: an inner join would silently
    // DROP any row whose derived _obj fails to resolve (empty
    // input_file_name under a plan/reader change) — the same loud-failure
    // guard as rewriteObjects
    val routed = masked.join(broadcast(mapping), Seq("_obj"), "left")
      .withColumn(PartCol, coalesce(col(PartCol),
        raise_error(concat(lit("compact: unroutable row from object "),
          col("_obj"))).cast(IntegerType)))
      .drop("_obj")
    // row conservation, from DATA not metadata: the expected count is one
    // provenance-column-pruned pass over the same immutable inputs
    val expected = masked.count()
    // hash-exchange on the bin id: a bin's rows (bounded by targetRows)
    // land in ONE task, so each bin re-materializes as exactly one
    // object with one part file — the point of bin-packing (without
    // this, rows of one bin scattered across read tasks would come out
    // as one object PER TASK and the small-file problem would survive
    // its own compaction)
    val staged = writeObjectsDirect(table,
      toPhysical(routed, schema).repartition(col(PartCol)),
      Seq(PartCol), physSchema(schema))
      .map { case (dir, name, rows, stats) =>
        (name, dir.get.stripPrefix(s"$PartCol=").toInt, rows, stats)
      }
    if (staged.map(_._3).sum != expected) {
      // validate BEFORE registering any action (rewriteObjects pattern):
      // a caller that catches and commits anyway must not commit loss
      staged.foreach { case (name, _, _, _) => deletePath(dataPath(name)) }
      throw new IllegalStateException(
        s"compact row-conservation failure: wrote ${staged.map(_._3).sum} " +
          s"rows, expected $expected")
    }
    val ndvCols = ndvColumns(table)
    staged.foreach { case (name, binId, rows, stats) =>
      if (rows > 0) {
        val add = AddDataObject(table, name,
          eligible(binId).map(_.txId).min, rows, stats)
        // delete-aware stats ride the rewrite: a pure re-layout bin's
        // blob is the register-max merge of its inputs' (METADATA-only,
        // exact — same rows); a DV-retiring sweep physically dropped
        // masked rows, so its outputs re-sketch from the written data
        val withNdv =
          if (ndvCols.isEmpty) add
          else if (!retireDvs && eligible(binId).forall(a =>
              ndvCols.forall(c => a.ndv.contains(physOf(schema, c)))))
            add.copy(ndv = ndvCols.map { c =>
              val p = physOf(schema, c)
              p -> eligible(binId).map(_.ndv(p))
                .foldLeft(new Array[Byte](graft.functions.HllMath.M))(
                  graft.functions.HllMath.merge)
            }.toMap)
          else add.copy(ndv = ndvBlobsFor(schema, add, ndvCols))
        // blooms ride compaction CHEAPLY: a bin's rows are exactly the
        // union of its input objects' rows (routing is per object), so
        // the bitwise-OR union of same-geometry input blooms is exact
        // for the output — loaded through the sidecar cache, OR'd, and
        // written as ONE merged sidecar (no row scan). A DV-retiring
        // sweep leaves the dropped rows' bits set — false positives
        // only, never a false prune. The OR is kept only when the
        // shared input width still meets the OUTPUT's derived
        // per-object target ([[bloomBitsFor]]): merging ten objects
        // must not quietly run the result at a tenth of its bits-per-
        // key. Columns any input lacks, carries at mismatched
        // geometry, or whose OR would under-shoot the target fall to
        // the maintainBlooms re-stamp below on registered tables.
        val inputs = eligible(binId)
        val (capBits, _) = bloomConfig(table)
        val outTarget = bloomBitsFor(rows, capBits)
        val mergedBlooms = inputs
          .map(a => a.blooms.keySet ++ a.bloomRefs.keySet)
          .reduce(_ intersect _).iterator.flatMap { c =>
            val bs = inputs.map(bloomOf(_, c))
            if (bs.exists(_.isEmpty)) None
            else {
              val list = bs.map(_.get)
              list.tail.foldLeft(Option(list.head))((acc, b) =>
                acc.flatMap(_.union(b)))
                .filter(_.numBits >= outTarget)
                .map(c -> _)
            }
          }.toMap
        t.actions += withBloomStamp(table, withNdv, mergedBlooms)
      } else deletePath(dataPath(name))
    }
    eligible.flatten.foreach(a => t.actions += RemoveDataObject(table, a.path))
    if (retireDvs)
      dvs.foreach(d => t.actions += RemoveDataObject(table, d.path))
    // a DV-retiring sweep materialized deletions: refold the stored NDV
    // blobs so the estimate stops counting the masked rows
    if (retireDvs) analyzeRefresh(table)
    // on a bloom-registered table, re-stamp whatever the OR-merge could
    // not carry (bins with un-bloomed or geometry-mismatched inputs)
    maintainBlooms(table)
  }

  /** [[compact]] only when the table's live object count (including this
    * tx's staged writes) exceeds `maxObjects` — the auto-compaction hook
    * a high-frequency writer schedules inline (the streaming sink's
    * `autoCompact` option): amortized, the small-file problem never
    * accumulates, and the compaction rides the same atomic commit as the
    * batch that tipped the threshold. Returns whether it compacted.
    */
  def maybeCompact(table: String, maxObjects: Int): Boolean = {
    require(maxObjects >= 1, "maxObjects must be >= 1")
    val before = liveFiles(table).length
    if (before <= maxObjects) false
    else {
      compact(table)
      // bin-packing compact can be a legitimate no-op (every object
      // large, or one small object); report what actually happened so a
      // caller branching on the result is never told a merge ran when
      // the object count did not drop
      liveFiles(table).length < before
    }
  }

  /** DECLARED-clustering write hook (the liquid-clustering lifecycle):
    * when `table` carries `graft.cluster.columns` and
    * `graft.autoCluster.minObjects`, fold the clustering maintenance
    * into the calling write's OWN transaction once enough unaligned
    * objects accumulate — one declared column rides the 1-D bounded
    * grid ([[clusterByBounded]]/[[clusterIncremental]]), two or more
    * the durable z-grid ([[clusterByZOrderBounded]]/
    * [[clusterIncrementalZ]]). The FIRST tipping batch baselines the
    * grid from the live data; every later tipping batch re-buckets
    * only the objects appended since the stored grid marker —
    * O(new data), the clustered bulk untouched, and a point query's
    * objects-opened stays bounded with zero scheduled maintenance
    * CALLs. Returns the number of objects re-bucketed (0 = below
    * threshold or no declaration).
    */
  def maybeCluster(table: String): Int = {
    val props = tablePropertiesOf(table)
    val cols = props.get("graft.cluster.columns")
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val minNew =
      props.get("graft.autoCluster.minObjects").flatMap(_.toIntOption)
        .getOrElse(0)
    if (cols.isEmpty || minNew <= 0) return 0
    val schema = schemaOf(table)
    cols.foreach(c => require(hasColumnPath(schema, c),
      s"declared clustering column missing (renamed?): $c — " +
        "re-declare graft.cluster.columns"))
    val numBuckets = props.get("graft.autoCluster.numBuckets")
      .flatMap(_.toIntOption).getOrElse(16)
    val single = cols.length == 1
    // the stored grid must belong to THIS declaration: a re-declared
    // column set re-baselines rather than riding a stale grid
    val gridTx: Option[Long] =
      if (single) props.get(s"graft.cluster.${cols.head}.txid")
        .map(_.toLong)
      else props.get("graft.zcluster.txid").map(_.toLong)
        .filter(_ =>
          props.get("graft.zcluster.columns").contains(cols.mkString(",")))
    gridTx match {
      case None =>
        val live = liveFiles(table)
        if (live.length < minNew) 0
        else try {
          if (single) clusterByBounded(table, cols.head, numBuckets)
          else clusterByZOrderBounded(table, cols, numBuckets)
          live.length
        } catch {
          // a declared column still all-null is DATA-dependent (early
          // ingest of a slow-filling column): skip this baseline and
          // retry at the next tipping batch instead of crash-looping
          // the stream; config errors (bad types) still throw loudly
          case e: IllegalArgumentException
              if e.getMessage != null &&
                e.getMessage.contains("all-null") => 0
        }
      case Some(since) =>
        flush(table) // count this tx's own staged objects too
        if (liveFiles(table).count(_.txId >= since) < minNew) 0
        else {
          // DRIFT GATE (round 16), metadata-only: once the estimated
          // live mass outside the stored grid passes
          // graft.autoCluster.maxStaleness (default 0.5), incremental
          // passes only funnel appends into the edge buckets — a
          // monotone key (event time) would do so FOREVER, and a
          // recent-range point query degrades to opening the
          // ever-growing edge bucket. Re-baseline from the current
          // distribution instead: a full rewrite by design (the bulk's
          // placement is what drifted), amortized O(drift events), the
          // same judgement call as a lakehouse re-OPTIMIZE.
          val maxStale = props.get("graft.autoCluster.maxStaleness")
            .flatMap(_.toDoubleOption).getOrElse(0.5)
          val stale =
            if (single) clusterStaleness(table, cols.head)
            else zClusterStaleness(table)
          if (stale >= maxStale) {
            val n = liveFiles(table).length
            if (single) clusterByBounded(table, cols.head, numBuckets)
            else clusterByZOrderBounded(table, cols, numBuckets)
            n
          }
          else if (single) clusterIncremental(table, cols.head)
          else clusterIncrementalZ(table)
        }
    }
  }

  /** OPTIMIZE-style re-layout (1-D Z-order analog): rewrite every live
    * object of `table` into `numBuckets` range-clustered objects on
    * `column`, so each object's footer stats cover a narrow, mostly
    * disjoint value range and [[scanRange]]/[[deleteRows]] pruning
    * becomes effective on previously unclustered data. Rows keep their
    * (_tx_id, _row_idx) provenance (MVCC untouched); deletion vectors
    * are applied and retired, as in [[compact]]. One distributed
    * range-exchange write job; bucket boundaries come from the range
    * partitioner's own reservoir sample of the cluster column.
    *
    * Null `column` values land in the first bucket (range partitioning
    * sorts nulls first); its stats simply omit the column's bounds if
    * every value is null.
    */
  def clusterBy(table: String, column: String, numBuckets: Int = 16): Unit =
    clusterBy(table, Seq(column), numBuckets)

  /** Multi-column variant: lexicographic range clustering (the leading
    * column prunes best; later columns order within it — Delta's
    * non-ZCUBE OPTIMIZE shape).
    */
  def clusterBy(table: String, columns: Seq[String], numBuckets: Int): Unit = {
    require(columns.nonEmpty &&
      columns.forall(hasColumnPath(schemaOf(table), _)),
      s"cluster columns must be table columns: ${columns.mkString(",")}")
    relayout(table, numBuckets)(live =>
      Some(live.repartitionByRange(numBuckets, columns.map(col): _*)))
  }

  /** Shared re-layout machinery for the clustering operators: read the
    * live rows (DVs applied, so they retire), let `exchange` produce the
    * bucketed ordering, write one self-contained object per bucket via
    * the partitionBy staging trick (spark_partition_id after the
    * exchange IS the bucket id), register each with footer stats, and
    * remove the old objects/DVs. `exchange` returning None (e.g. an
    * all-null cluster axis) aborts without touching the table.
    */
  private def relayout(table: String, numBuckets: Int)(
      exchange: DataFrame => Option[DataFrame]): Unit = {
    tagOp("CLUSTER")
    val t = currentTx
    val schema = schemaOf(table)
    val files = liveFiles(table)
    val dvs = t.snapshot.liveDvs(table, t.actions.toSeq)
    if (files.isEmpty) return
    val live = applyDvs(readObjects(schema, files), dvs)
    val exchanged = exchange(live) match {
      case Some(df) => df
      case None => return
    }
    val minTx = files.map(_.txId).min
    writeObjectsDirect(table,
      toPhysical(exchanged.withColumn(PartCol, spark_partition_id()), schema),
      Seq(PartCol), physSchema(schema))
      .foreach { case (_, name, rows, stats) =>
        if (rows > 0)
          t.actions += AddDataObject(table, name, minTx, rows, stats)
        else deletePath(dataPath(name))
      }
    files.foreach(a => t.actions += RemoveDataObject(table, a.path))
    dvs.foreach(d => t.actions += RemoveDataObject(table, d.path))
    // value-routed rewrites mix rows across inputs, so input blooms
    // cannot be carried; re-stamp the outputs on registered tables
    maintainBlooms(table)
  }

  /** Export the keyed change bundle for the commit window
    * (fromVersion, toVersion] — the portable unit of CROSS-STORE
    * incremental replication: one parquet frame of full rows labeled
    * `_change` ∈ insert/update/delete (the [[changesBetween]] keyed
    * diff, O(changed rows) at any table size) plus a `bundle.json`
    * envelope (source identity, table, keys, window). A replica applies
    * bundles in window order with [[importChanges]]; re-applying or
    * skipping a window is detected there, not trusted here. Returns the
    * bundle directory.
    */
  def exportChanges(table: String, keyCols: Seq[String], fromVersion: Long,
      toVersion: Long, outDir: String): String = {
    val diff = changesBetween(table, keyCols, fromVersion, toVersion)
    diff.write.mode("overwrite").parquet(s"$outDir/rows")
    val meta = s"""{"src":${jsonStr(rootDir)},"table":${jsonStr(table)},""" +
      s""""keys":[${keyCols.map(jsonStr).mkString(",")}],""" +
      s""""fromVersion":$fromVersion,"toVersion":$toVersion}"""
    // the bundle envelope goes wherever the caller points (its own FS —
    // a cross-store replication bundle usually lands on shared storage)
    val mp = new org.apache.hadoop.fs.Path(s"$outDir/bundle.json")
    val mfs = mp.getFileSystem(spark.sessionState.newHadoopConf())
    val os = mfs.create(mp, true)
    try os.write((meta + "\n").getBytes("UTF-8")) finally os.close()
    outDir
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Apply an exported change bundle to `dstTable` — EXACTLY-ONCE and
    * GAP-FREE: the applied window high-water rides a [[SetTxn]] marker
    * (keyed by source store + table) committed atomically with the
    * MERGE, so a re-applied bundle returns false without touching data,
    * and a bundle whose `fromVersion` does not extend the applied
    * high-water refuses loudly (out-of-order application would silently
    * diverge the replica). Upserts and deletes land as one [[merge]] —
    * O(bundle rows + touched objects). Returns true when applied.
    */
  def importChanges(dstTable: String, bundleDir: String): Boolean = {
    tagOp("REPLICATE")
    val metaPath = new org.apache.hadoop.fs.Path(s"$bundleDir/bundle.json")
    val metaFs = metaPath.getFileSystem(spark.sessionState.newHadoopConf())
    require(metaFs.exists(metaPath),
      s"not a bundle (no bundle.json): $bundleDir")
    val in = metaFs.open(metaPath)
    val meta = try {
      val bos = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 4096, false)
      new String(bos.toByteArray, "UTF-8")
    } finally in.close()
    def field(k: String): String = {
      val m = ("\"" + k + "\"\\s*:\\s*(\"(?:[^\"\\\\]|\\\\.)*\"|[0-9-]+)").r
      m.findFirstMatchIn(meta).map(_.group(1)).getOrElse(
        throw new IllegalArgumentException(s"bundle.json missing $k"))
    }
    def unq(s: String): String =
      if (s.startsWith("\"")) s.substring(1, s.length - 1)
        .replace("\\\"", "\"").replace("\\\\", "\\")
      else s
    val src = unq(field("src"))
    val srcTable = unq(field("table"))
    val fromV = field("fromVersion").toLong
    val toV = field("toVersion").toLong
    val keys = "\"keys\"\\s*:\\s*\\[([^\\]]*)\\]".r
      .findFirstMatchIn(meta).map(_.group(1)).getOrElse("")
      .split(",").map(_.trim).filter(_.nonEmpty).map(unq).toSeq
    require(keys.nonEmpty, s"bundle has no key columns: $bundleDir")
    val appId = s"graft-replicate:$src:$srcTable"
    val applied = lastTxn(appId).getOrElse(0L)
    if (applied >= toV) return false // this window already landed
    require(applied == fromV,
      s"bundle gap: replica has applied window up to v$applied of " +
        s"$src:$srcTable but the bundle starts at v$fromV — apply the " +
        "intervening bundles first")
    val rows = strictRead.parquet(s"$bundleDir/rows")
    merge(dstTable, rows, keys,
      deleteCond = col("_change") === "delete",
      dropCols = Seq("_change"))
    setTxn(appId, toV)
    true
  }

  private def ndvKey(c: String) = s"graft.ndv.$c.registers"
  private def ndvTxKey(c: String) = s"graft.ndv.$c.txid"
  private def histKey(c: String) = s"graft.hist.$c.bins"
  private def histTxKey(c: String) = s"graft.hist.$c.txid"

  /** ANALYZE equi-height histograms for CBO selectivity (round 16):
    * for each NUMERIC / DATE / TIMESTAMP column (datetimes rank in
    * Spark's internal days/micros space — see `rankSql` below),
    * `bins` approx-percentile boundaries over
    * the live rows — ONE aggregation computes every column's bounds —
    * then one bounded per-column pass assigns rows to bins (65
    * codegen'd compares per row against the literal bound array) and
    * folds a per-bin approx-NDV. Stored as a compact table property
    * (`height;lo:hi:ndv,…` — doubles round-trip via toString) with the
    * analyze tx marker, and served to Spark by the native scan
    * ([[graft.sql.GraftBatchScan]] `estimateStatistics.histogram`),
    * where with `spark.sql.cbo.enabled` equi-height bins turn
    * skewed-column filter selectivity from the uniform NDV guess into
    * bin-resolution estimates. Like Spark's own ANALYZE histograms this
    * artifact goes stale under mutation — re-run to refresh (percentile
    * bins cannot refold from per-object sketches the way NDV registers
    * do); CBO stats are advisory, staleness costs plan quality only.
    */
  def analyzeHistogram(table: String, columns: Seq[String],
      bins: Int = 64): Unit = {
    tagOp("ANALYZE")
    require(bins >= 2 && bins <= 254, s"bins must be in [2, 254]: $bins")
    val t = currentTx
    val schema = schemaOf(table)
    // the histogram's double space must be the one Spark's filter
    // estimation converts literals into (EstimationUtils internal
    // forms): plain CAST for numerics, days-since-epoch for DATE,
    // epoch micros for TIMESTAMP — a DATE histogram in any other
    // space would compare against the wrong axis under CBO
    def rankSql(c: String): String =
      schema(schema.fieldIndex(c)).dataType match {
        case org.apache.spark.sql.types.DateType =>
          s"CAST(datediff(`$c`, DATE '1970-01-01') AS DOUBLE)"
        case org.apache.spark.sql.types.TimestampType =>
          s"CAST(unix_micros(`$c`) AS DOUBLE)"
        case _ => s"CAST(`$c` AS DOUBLE)"
      }
    columns.foreach { c =>
      require(schema.fieldNames.contains(c), s"no such column: $c")
      val dt = schema(schema.fieldIndex(c)).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
        dt == org.apache.spark.sql.types.DateType ||
        dt == org.apache.spark.sql.types.TimestampType,
        s"histogram needs a numeric, date or timestamp column: $c")
    }
    flush(table)
    val files = liveFiles(table)
    if (files.isEmpty) return
    val df = readObjects(schema, files)
    val pcts = (0 to bins).map(i => i.toDouble / bins)
      .mkString("array(", ", ", ")")
    val pctAggs = columns.map(c =>
      expr(s"approx_percentile(${rankSql(c)}, $pcts, 10000)")
        .as(s"_p_$c"))
    val boundsRow = df.agg(pctAggs.head, pctAggs.tail: _*).collect().head
    val props = columns.zipWithIndex.flatMap { case (c, i) =>
      Option(boundsRow.getAs[scala.collection.Seq[Double]](i))
        .filter(_.length == bins + 1).toSeq.flatMap { bounds =>
          val v = expr(rankSql(c))
          val boundsLit = array(bounds.map(lit).toIndexedSeq: _*)
          val bin = least(lit(bins), greatest(lit(1),
            aggregate(boundsLit, lit(0), (acc, b) =>
              acc + when(v >= b, 1).otherwise(0)) - 1))
          val rows = df.filter(v.isNotNull)
            .groupBy(bin.as("_bin"))
            .agg(approx_count_distinct(v).as("_ndv"),
              count(lit(1)).as("_cnt"))
            .collect()
          val ndvByBin = rows.map(r =>
            r.getInt(0) -> r.getLong(1)).toMap
          val total = rows.map(_.getLong(2)).sum
          val height = total.toDouble / bins
          val binStr = (1 to bins).map(j =>
            s"${bounds(j - 1)}:${bounds(j)}:${ndvByBin.getOrElse(j, 0L)}")
            .mkString(",")
          Seq(histKey(c) -> s"$height;$binStr",
            histTxKey(c) -> t.id.toString)
        }
    }.toMap
    if (props.nonEmpty) setTableProperties(table, props)
  }

  /** Stored equi-height histograms (logical column → (height, bins as
    * (lo, hi, ndv))) — the native scan's CBO food. Unparseable or
    * truncated values are skipped, never thrown: stats are advisory.
    */
  private[graft] def histogramsOf(table: String)
      : Map[String, (Double, Seq[(Double, Double, Long)])] = {
    val props = tablePropertiesOf(table)
    schemaOf(table).fieldNames.toSeq.flatMap { c =>
      props.get(histKey(c)).flatMap { s =>
        scala.util.Try {
          val Array(h, rest) = s.split(";", 2)
          val parsed = rest.split(",").toSeq.map { b =>
            val Array(lo, hi, n) = b.split(":", 3)
            (lo.toDouble, hi.toDouble, n.toLong)
          }
          c -> (h.toDouble, parsed)
        }.toOption
      }
    }.toMap
  }

  /** ANALYZE: compute a mergeable HLL register blob per requested column
    * over the table's live data and store it (base64) in table
    * properties — after this, [[approxDistinct]] answers NDV from
    * METADATA alone, the stats a planner wants for join-side and
    * broadcast decisions at 100 TB. One aggregation pass total for all
    * columns (512 bytes of state per column, map-side combined).
    * [[analyzeIncremental]] keeps the stats fresh for O(new data):
    * sketches union by register max, so fresh objects fold into the
    * stored blob without rescanning the bulk. Deletes cannot subtract
    * from a sketch — estimates go stale-HIGH until the next full
    * [[analyzeNdv]] (the usual ANALYZE cadence).
    */
  def analyzeNdv(table: String, columns: Seq[String]): Unit =
    analyzeInto(table, columns, liveFiles(table), base = Map.empty)

  /** Fold ONLY objects appended since the last analyze into the stored
    * sketches. Columns come from the existing properties; refuses if the
    * table was never analyzed. Returns the number of fresh objects.
    */
  def analyzeIncremental(table: String): Int = {
    val props = tablePropertiesOf(table)
    val cols = schemaOf(table).fieldNames.filter(c =>
      props.contains(ndvKey(c))).toSeq
    require(cols.nonEmpty,
      s"$table has no NDV stats; run analyzeNdv first")
    val since = cols.map(c => props(ndvTxKey(c)).toLong).min
    // >= : same-tx objects flushed after the marker tx recorded it are
    // still unfolded; re-folding an already-folded object is a NO-OP
    // under the register max-merge, so the overlap is self-healing
    val fresh = liveFiles(table).filter(_.txId >= since)
    if (fresh.isEmpty) return 0
    val base = cols.map(c => c ->
      java.util.Base64.getDecoder.decode(props(ndvKey(c)))).toMap
    analyzeInto(table, cols, fresh, base)
    fresh.length
  }

  private def analyzeInto(table: String, columns: Seq[String],
      files: Vector[AddDataObject], base: Map[String, Array[Byte]]): Unit = {
    tagOp("ANALYZE")
    val t = currentTx
    val schema = schemaOf(table)
    columns.foreach(c => require(schema.fieldNames.contains(c),
      s"no such column: $c"))
    flush(table)
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // ONE aggregation pass, grouped PER OBJECT: each object's register
    // blob is staged onto its add action (bloom-style remove+re-add),
    // and the table blob is the driver-side register-max merge of them.
    // The per-object tier is what makes the stats DELETE-AWARE: a later
    // delete/compaction refreshes the table estimate from metadata plus
    // only the rows it rewrites ([[analyzeRefresh]]), instead of going
    // stale-HIGH until the next full ANALYZE.
    val blobs: Map[String, Array[Byte]] =
      if (files.isEmpty) Map.empty
      else {
        // the portable 60-bit md5 hash — the input contract every HLL
        // consumer (SketchOps pipeline, aggregates, oracles) shares
        val aggs = columns.map(c =>
          expr(s"hll_registers(CAST(conv(substr(md5(CAST(`$c` AS " +
            s"STRING)), 1, 15), 16, 10) AS BIGINT))").as(s"_ndv_$c"))
        val rows = readObjects(schema, files, tagObj = true)
          .groupBy(col("_obj"))
          .agg(aggs.head, aggs.tail: _*)
          .collect()
        val byPath = files.map(a => a.path -> a).toMap
        rows.foreach { r =>
          byPath.get(r.getString(0)).foreach { a =>
            val perCol = columns.zipWithIndex.map { case (c, i) =>
              physOf(schema, c) -> r.getAs[Array[Byte]](i + 1)
            }.toMap
            t.actions += RemoveDataObject(table, a.path)
            t.actions += a.copy(ndv = a.ndv ++ perCol)
          }
        }
        columns.zipWithIndex.map { case (c, i) =>
          c -> rows.map(_.getAs[Array[Byte]](i + 1))
            .foldLeft(new Array[Byte](graft.functions.HllMath.M))(
              graft.functions.HllMath.merge)
        }.toMap
      }
    val enc = java.util.Base64.getEncoder
    val merged = columns.map { c =>
      val blob = (base.get(c), blobs.get(c)) match {
        case (Some(b), Some(f)) => graft.functions.HllMath.merge(b, f)
        case (Some(b), None) => b
        case (None, Some(f)) => f
        case (None, None) => new Array[Byte](graft.functions.HllMath.M)
      }
      c -> blob
    }
    setTableProperties(table,
      merged.flatMap { case (c, blob) => Seq(
        ndvKey(c) -> enc.encodeToString(blob),
        ndvTxKey(c) -> t.id.toString)
      }.toMap)
  }

  /** DELETE-AWARE NDV refresh: recompute the stored table-level blobs as
    * the register-max merge of the LIVE objects' per-object blobs
    * (pending actions included) — called by the delete and compaction
    * paths, which just changed the live set. METADATA-ONLY: no data
    * object is opened; a rewrite's output got its own blob from the
    * rows it was writing anyway. Exact whenever every live object
    * carries a blob for every analyzed column; objects appended since
    * the last ANALYZE lack one, in which case the stored estimate is
    * left alone (stale-HIGH, the pre-existing contract) — run
    * [[analyzeIncremental]] to fold them in O(new data) first.
    * DV-masked rows still count until a rewrite materializes the
    * deletion — a sketch cannot subtract.
    */
  private def analyzeRefresh(table: String): Unit = {
    val t = currentTx
    val props = tablePropertiesOf(table)
    val schema = schemaOf(table)
    val cols = schema.fieldNames.filter(c => props.contains(ndvKey(c))).toSeq
    if (cols.isEmpty) return
    val live = liveFiles(table)
    val phys = cols.map(c => c -> physOf(schema, c)).toMap
    if (live.exists(a => cols.exists(c => !a.ndv.contains(phys(c))))) return
    val enc = java.util.Base64.getEncoder
    setTableProperties(table, cols.flatMap { c =>
      val merged = live.map(_.ndv(phys(c)))
        .foldLeft(new Array[Byte](graft.functions.HllMath.M))(
          graft.functions.HllMath.merge)
      Seq(ndvKey(c) -> enc.encodeToString(merged),
        ndvTxKey(c) -> t.id.toString)
    }.toMap)
  }

  /** Per-object NDV blobs for a single just-written object, computed
    * from one small aggregation over it — the rewrite paths attach this
    * to their output add so [[analyzeRefresh]] stays exact.
    */
  private def ndvBlobsFor(schema: StructType, add: AddDataObject,
      cols: Seq[String]): Map[String, Array[Byte]] = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val aggs = cols.map(c =>
      expr(s"hll_registers(CAST(conv(substr(md5(CAST(`$c` AS " +
        s"STRING)), 1, 15), 16, 10) AS BIGINT))").as(s"_ndv_$c"))
    val row = readObjects(schema, Vector(add)).agg(aggs.head, aggs.tail: _*)
      .collect().head
    cols.zipWithIndex.map { case (c, i) =>
      physOf(schema, c) -> row.getAs[Array[Byte]](i)
    }.toMap
  }

  /** Columns of `table` with stored NDV stats (logical names). */
  private def ndvColumns(table: String): Seq[String] = {
    val props = tablePropertiesOf(table)
    schemaOf(table).fieldNames.filter(c => props.contains(ndvKey(c))).toSeq
  }

  /** Per-column PLANNING statistics over a pruned file set, metadata
    * only — the food the native DSv2 scan serves to cost-based
    * optimization ([[graft.sql.GraftBatchScan]] columnStats): NDV from
    * the per-object HLL register-max merge (delete-aware — present only
    * after [[analyzeNdv]] stamped every live object), min/max from the
    * footer-stats fold, null counts summed. Strictly conservative: a
    * column missing any ingredient on ANY file reports nothing for that
    * ingredient (a partial fold would under-estimate NDV or narrow a
    * range, and CBO acting on wrong stats is worse than none).
    * Returns column → (ndv, (min, max) normalized, nullCount).
    */
  private[graft] def columnStatsOf(table: String,
      files: Vector[AddDataObject])
      : Map[String, (Option[Long], Option[(Any, Any)], Option[Long])] = {
    if (files.isEmpty) return Map.empty
    val schema = schemaOf(table)
    def lo(a: Any, b: Any): Any = (a, b) match {
      case (x: Long, y: Long) => math.min(x, y)
      case (x: Double, y: Double) => math.min(x, y)
      case (x: String, y: String) => if (x <= y) x else y
      case _ => null
    }
    def hi(a: Any, b: Any): Any = (a, b) match {
      case (x: Long, y: Long) => math.max(x, y)
      case (x: Double, y: Double) => math.max(x, y)
      case (x: String, y: String) => if (x >= y) x else y
      case _ => null
    }
    schema.fieldNames.toSeq.flatMap { c =>
      val p = physOf(schema, c)
      val ndv: Option[Long] =
        if (files.forall(_.ndv.contains(p))) {
          val merged = files.map(_.ndv(p))
            .foldLeft(new Array[Byte](graft.functions.HllMath.M))(
              graft.functions.HllMath.merge)
          Some(math.round(
            graft.functions.HllMath.evalRegisters(merged)._3))
        } else None
      val minMax: Option[(Any, Any)] =
        if (files.forall(a => a.stats.get(p).exists(s =>
          s.min != null && s.max != null))) {
          val ss = files.map(_.stats(p))
          val mn = ss.map(s => ColStats.normalize(s.min)).reduce(lo)
          val mx = ss.map(s => ColStats.normalize(s.max)).reduce(hi)
          if (mn == null || mx == null) None else Some((mn, mx))
        } else None
      val nulls: Option[Long] = {
        val per = files.map(_.stats.get(p).flatMap(_.nulls))
        if (per.forall(_.isDefined)) Some(per.map(_.get).sum) else None
      }
      if (ndv.isEmpty && minMax.isEmpty && nulls.isEmpty) None
      else Some(c -> (ndv, minMax, nulls))
    }.toMap
  }

  /** NDV estimate for an analyzed column, from METADATA alone (the
    * stored register blob) — no data object is opened. Rounded to 2 dp,
    * the engine-exact convention the sketch oracles pin.
    */
  def approxDistinct(table: String, column: String): Double = {
    val props = tablePropertiesOf(table)
    val blob = props.getOrElse(ndvKey(column),
      throw new IllegalArgumentException(
        s"$table.$column has no NDV stats; run analyzeNdv first"))
    val regs = java.util.Base64.getDecoder.decode(blob)
    val (_, _, est) = graft.functions.HllMath.evalRegisters(regs)
    // HALF_UP at 2 dp — the same rounding SQL round() applies in both
    // engines, so the estimate lands on the oracle signal unchanged
    BigDecimal(est).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Bounded range clustering — [[clusterBy]] with EXPLICIT, DURABLE
    * bucket boundaries, the prerequisite for incremental maintenance
    * (Delta's liquid-clustering idea): boundaries are computed once from
    * the live data (exact percentiles here; at 100 TB swap in
    * percentile_approx — boundary placement is a layout choice, never a
    * correctness one), stored as table properties, and every later
    * [[clusterIncremental]] routes ONLY newly appended objects through
    * the same stored grid. Rows keep their (txId, rowIdx) provenance —
    * the rewrite is pure re-layout, so live DVs keep matching and are
    * neither applied nor retired. Nulls route to bucket 0.
    */
  def clusterByBounded(table: String, column: String,
      numBuckets: Int = 16): Unit = {
    tagOp("CLUSTER")
    require(numBuckets >= 2, "numBuckets must be >= 2")
    val t = currentTx
    val schema = schemaOf(table)
    require(hasColumnPath(schema, column), s"no such column: $column")
    flush(table) // buffered rows join the re-layout instead of dodging it
    val files = liveFiles(table)
    require(files.nonEmpty, s"$table is empty; nothing to cluster")
    val qs = (1 until numBuckets).map(_.toDouble / numBuckets)
    val boundsRow = readObjects(schema, files)
      .select(expr(s"percentile(CAST(${GraftClient.sqlRef(column)} AS " +
        s"DOUBLE), array(${qs.mkString(",")}))").as("b"))
      .collect().head
    require(!boundsRow.isNullAt(0), s"$column is all-null; cannot cluster")
    val bounds = boundsRow.getSeq[Double](0)
    rebucketFiles(table, files, bucketIdExpr(column, bounds))
    setTableProperties(table, Map(
      s"graft.cluster.$column.bounds" -> bounds.mkString(","),
      s"graft.cluster.$column.txid" -> t.id.toString))
  }

  /** Incremental clustering: re-bucket ONLY the objects appended since
    * the last (full or incremental) clustering pass, through the STORED
    * boundary grid — O(new data), never O(table). Each increment adds at
    * most numBuckets bucket-aligned objects; the per-bucket object count
    * is reclaimed by an ordinary partition-scoped [[compact]] (also
    * O(touched buckets)), so the steady-state maintenance loop —
    * nightly incremental cluster + scoped compact — never rewrites the
    * clustered bulk. Mutations that merge rewritten rows across buckets
    * (a wide copy-on-write delete) can degrade old-region alignment;
    * a fresh [[clusterByBounded]] restores it. Returns the number of
    * objects re-bucketed.
    */
  def clusterIncremental(table: String, column: String): Int = {
    tagOp("CLUSTER")
    val t = currentTx
    val props = tablePropertiesOf(table)
    val bounds = props.get(s"graft.cluster.$column.bounds")
      .map(_.split(",").map(_.toDouble).toSeq)
      .getOrElse(throw new IllegalArgumentException(
        s"$table has no bounded clustering on $column; " +
          "run clusterByBounded first"))
    val since = props(s"graft.cluster.$column.txid").toLong
    flush(table) // same-tx buffered rows become objects we can re-bucket
    // >= : an object written by the SAME tx that recorded the marker
    // (buffered rows flushed after a cluster call) is still unclustered;
    // re-bucketing an already-aligned object is wasteful but correct,
    // and rebucket outputs carry their inputs' older minTx, so they are
    // never picked up again
    val fresh = liveFiles(table).filter(_.txId >= since)
    if (fresh.isEmpty) return 0
    rebucketFiles(table, fresh, bucketIdExpr(column, bounds))
    // drift check rides every pass, metadata-only: the recorded
    // staleness is the maintenance loop's signal to cluster_rebound
    // before edge-bucket pileup erodes pruning
    val staleness = clusterStaleness(table, column)
    setTableProperties(table,
      Map(s"graft.cluster.$column.txid" -> t.id.toString,
        s"graft.cluster.$column.staleness" -> f"$staleness%.4f"))
    fresh.length
  }

  /** Staleness of the stored clustering grid for `column`: the
    * estimated fraction of live rows lying OUTSIDE the grid's interior
    * boundary span, from footer stats alone — O(metadata), no object
    * opened. Per object, mass outside [first, last] boundary is
    * estimated uniform-within-range from its min/max; objects without
    * stats contribute nothing. A FRESH grid holds ~2/numBuckets of mass
    * outside its interior boundaries by construction, so values well
    * above that mean the distribution has DRIFTED: new appends pile
    * into the two edge buckets, `clusterIncremental` keeps placing them
    * there, and range-scan pruning on the clustered column silently
    * degrades. [[clusterIncremental]] records this after every pass
    * (property `graft.cluster.<column>.staleness`); once it sits well
    * past the fresh-grid expectation of 2/numBuckets, run
    * [[clusterRebound]] (CALL system.cluster_rebound).
    */
  def clusterStaleness(table: String, column: String): Double = {
    val props = tablePropertiesOf(table)
    val bounds = props.get(s"graft.cluster.$column.bounds")
      .map(_.split(",").map(_.toDouble).toSeq)
      .getOrElse(throw new IllegalArgumentException(
        s"$table has no bounded clustering on $column"))
    outOfSpanMass(table, physOf(schemaOf(table), column),
      bounds.head, bounds.last)
  }

  /** Estimated fraction of live-row mass outside [lo, hi] on physical
    * column `phys`, from footer stats alone (uniform-within-range per
    * object) — the shared core of both staleness probes. O(metadata).
    */
  private def outOfSpanMass(table: String, phys: String,
      lo: Double, hi: Double): Double = {
    def asD(v: Any): Option[Double] = v match {
      case l: Long => Some(l.toDouble)
      case d: Double => Some(d)
      // string stats map into the SAME prefix-rank space zRankRawExpr
      // scales string z axes with, so a string axis's footer bounds
      // compare against its stored grid span directly. Parquet-style
      // truncation stays conservative through the mapping: a truncated
      // min is a prefix (rank ≤ true min), a truncated max has its
      // last byte incremented (rank ≥ true max).
      case s: String => Some(GraftClient.stringZRank(s))
      case _ => None
    }
    var total = 0.0
    var outside = 0.0
    liveFiles(table).foreach { a =>
      a.stats.get(phys).foreach { cs =>
        (asD(cs.min), asD(cs.max)) match {
          case (Some(mn), Some(mx)) =>
            val w = mx - mn
            val frac =
              if (w <= 0) { if (mn < lo || mn > hi) 1.0 else 0.0 }
              else (math.max(0.0, math.min(mx, lo) - mn) +
                math.max(0.0, mx - math.max(mn, hi))) / w
            total += a.numRows
            outside += frac * a.numRows
          case _ => ()
        }
      }
    }
    if (total == 0.0) 0.0 else outside / total
  }

  /** Staleness of the stored Z grid: the MAX over axes of the
    * estimated live-row mass outside that axis's stored scale span —
    * the z twin of [[clusterStaleness]], O(metadata). String axes
    * participate through the same 13-hex-char UTF-8 prefix rank their
    * z-values scale with ([[GraftClient.stringZRank]] over the footer
    * string min/max — round 16), so a drifting string key (a new
    * tenant prefix, a rolled date-string partition key) trips the
    * re-baseline gate exactly like a numeric one. 0 when nothing is
    * estimable.
    */
  def zClusterStaleness(table: String): Double = {
    val props = tablePropertiesOf(table)
    val columns = props.get("graft.zcluster.columns")
      .map(_.split(",").toSeq)
      .getOrElse(throw new IllegalArgumentException(
        s"$table has no bounded z-clustering"))
    val bs = props("graft.zcluster.axisBounds").split(",").toSeq.map { p =>
      val Array(lo, hi) = p.split(":"); (lo.toDouble, hi.toDouble)
    }
    val schema = schemaOf(table)
    columns.zip(bs).map { case (c, (lo, hi)) =>
      outOfSpanMass(table, physOf(schema, c), lo, hi)
    }.max
  }

  /** Recompute the clustering grid from the CURRENT live distribution
    * and re-layout — the answer to a drifted [[clusterStaleness]]. Same
    * bucket count as the stored grid. A full rewrite by design (the
    * bulk's placement is what drifted); the steady state remains
    * incremental passes, with rebound as the occasional re-baseline,
    * exactly like a lakehouse re-OPTIMIZE after workload shift.
    */
  def clusterRebound(table: String, column: String): Unit = {
    val props = tablePropertiesOf(table)
    val bounds = props.getOrElse(s"graft.cluster.$column.bounds",
      throw new IllegalArgumentException(
        s"$table has no bounded clustering on $column"))
    clusterByBounded(table, column, bounds.split(",").length + 1)
  }

  /** Bucket id under an explicit boundary grid: the count of boundaries
    * strictly below the value (so ids are stable under re-application).
    * Null values yield bucket 0.
    */
  private def bucketIdExpr(column: String, bounds: Seq[Double]): Column =
    expr(s"size(filter(array(${bounds.mkString(",")}), " +
      s"b -> CAST(${GraftClient.sqlRef(column)} AS DOUBLE) > b))")

  /** Provenance-preserving re-layout of a SUBSET of live objects: one
    * self-contained object per distinct bucket value, rows keeping their
    * original (txId, rowIdx) — DVs stay valid, MVCC ordering untouched
    * (objects carry the min input txId, the [[relayout]] convention).
    */
  private def rebucketFiles(table: String, files: Vector[AddDataObject],
      bucket: Column): Unit = {
    val t = currentTx
    val schema = schemaOf(table)
    if (files.isEmpty) return
    val live = readObjects(schema, files)
    val minTx = files.map(_.txId).min
    // hash-exchange on the bucket id: one task per bucket, so the
    // direct committer materializes exactly one object per bucket
    val staged = writeObjectsDirect(table,
      toPhysical(live.withColumn(PartCol, bucket), schema)
        .repartition(col(PartCol)),
      Seq(PartCol), physSchema(schema))
      .map { case (_, name, rows, stats) => (name, rows, stats) }
    // row conservation BEFORE any action lands: a lost or duplicated row
    // must fail the tx, not commit a corrupt layout
    val written = staged.map(_._2).sum
    val expected = files.map(_.numRows).sum
    require(written == expected,
      s"rebucket wrote $written rows but inputs held $expected")
    staged.foreach { case (name, rows, stats) =>
      if (rows > 0) t.actions += AddDataObject(table, name, minTx, rows, stats)
      else deletePath(dataPath(name))
    }
    files.foreach(a => t.actions += RemoveDataObject(table, a.path))
    // bounded re-clustering routes rows by value: re-stamp registered
    // blooms on the rewritten outputs (incremental — scoped rewrites
    // only read the objects they just replaced)
    maintainBlooms(table)
  }

  /** DESCRIBE HISTORY analog: every RETAINED log entry as
    * (version, actions), oldest first. Driver-side metadata only; works
    * outside a transaction. Checkpoints alone never delete log files, so
    * without retention this is the full history; once [[vacuum]] (or the
    * `logRetainVersions` auto-hook) has pruned the log, history starts
    * at the retention horizon — same contract as Delta's DESCRIBE
    * HISTORY after log cleanup.
    */
  def history(): Vector[(Long, Vector[Action])] = txLog.entries()

  /** [[history]] with each commit's wall-clock timestamp (millis). */
  def historyDetailed(): Vector[(Long, Long, Option[String], Vector[Action])] =
    txLog.entriesDetailed()

  /** Write a checkpoint of the current snapshot immediately (the
    * maintenance-procedure form of the every-`checkpointInterval` hook
    * inside commit). Returns the checkpointed version. Must run outside
    * a transaction — it folds COMMITTED state only.
    */
  def checkpointNow(): Long = {
    require(tx.isEmpty, "checkpoint must run outside a transaction")
    val snap = txLog.begin()
    txLog.checkpoint(snap)
    snap.version
  }

  /** Delta's DESCRIBE DETAIL: a one-row metadata summary of a table's
    * physical layout, computed entirely from the log and the local file
    * listing — no data file is ever opened. `num_rows` is exact
    * (footer-derived object counts minus DV-suppressed rows), which is
    * the payoff of carrying numRows in every Add action: at 100 TB the
    * row count of a petabyte table is a metadata fold, not a scan.
    *
    * The files-minus-DVs arithmetic is exact because every rewrite path
    * maintains one invariant — live DV keys always reference physically
    * present rows: copy-on-write deletes shrink overlapping DVs
    * (deleteWhereImpl phase 3), compact applies DVs only on the full
    * sweep that also retires them, and rewriteObjects/relayout apply and
    * retire together. Pinned in DescribeDetailSpec's DV + overlapping
    * CoW-delete interleaving.
    */
  def describeDetail(table: String): DataFrame = {
    val snap = txLog.begin()
    val schema = snap.tables.getOrElse(table,
      throw new IllegalArgumentException(s"no such table: $table"))
    val files = snap.liveFiles(table)
    val dvs = snap.liveDvs(table)
    val sizeBytes = files.map { f =>
      listPath(dataPath(f.path)).filter(_.isFile).map(_.getLen).sum
    }.sum
    val row = Row(table, snap.version, files.length.toLong,
      files.map(_.numRows).sum - dvs.map(_.numRows).sum,
      dvs.length.toLong, sizeBytes, schema.fields.length.toLong)
    spark.createDataFrame(
      java.util.Collections.singletonList(row),
      StructType(Seq(
        StructField("table_name", StringType, nullable = false),
        StructField("version", LongType, nullable = false),
        StructField("num_objects", LongType, nullable = false),
        StructField("num_rows", LongType, nullable = false),
        StructField("num_dvs", LongType, nullable = false),
        StructField("size_bytes", LongType, nullable = false),
        StructField("num_columns", LongType, nullable = false))))
  }

  /** Answer COUNT(*) / MIN / MAX over `table` from the transaction log
    * alone — the lakehouse "metadata-only query" optimization: every
    * `AddDataObject` already carries its exact footer row count and
    * per-column min/max, so a whole-table aggregate is a driver-side
    * metadata fold, not a scan. At 100 TB, `SELECT count(*)` on a
    * petabyte table answers in milliseconds.
    *
    * Returns Some(one value per requested agg, in order) only when EVERY
    * request is answerable EXACTLY; None means the caller must scan.
    * Exactness rules:
    *   - count: always — live footer row counts minus live DV
    *     cardinalities (the invariant [[describeDetail]] pins: live DV
    *     keys always reference physically present rows).
    *   - min/max: only when the table has NO live deletion vectors (a
    *     DV-masked row could hold the extremum), the column's type is
    *     fixed-width (parquet footer stats are exact values for those;
    *     string stats may be TRUNCATED bounds, so strings are refused),
    *     and every live object carries a stats entry for the column's
    *     physical name — an object without one either predates the
    *     column (all-null, which cannot affect min/max) or had its
    *     stats disqualified (unknown values), and the two are not
    *     distinguishable here, so both refuse. Empty table => SQL NULL.
    */
  def metadataAggregate(table: String, asOf: Option[Long],
      aggs: Seq[GraftClient.MetaAgg]): Option[Seq[Any]] = {
    import GraftClient.{MetaCount, MetaCountCol, MetaMin, MetaMax}
    val snap = asOf.map(txLog.beginAt).getOrElse(txLog.begin())
    val schema = snap.tables.getOrElse(table, return None)
    val files = snap.liveFiles(table)
    val dvs = snap.liveDvs(table)
    val count = files.map(_.numRows).sum - dvs.map(_.numRows).sum

    // COUNT(col) = rows - nulls: needs a null count on every live
    // object's stats entry for the column, and no DVs (a masked row's
    // null-ness is unknown here)
    def countCol(c: String): Option[Any] = {
      if (dvs.nonEmpty || !schema.fieldNames.contains(c)) return None
      if (files.isEmpty) return Some(0L)
      val phys = physOf(schema, c)
      val perFile = files.map(a =>
        a.stats.get(phys).flatMap(_.nulls).map(a.numRows - _))
      if (perFile.exists(_.isEmpty)) None else Some(perFile.flatten.sum)
    }

    def bound(c: String, wantMin: Boolean): Option[Any] = {
      if (dvs.nonEmpty) return None
      if (!schema.fieldNames.contains(c)) return None
      val f = schema(schema.fieldIndex(c))
      val fixedWidth = f.dataType match {
        case ByteType | ShortType | IntegerType | LongType | DateType |
             FloatType | DoubleType => true
        case _ => false
      }
      if (!fixedWidth) return None
      if (files.isEmpty) return Some(null) // MIN/MAX of empty = NULL
      val phys = physOf(schema, c)
      val perFile = files.map(_.stats.get(phys))
      if (perFile.exists(_.isEmpty)) return None
      val vals = perFile.flatten.map(s => if (wantMin) s.min else s.max)
      // stats carry Long/Double (ParquetFooters.decode); fold and surface
      // the column's external type
      f.dataType match {
        case ByteType | ShortType | IntegerType | LongType | DateType
            if vals.forall(_.isInstanceOf[Long]) =>
          val l = vals.map(_.asInstanceOf[Long])
            .reduce((a, b) => if (wantMin) math.min(a, b) else math.max(a, b))
          Some(f.dataType match {
            case ByteType => l.toByte
            case ShortType => l.toShort
            case IntegerType => l.toInt
            case DateType => java.sql.Date.valueOf(
              java.time.LocalDate.ofEpochDay(l))
            case _ => l
          })
        case FloatType | DoubleType if vals.forall(_.isInstanceOf[Double]) =>
          val d = vals.map(_.asInstanceOf[Double])
            .reduce((a, b) => if (wantMin) math.min(a, b) else math.max(a, b))
          Some(if (f.dataType == FloatType) d.toFloat else d)
        case _ => None // mixed/unexpected stat value types
      }
    }

    val resolved: Seq[Option[Any]] = aggs.map {
      case MetaCount => Some(count)
      case MetaCountCol(c) => countCol(c)
      case MetaMin(c) => bound(c, wantMin = true)
      case MetaMax(c) => bound(c, wantMin = false)
    }
    if (resolved.exists(_.isEmpty)) None else Some(resolved.map(_.get))
  }

  /** GROUP-BY twin of [[metadataAggregate]]: per-group COUNT(*)/MIN/MAX
    * when every live object is SINGLE-VALUED on `groupCol` (stats
    * min == max — the partitioned-write layout guarantees it), so each
    * object belongs wholly to one group and the aggregation is a
    * driver-side fold over object metadata. min == max implies the value
    * is exact even for strings: parquet truncates min downward and max
    * upward, so equal truncated bounds pin the actual value. Per-partition
    * row counts over 100 TB answer without opening a file. Refuses
    * (None) when any object straddles values, lacks stats, or the table
    * has live DVs (a masked row can't be attributed to its group).
    * Returns one row per group: groupCol value ++ agg values.
    */
  def metadataAggregateGrouped(table: String, asOf: Option[Long],
      groupCol: String,
      aggs: Seq[GraftClient.MetaAgg]): Option[Seq[Seq[Any]]] = {
    import GraftClient.{MetaCount, MetaCountCol, MetaMin, MetaMax}
    val snap = asOf.map(txLog.beginAt).getOrElse(txLog.begin())
    val schema = snap.tables.getOrElse(table, return None)
    if (snap.liveDvs(table).nonEmpty) return None
    if (!schema.fieldNames.contains(groupCol)) return None
    val gField = schema(schema.fieldIndex(groupCol))
    val gPhys = physOf(schema, groupCol)
    val files = snap.liveFiles(table)
    val keyed = files.map { a =>
      a.stats.get(gPhys) match {
        case Some(ColStats(lo, hi, _)) if lo == hi => Some(lo -> a)
        case _ => None // multi-valued or unknown: not metadata-groupable
      }
    }
    if (keyed.exists(_.isEmpty)) return None

    def toExternal(dt: DataType, v: Any): Option[Any] = (dt, v) match {
      case (ByteType, l: Long) => Some(l.toByte)
      case (ShortType, l: Long) => Some(l.toShort)
      case (IntegerType, l: Long) => Some(l.toInt)
      case (LongType, l: Long) => Some(l)
      case (DateType, l: Long) =>
        Some(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(l)))
      case (FloatType, d: Double) => Some(d.toFloat)
      case (DoubleType, d: Double) => Some(d)
      case (StringType, s: String) => Some(s)
      case _ => None
    }

    def groupBound(group: Vector[AddDataObject], c: String,
        wantMin: Boolean): Option[Any] = {
      if (!schema.fieldNames.contains(c)) return None
      val f = schema(schema.fieldIndex(c))
      val phys = physOf(schema, c)
      val perFile = group.map(_.stats.get(phys))
      if (perFile.exists(_.isEmpty)) return None
      val vals = perFile.flatten.map(s => if (wantMin) s.min else s.max)
      val folded: Option[Any] = f.dataType match {
        case ByteType | ShortType | IntegerType | LongType | DateType
            if vals.forall(_.isInstanceOf[Long]) =>
          Some(vals.map(_.asInstanceOf[Long]).reduce((a, b) =>
            if (wantMin) math.min(a, b) else math.max(a, b)))
        case FloatType | DoubleType
            if vals.forall(_.isInstanceOf[Double]) =>
          Some(vals.map(_.asInstanceOf[Double]).reduce((a, b) =>
            if (wantMin) math.min(a, b) else math.max(a, b)))
        // strings only when every object pins the exact value
        case StringType if vals.forall(_.isInstanceOf[String]) &&
            group.forall(_.stats.get(phys).exists(s => s.min == s.max)) =>
          Some(vals.map(_.asInstanceOf[String]).reduce((a, b) =>
            if (wantMin == (a <= b)) a else b))
        case _ => None
      }
      folded.flatMap(toExternal(f.dataType, _))
    }

    val groups = keyed.flatten.groupBy(_._1).toSeq.map { case (k, as) =>
      k -> as.map(_._2).toVector
    }
    val out: Seq[Option[Seq[Any]]] = groups.map { case (k, group) =>
      val key = toExternal(gField.dataType, k)
      val vals: Seq[Option[Any]] = aggs.map {
        case MetaCount => Some(group.map(_.numRows).sum)
        case MetaCountCol(c) if schema.fieldNames.contains(c) =>
          val perFile = group.map(a => a.stats
            .get(physOf(schema, c)).flatMap(_.nulls).map(a.numRows - _))
          if (perFile.exists(_.isEmpty)) None
          else Some(perFile.flatten.sum)
        case MetaCountCol(_) => None
        case MetaMin(c) => groupBound(group, c, wantMin = true)
        case MetaMax(c) => groupBound(group, c, wantMin = false)
      }
      if (key.isEmpty || vals.exists(_.isEmpty)) None
      else Some(key.get +: vals.map(_.get))
    }
    if (out.exists(_.isEmpty)) None else Some(out.map(_.get))
  }

  /** Register the latest COMMITTED state as a temp view so the table is
    * queryable through `spark.sql` — the SQL surface over the tx store.
    * Deliberately not this transaction's view of the table: a temp view
    * outlives the transaction, and freezing uncommitted buffered rows or
    * pending actions into it would leak rolled-back data to later SQL
    * readers (a phantom read). Works outside a transaction; the view
    * stays valid (immutable files) until a newer registration replaces
    * it.
    */
  def createView(table: String, keyCols: Seq[String],
      viewName: String): Unit =
    currentStateAsOf(table, keyCols, txLog.begin().version)
      .createOrReplaceTempView(viewName)

  /** True Z-ORDER clustering on two numeric columns — see the N-column
    * overload; kept as the common-case entry point.
    */
  def clusterByZOrder(table: String, colA: String, colB: String,
      numBuckets: Int = 16): Unit =
    clusterByZOrder(table, Seq(colA, colB), numBuckets)

  /** True Z-ORDER clustering on N ≥ 2 numeric or string columns: each
    * value is
    * scaled to a fixed-width rank inside its column's global [min, max],
    * the N ranks' bits are interleaved into one z-value, and the table
    * is range-re-layouted on that z-value — so every output object
    * covers a small N-dimensional BOX and footer stats prune range
    * predicates on ANY of the columns (lexicographic [[clusterBy]] only
    * prunes the leading one). The z-value is a pure repartition
    * expression: nothing is added to the stored schema.
    *
    * Rank width is 16 bits for N ≤ 3 and shrinks to keep the interleaved
    * value inside a signed long for wider column sets (62 / N bits —
    * resolution per axis falls as dimensions rise, the usual z-order
    * trade; Delta caps recommended Z-ORDER width the same way).
    *
    * The column min/max come from the objects' existing stats when every
    * object carries them (driver-side, zero jobs), else one aggregate
    * over the live data. Constant-width scaling (not equi-depth ranks)
    * keeps the expression stateless and codegen'd; heavily skewed
    * columns get skewed boxes, which affects balance, not correctness.
    */
  def clusterByZOrder(table: String, columns: Seq[String],
      numBuckets: Int): Unit = {
    require(columns.length >= 2, "z-order needs at least 2 columns")
    require(columns.length <= 31,
      s"z-order supports at most 31 columns (each needs >= 2 interleaved " +
        s"bits in a signed long); got ${columns.length}")
    require(columns.distinct.length == columns.length,
      s"duplicate z-order columns: ${columns.mkString(",")}")
    val schema = schemaOf(table)
    // dotted paths z-order on nested-struct leaves (the same per-segment
    // resolution clusterByBounded uses): their footer stats prune like
    // flat columns, so a (meta.ts, flat) z-layout prunes BOTH axes
    columns.foreach { c =>
      require(hasColumnPath(schema, c), s"no such column: $c")
      val dt = typeAtPath(schema, c)
      require(dt.isInstanceOf[NumericType] || dt == StringType,
        s"z-order needs numeric or string columns; $c is ${dt.simpleString}")
    }
    def zRankRaw(c: String): org.apache.spark.sql.Column =
      zRankRawExpr(schema, c)
    def zStringRank(s: String): Double = {
      val hexs = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        .take(7).map(b => f"${b & 0xff}%02X").mkString
      java.lang.Long.parseLong((hexs + "0" * 13).take(13), 16).toDouble
    }
    // bounds only steer bucket balance, never correctness (mayOverlap is
    // computed from the REWRITTEN footers); string stat bounds may be
    // parquet-truncated, which is likewise balance-only
    def statBounds(c: String): Option[(Double, Double)] = {
      val per = liveFiles(table).map(_.stats.get(physOf(schema, c)).map(cs =>
        (ColStats.normalize(cs.min), ColStats.normalize(cs.max))))
      if (per.isEmpty || per.exists(_.isEmpty)) None
      else {
        val prs = per.flatten
        val nums = prs.collect {
          case (lo: Long, hi: Long) => (lo.toDouble, hi.toDouble)
          case (lo: Double, hi: Double) => (lo, hi)
          case (lo: String, hi: String) => (zStringRank(lo), zStringRank(hi))
        }
        if (nums.length != prs.length) None
        else Some((nums.map(_._1).min, nums.map(_._2).max))
      }
    }
    relayout(table, numBuckets) { live =>
      val fromStats = columns.map(statBounds)
      val bounds: Option[Seq[(Double, Double)]] =
        if (fromStats.forall(_.isDefined)) Some(fromStats.map(_.get))
        else {
          val aggs = columns.flatMap(c => Seq(
            min(zRankRaw(c)), max(zRankRaw(c))))
          val r = live.agg(aggs.head, aggs.tail: _*).collect().head
          if (columns.indices.exists(i => r.isNullAt(2 * i)))
            None // an all-null axis: no-op, as in the 2-column original
          else Some(columns.indices.map(i =>
            (r.getDouble(2 * i), r.getDouble(2 * i + 1))))
        }
      bounds.map { bs =>
        live.repartitionByRange(numBuckets, zValueExpr(schema, columns, bs))
      }
    }
  }

  /** Order-preserving numeric image of a value for z-rank scaling:
    * numerics cast to double; STRINGS map to their first 6.5 UTF-8
    * bytes as a 52-bit big-endian integer (13 hex digits — exactly
    * representable in a double), so lexicographic order is preserved
    * at z-order resolution. The corpus-canonical (source, ts) layout
    * z-orders directly; resolution past 6 bytes of shared prefix is
    * lost, which affects box tightness, never correctness.
    */
  private def zRankRawExpr(schema: StructType,
      c: String): org.apache.spark.sql.Column =
    typeAtPath(schema, c) match {
      case StringType => expr("CAST(CONV(rpad(substring(hex(encode(" +
        s"${GraftClient.sqlRef(c)}, 'UTF-8')), 1, 13), 13, '0'), 16, " +
        "10) AS DOUBLE)")
      case _ => col(c).cast("double")
    }

  /** The interleaved z-value as a pure (codegen'd) expression under the
    * given per-axis scale bounds — shared by the one-shot
    * [[clusterByZOrder]] and the DURABLE-grid incremental pair
    * ([[clusterByZOrderBounded]] / [[clusterIncrementalZ]]), so an
    * increment's z-values are computed by construction on the same
    * grid the full pass laid out. Out-of-bounds values clamp to the
    * edge ranks (new data past the grid lands in edge boxes — drift is
    * a re-baseline signal, never a correctness issue); a null on any
    * axis ranks 0 there.
    */
  private def zValueExpr(schema: StructType, columns: Seq[String],
      bs: Seq[(Double, Double)]): org.apache.spark.sql.Column = {
    val n = columns.length
    val bitsPer = math.min(16, 62 / n)
    val maxRank = (1L << bitsPer) - 1
    def scaled(raw: org.apache.spark.sql.Column, lo: Double,
        hi: Double) =
      if (hi <= lo) lit(0L)
      else least(lit(maxRank), greatest(lit(0L),
        ((raw - lit(lo)) / lit(hi - lo)
          * lit(maxRank.toDouble)).cast("long")))
    val ranks = columns.zip(bs).map { case (c, (lo, hi)) =>
      scaled(zRankRawExpr(schema, c), lo, hi)
    }
    // bit i of rank k lands at interleaved position i*n + k (for
    // n = 2 this is exactly the original a/b interleave)
    (for {
      i <- 0 until bitsPer
      (rank, k) <- ranks.zipWithIndex
    } yield shiftright(rank, i).bitwiseAND(lit(1L)) *
      lit(1L << (i * n + k))).reduce(_ + _)
  }

  /** Z-order with an EXPLICIT, DURABLE grid — the N-dimensional analog
    * of [[clusterByBounded]] (round-13 verdict task: the z-layout
    * previously required a full [[clusterByZOrder]] sweep to absorb new
    * data): the per-axis scale bounds AND the z-value's exact
    * percentile bucket boundaries are computed once from the live data
    * and stored as table properties, the table is re-laid-out one
    * object per z-bucket, and every later [[clusterIncrementalZ]]
    * routes ONLY newly appended objects through the same stored grid —
    * O(new data), the clustered bulk untouched. Boundary placement is a
    * balance choice, never a correctness one (pruning reads the
    * REWRITTEN footers); at 100 TB swap the exact percentile for
    * percentile_approx. One z-grid per table (a new call replaces it).
    */
  def clusterByZOrderBounded(table: String, columns: Seq[String],
      numBuckets: Int = 16): Unit = {
    tagOp("CLUSTER")
    require(numBuckets >= 2, "numBuckets must be >= 2")
    require(columns.length >= 2, "z-order needs at least 2 columns")
    require(columns.distinct.length == columns.length,
      s"duplicate z-order columns: ${columns.mkString(",")}")
    // the grid persists comma-joined (and axisBounds colon-split);
    // a column name containing either would make clusterIncrementalZ
    // misparse the stored grid and cluster on the wrong columns
    columns.foreach(c => require(!c.contains(",") && !c.contains(":"),
      s"z-order column names may not contain ',' or ':' " +
        s"(stored-grid format): $c"))
    val t = currentTx
    val schema = schemaOf(table)
    columns.foreach { c =>
      require(hasColumnPath(schema, c), s"no such column: $c")
      val dt = typeAtPath(schema, c)
      require(dt.isInstanceOf[NumericType] || dt == StringType,
        s"z-order needs numeric or string columns; $c is ${dt.simpleString}")
    }
    flush(table)
    val files = liveFiles(table)
    require(files.nonEmpty, s"$table is empty; nothing to cluster")
    val live = readObjects(schema, files)
    val aggs = columns.flatMap(c => Seq(
      min(zRankRawExpr(schema, c)), max(zRankRawExpr(schema, c))))
    val r = live.agg(aggs.head, aggs.tail: _*).collect().head
    columns.indices.foreach(i => require(!r.isNullAt(2 * i),
      s"${columns(i)} is all-null; cannot z-cluster"))
    val bs = columns.indices.map(i =>
      (r.getDouble(2 * i), r.getDouble(2 * i + 1)))
    val z = zValueExpr(schema, columns, bs)
    val qs = (1 until numBuckets).map(_.toDouble / numBuckets)
    val zBounds = live.select(z.cast("double").as("_z"))
      .select(expr(s"percentile(_z, array(${qs.mkString(",")}))"))
      .collect().head.getSeq[Double](0)
    rebucketFiles(table, files, zBucketIdExpr(z, zBounds))
    setTableProperties(table, Map(
      "graft.zcluster.columns" -> columns.mkString(","),
      "graft.zcluster.axisBounds" ->
        bs.map { case (lo, hi) => s"$lo:$hi" }.mkString(","),
      "graft.zcluster.zbounds" -> zBounds.mkString(","),
      "graft.zcluster.txid" -> t.id.toString))
  }

  /** Incremental N-D clustering: re-bucket ONLY the objects appended
    * since the last z pass, through the STORED z-grid — each increment
    * adds at most numBuckets z-aligned objects (reclaimed by an
    * ordinary scoped [[compact]]), the clustered bulk is never
    * rewritten, and range predicates on EVERY z axis keep pruning the
    * appended region. Out-of-grid values clamp into edge boxes; a
    * drifted distribution re-baselines with a fresh
    * [[clusterByZOrderBounded]]. Returns the objects re-bucketed.
    */
  def clusterIncrementalZ(table: String): Int = {
    tagOp("CLUSTER")
    val t = currentTx
    val props = tablePropertiesOf(table)
    val columns = props.get("graft.zcluster.columns")
      .map(_.split(",").toSeq)
      .getOrElse(throw new IllegalArgumentException(
        s"$table has no bounded z-clustering; run clusterByZOrderBounded " +
          "first"))
    val bs = props("graft.zcluster.axisBounds").split(",").toSeq.map { p =>
      val Array(lo, hi) = p.split(":"); (lo.toDouble, hi.toDouble)
    }
    val zBounds =
      props("graft.zcluster.zbounds").split(",").map(_.toDouble).toSeq
    val since = props("graft.zcluster.txid").toLong
    flush(table) // same-tx buffered rows become objects we can re-bucket
    val schema = schemaOf(table)
    // >= : same convention as clusterIncremental — re-bucketing an
    // already-aligned object is wasteful but correct, and rebucket
    // outputs carry their inputs' older minTx, never re-picked-up
    val fresh = liveFiles(table).filter(_.txId >= since)
    if (fresh.isEmpty) return 0
    rebucketFiles(table, fresh,
      zBucketIdExpr(zValueExpr(schema, columns, bs), zBounds))
    setTableProperties(table,
      Map("graft.zcluster.txid" -> t.id.toString))
    fresh.length
  }

  /** Bucket id under an explicit z boundary grid: the count of
    * boundaries strictly below the z-value (stable under
    * re-application, the [[bucketIdExpr]] convention); a null z —
    * impossible by construction, rank clamping nulls to 0 — would land
    * in bucket 0.
    */
  private def zBucketIdExpr(z: org.apache.spark.sql.Column,
      bounds: Seq[Double]): org.apache.spark.sql.Column =
    bounds.map(b => when(z.cast("double") > lit(b), 1).otherwise(0))
      .reduce(_ + _)

  /** Abandon the open transaction (data objects it wrote stay orphaned and
    * unreferenced, as in the reference; [[vacuum]] reclaims them).
    */
  def rollback(): Unit = tx = None

  /** [[rollback]] plus eager reclaim of the data/DV/CDC objects the open
    * transaction already wrote. A crashed writer can only leave orphans
    * for [[vacuum]], but a DELIBERATE abort (a failed atomic CTAS, a
    * procedure unwinding) knows exactly what it wrote — deleting it now
    * keeps the store free of debris that would otherwise sit until the
    * next vacuum. Maintenance paths (analyzeNdv, buildBloom,
    * widenColumnType) stage remove+re-ADD amendments of objects the
    * COMMITTED log still references, so "staged Add" does NOT imply
    * "created by this tx": any path live in the tx's snapshot is
    * committed data and must survive the abort. Best-effort, a missing
    * object is already gone.
    */
  def abortAndClean(): Unit = {
    tx.foreach { t =>
      val committed: Set[String] = t.snapshot.tables.keys.flatMap { tbl =>
        val files = t.snapshot.liveFiles(tbl)
        files.map(_.path) ++
          files.flatMap(_.bloomRefs.valuesIterator.map(_.path)) ++
          t.snapshot.liveDvs(tbl).map(_.path)
      }.toSet
      t.actions.foreach {
        case a: AddDataObject =>
          if (!committed(a.path)) deletePath(dataPath(a.path))
          // a maintenance re-add references a COMMITTED data path but a
          // FRESH sidecar — the sidecar is this tx's debris even though
          // the data object must survive, so the two are checked
          // independently
          a.bloomRefs.valuesIterator.map(_.path).filterNot(committed)
            .foreach(p => deletePath(dataPath(p)))
        case a: AddDeleteVector if !committed(a.path) =>
          deletePath(dataPath(a.path))
        case a: AddCdcObject =>
          deletePath(dataPath(a.path))
        case _ => ()
      }
    }
    tx = None
  }

  /** Physically delete data/DV objects unreachable from the current
    * snapshot and the last `retainVersions` historical snapshots: orphans
    * from aborted transactions, objects superseded by copy-on-write
    * deletes or compaction, and retired deletion vectors. Also reclaims
    * LOG history nothing retained can replay — every `_log_*` entry,
    * checkpoint manifest, and checkpoint part below the newest
    * checkpoint at-or-below the retained window (a long-lived table's
    * log stays bounded instead of accumulating one file per commit
    * forever). Returns the number of DATA objects removed.
    *
    * Time travel older than the retained window stops working afterwards —
    * that is the point of the retention knob. Metadata work is O(retained
    * versions); deletion and the age gate's per-dir listings are
    * driver-side filesystem calls on a bounded 16-thread pool (no Spark
    * jobs — but not serial either: a big compaction day's 10⁶ victims
    * at object-store latencies would take hours one call at a time).
    *
    * CONCURRENT-WRITER SAFETY (the direct-committer corollary): every
    * write lands at its final `_table_<t>_<uuid>` name the moment the
    * task finishes, unreferenced by any log entry until the commit — so
    * an in-flight writer's objects are indistinguishable from aborted-tx
    * orphans BY THE LOG ALONE. Vacuum therefore splits the unreferenced
    * set two ways: a path MENTIONED by a retained log entry (added then
    * superseded/dropped) is provably committed debris — no in-flight
    * writer can own it, because writers mint fresh uuids — and reclaims
    * immediately; a path the retained log has NEVER heard of is either
    * an orphan or a live writer's work-in-progress, and only age
    * distinguishes them, so it reclaims only past
    * `spark.graft.vacuum.orphanRetainMs` (default 24 h — comfortably
    * above any real write job's task-output-to-commit window; Delta's
    * retention-duration gate is the same shape). `0` disables the gate
    * for single-maintainer contexts that want immediate reclaim.
    * Long-running READERS of reclaimed versions still fail loudly via
    * strictRead — that contract is the retention knob's, not this gate's.
    */
  /** Minimum age before vacuum reclaims a `_cdfspill_*` page dir
    * (override: `spark.graft.cdf.spillRetainMs`; tests set 0).
    */
  private def spillRetainMs: Long =
    spark.conf.getOption("spark.graft.cdf.spillRetainMs")
      .map(_.toLong).getOrElse(60L * 60 * 1000)

  /** Minimum age before vacuum reclaims an unreferenced path NO retained
    * log entry mentions — the only shape an in-flight concurrent writer's
    * direct-committed objects can take (override:
    * `spark.graft.vacuum.orphanRetainMs`; `<= 0` disables the gate).
    */
  private def orphanRetainMs: Long =
    spark.conf.getOption("spark.graft.vacuum.orphanRetainMs")
      .map(_.toLong).getOrElse(24L * 60 * 60 * 1000)

  /** Age past which a held vacuum lease counts as abandoned (crashed
    * vacuum) and is taken over (override:
    * `spark.graft.vacuum.leaseStaleMs`). The lease renews at every
    * phase boundary, so a healthy vacuum's age resets well inside the
    * default; a phase that outlives it loses the lease and aborts at
    * its next verify instead of racing the takeover's prune.
    */
  private def vacuumLeaseStaleMs: Long =
    spark.conf.getOption("spark.graft.vacuum.leaseStaleMs")
      .map(_.toLong).getOrElse(15L * 60 * 1000)

  /** [[vacuum]] with a TIME-based retention window (Delta's `VACUUM …
    * RETAIN n HOURS` shape): every snapshot whose commit's monotonized
    * wall clock is within the last `retainMs` stays replayable; versions
    * older than that are the reclaim window. Resolved via
    * [[graft.tx.TxLog.versionAtTimestamp]] against the same effective
    * clocks TIMESTAMP AS OF uses, so "retain 7 days" and "time travel 7
    * days back" agree by construction. When every retained commit is
    * younger than the horizon, everything is retained (only aged
    * never-mentioned orphans can reclaim — see [[vacuum]]'s gate).
    */
  def vacuumRetainTime(retainMs: Long, dryRun: Boolean = false): Int = {
    val horizonV =
      try txLog.versionAtTimestamp(System.currentTimeMillis() - retainMs)
      catch {
        // "no commit at or before": the whole history is younger
        case _: IllegalArgumentException => 0L
      }
    // the horizon is a PINNED version, not a count back from the head:
    // a commit racing in between this resolution and vacuum's own
    // begin() only extends the retained window upward — it can never
    // shift a version INSIDE the requested time window out of it (a
    // count would: cur moves, cur - retain overtakes the horizon)
    vacuumImpl(Some(horizonV), 0, dryRun)
  }

  def vacuum(retainVersions: Int = 0, dryRun: Boolean = false): Int =
    vacuumImpl(None, retainVersions, dryRun)

  private def vacuumImpl(horizon: Option[Long], retainVersions: Int,
      dryRun: Boolean): Int = {
    require(tx.isEmpty, "vacuum must run outside a transaction")
    // single-VACUUM lease (task: two maintenance schedulers): epoch'd
    // putIfAbsent markers make concurrent vacuums REFUSE loudly instead
    // of interleaving their reclaim/prune phases; a crashed vacuum's
    // lease goes stale and is taken over. Dry runs read only — no lease.
    val lease =
      if (dryRun) None
      else Some(txLog.acquireVacuumLease(vacuumLeaseStaleMs))
    try vacuumBody(horizon, retainVersions, dryRun, lease)
    finally lease.foreach(txLog.releaseVacuumLease)
  }

  private def vacuumBody(horizon: Option[Long], retainVersions: Int,
      dryRun: Boolean, lease: Option[String]): Int = {
    val cur = txLog.begin()
    val keep = mutable.Set[String]()
    // a previous vacuum may have pruned log history below the requested
    // window; replayable snapshots start at the retention horizon
    val from = math.max(txLog.oldestAvailableVersion,
      horizon.map(math.min(_, cur.version))
        .getOrElse(math.max(0L, cur.version - retainVersions)))
    // keep = the union of every retained version's live set. ONE
    // historical replay (beginAt(from)) seeds an evolving live-map;
    // each retained version then folds forward by its single log entry
    // — O(window) entry reads and O(window-actions) fold work, instead
    // of O(window) full snapshot replays (O(window × log-fold), which
    // made a wide retention window quadratic driver work). Equivalence
    // with the per-version replay is pinned in VacuumWindowSpec: a path
    // is kept iff it is live at SOME boundary version in [from, cur] —
    // i.e. live at `from`, or added by a window entry and still live
    // when that entry's own fold finishes (an add superseded or dropped
    // within its own commit was never visible at any boundary).
    val seed = txLog.beginAt(from)
    val liveF = mutable.Map[String,
      mutable.LinkedHashMap[String, AddDataObject]]()
    val liveD = mutable.Map[String,
      mutable.LinkedHashMap[String, AddDeleteVector]]()
    seed.tables.keys.foreach { tbl =>
      liveF(tbl) = mutable.LinkedHashMap(
        seed.liveFiles(tbl).map(a => a.path -> a): _*)
      liveD(tbl) = mutable.LinkedHashMap(
        seed.liveDvs(tbl).map(d => d.path -> d): _*)
    }
    // bloom sidecars live exactly as long as SOME retained snapshot's
    // object references them (clones sharing a sidecar keep it alive
    // from either side, like shared data objects)
    def keepFile(a: AddDataObject): Unit = {
      keep += a.path
      keep ++= a.bloomRefs.valuesIterator.map(_.path)
    }
    // every path ANY scanned entry references (added, removed, sidecar,
    // DV, CDC): once unreferenced, such a path is provably COMMITTED
    // debris — writers mint fresh uuids, so no in-flight transaction can
    // own a name the log has already recorded — and is safe to reclaim
    // immediately; unreferenced paths OUTSIDE this set go through the
    // orphanRetainMs age gate (see the vacuum scaladoc)
    val mentioned = mutable.Set[String]()
    def mention(a: Action): Unit = a match {
      case x: AddDataObject =>
        mentioned += x.path
        mentioned ++= x.bloomRefs.valuesIterator.map(_.path)
      case x: AddDeleteVector => mentioned += x.path
      case RemoveDataObject(_, p) => mentioned += p
      case x: AddCdcObject => mentioned += x.path
      case _ => ()
    }
    liveF.values.foreach(_.values.foreach(keepFile))
    liveD.values.foreach(_.values.foreach(d => keep += d.path))
    txLog.entriesBetween(from, cur.version).foreach { case (_, as) =>
      as.foreach(mention)
      as.foreach {
        case a: AddDataObject =>
          liveF.getOrElseUpdate(a.table,
            mutable.LinkedHashMap[String, AddDataObject]())(a.path) = a
        case d: AddDeleteVector =>
          liveD.getOrElseUpdate(d.table,
            mutable.LinkedHashMap[String, AddDeleteVector]())(d.path) = d
        case RemoveDataObject(t, p) =>
          liveF.get(t).foreach(_.remove(p))
          liveD.get(t).foreach(_.remove(p))
        case DropTable(t) =>
          liveF.get(t).foreach(_.clear())
          liveD.get(t).foreach(_.clear())
        case _ => ()
      }
      as.foreach {
        case a: AddDataObject
            if liveF.get(a.table).exists(_.get(a.path).contains(a)) =>
          keepFile(a)
        case d: AddDeleteVector
            if liveD.get(d.table).exists(_.get(d.path).contains(d)) =>
          keep += d.path
        case _ => ()
      }
    }
    // CDC objects live exactly as long as their commit's log entry: keep
    // those referenced by entries that survive this run's log retention
    // (below the prune horizon, entry and change record reclaim together)
    val pruneTarget = txLog.newestCheckpointAtOrBelow(from)
    txLog.entriesBetween(
      pruneTarget.getOrElse(txLog.oldestAvailableVersion), cur.version)
      .foreach { case (_, as) =>
        as.foreach(mention)
        as.foreach {
          case c: AddCdcObject => keep += c.path
          case _ => ()
        }
      }
    val now = System.currentTimeMillis()
    // newest FILE mtime inside a dir (two levels — direct-committed
    // objects nest part files under obj_<uuid>/), the dir mtime only on
    // an empty listing: object-store filesystems (S3A et al) report
    // 0/synthetic mtimes for directories, which would make every fresh
    // path look ancient; files carry real mtimes everywhere
    def newestMtime(st: org.apache.hadoop.fs.FileStatus): Long =
      if (st.isFile) st.getModificationTime
      else {
        val entries = listPath(st.getPath)
        val files = entries.filter(_.isFile) ++ entries.filter(_.isDirectory)
          .flatMap(d => listPath(d.getPath).filter(_.isFile))
        if (files.isEmpty) st.getModificationTime
        else files.map(_.getModificationTime).max
      }
    // a log-mentioned path reclaims immediately; a never-mentioned one
    // (aborted orphan OR a concurrent writer's in-flight direct write —
    // the log cannot tell them apart) only past the age gate
    def orphanAged(st: org.apache.hadoop.fs.FileStatus): Boolean =
      orphanRetainMs <= 0 || mentioned(st.getPath.getName) ||
        newestMtime(st) < now - orphanRetainMs
    // per-object FS work (the age gate's per-dir listings, the spill
    // page gates, and below the deletions) runs on a bounded pool:
    // serial driver calls at 10⁶ victims on an object store (~tens of
    // ms each) would turn a big compaction day's vacuum into hours; 16
    // concurrent metadata calls are well inside any store's rate
    // limits. Failure semantics match the serial loop: the CAUSE is
    // rethrown unwrapped (a caller matching IOException still catches
    // it), and queued work is cancelled first so deletions never race
    // the caller's recovery.
    def inParallel[A, B](items: Vector[A])(f: A => B): Vector[B] =
      if (items.length <= 1) items.map(f)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(items.length, 16),
          r => { val t = new Thread(r, "graft-vacuum")
            t.setDaemon(true); t })
        try {
          val futures = items.map(a => pool.submit(
            new java.util.concurrent.Callable[B] { def call(): B = f(a) }))
          try futures.map(_.get())
          catch {
            case e: java.util.concurrent.ExecutionException =>
              pool.shutdownNow()
              throw (if (e.getCause != null) e.getCause else e)
          }
        } finally pool.shutdown()
      }
    val candidates = listPath(rootPath)
      .filter { st =>
        val n = st.getPath.getName
        (st.isDirectory && ((n.startsWith("_table_") && !keep(n)) ||
          // a crash between a pre-round-13 compact/rewrite staging write
          // and its moves strands a _staging_* dir no log entry ever
          // references (nothing stages anymore; age-gated anyway so a
          // rolling deploy's old-binary writer mid-stage stays safe)
          n.startsWith("_staging_"))) ||
          // bloom sidecars unreferenced by every retained snapshot:
          // superseded by a re-stamp, or orphaned by an aborted tx
          (n.startsWith("_bloom_") && !keep(n))
      }.toVector
    val victims = inParallel(candidates)(st => (st, orphanAged(st)))
      .collect { case (st, true) => st }
    // _cdfspill_* pages of wide-window change-feed reads reclaim here
    // too (their lifetime contract — see changesByFile) but only past
    // an AGE horizon: a spill younger than spillRetainMs may back a
    // DataFrame some session is still consuming — the vacuuming
    // service's own wide-window feed included — and deleting it
    // mid-read fails that read. Age is the only portable liveness
    // signal an object store offers; the default (1 h) dwarfs any real
    // micro-batch. The gate applies to each PAGE dir (one per
    // changesByFile call), never the shared per-client root: on POSIX
    // every new spill refreshes the root's mtime, so a root-level gate
    // would keep a busy service's spills forever — and on a
    // creation-time store it would delete a fresh page under a 2-hour-
    // old root.
    val spillHorizon = now - spillRetainMs
    val spillRoots = listPath(rootPath).filter(st =>
      st.isDirectory && st.getPath.getName.startsWith("_cdfspill_"))
    // age = newestMtime (the newest FILE inside the page — see above): a
    // page younger than spillRetainMs may back a DataFrame some session
    // is still consuming, the vacuuming service's own wide-window feed
    // included, and deleting it mid-read fails that read. The per-page
    // mtime listings pool like the orphan gate's (a long-lived
    // change-feed service can hold thousands of pages).
    val spillPages = inParallel(
      spillRoots.toVector.flatMap(r =>
        listPath(r.getPath).filter(_.isDirectory)))(
      p => (p, newestMtime(p)))
      .collect { case (p, m) if m < spillHorizon => p }
    // dry run (VACUUM ... DRY RUN): report what a real run would
    // reclaim — objects AND log horizon — without touching anything;
    // the operator's blast-radius check before an irreversible delete
    if (!dryRun) {
      // destructive phases re-verify (and renew) the lease: a stale-
      // lease takeover by another vacuum aborts THIS one here, before
      // its deletes or its prune can race the takeover's
      lease.foreach(txLog.verifyVacuumLease)
      inParallel(victims ++ spillPages.toVector)(st =>
        deletePath(st.getPath))
      // an emptied spill root is itself reclaimed (keeps rootDir tidy;
      // the owning client lazily re-creates on its next wide diff)
      spillRoots.foreach { r =>
        if (listPath(r.getPath).isEmpty) deletePath(r.getPath)
      }
      // log retention: entries below the newest checkpoint that still
      // covers every retained snapshot are replayed by nobody — reclaim
      // them so the log (and each begin()'s listing) stays bounded. Time
      // travel below the horizon errors loudly afterwards (TxLog.beginAt)
      // — the same contract as the data-object reclaim above. The prune
      // is the ordering-sensitive phase (manifests → parts → entries),
      // so it re-verifies the lease separately: the delete phase above
      // can run long enough for a stale takeover.
      lease.foreach(txLog.verifyVacuumLease)
      pruneTarget.foreach(txLog.pruneTo)
    }
    victims.length + spillPages.length
  }

  def hasOpenTx: Boolean = tx.isDefined

  /** Effective log protocol of the open tx's snapshot (pending
    * [[SetProtocol]] actions included) — the DESCRIBE-surface for
    * capability gates.
    */
  def protocolOf: SetProtocol =
    (currentTx.actions.reverseIterator.collectFirst {
      case p: SetProtocol => p
    }).getOrElse(currentTx.snapshot.protocol)
}

object GraftClient {
  /** `st` minus the leaf at `path`; None when the removal empties the
    * struct entirely (the parent then disappears from the expected
    * insert shape — [[GraftClient.insertIdentity]]).
    */
  private[table] def removeLeafOpt(st: org.apache.spark.sql.types.StructType,
      path: Seq[String]): Option[org.apache.spark.sql.types.StructType] = {
    val fields = st.fields.flatMap { f =>
      if (f.name != path.head) Some(f)
      else if (path.length == 1) None
      else removeLeafOpt(
        f.dataType.asInstanceOf[org.apache.spark.sql.types.StructType],
        path.tail).map(ns => f.copy(dataType = ns))
    }
    if (fields.isEmpty) None
    else Some(org.apache.spark.sql.types.StructType(fields))
  }

  private[table] val BloomSidecarMagic: Int = 0x47424c31 // "GBL1"

  /** JVM-wide LRU of decoded bloom sidecars, keyed by absolute sidecar
    * path. Safe to share across clients/tables because sidecars are
    * uuid-named and immutable once written. Bounded by DECODED bytes,
    * not entries — a wide probe over thousands of big-geometry objects
    * must not grow driver heap without bound; an evicted entry costs
    * its next prober one store read.
    */
  /** Decode one sidecar stream — the static half of the reader, shared
    * by the driver probe path and the EXECUTOR-side wide-probe path
    * (each executor JVM caches what its partitions touch).
    */
  private def decodeBloomSidecar(in: java.io.InputStream,
      what: String): Map[String, BloomData] = {
    val d = new java.io.DataInputStream(
      new java.io.BufferedInputStream(in, 64 * 1024))
    require(d.readInt() == BloomSidecarMagic, s"not a bloom sidecar: $what")
    val n = d.readInt()
    (0 until n).map { _ =>
      val len = d.readInt()
      val cb = new Array[Byte](len); d.readFully(cb)
      val k = d.readInt(); val w = d.readInt()
      val words = Vector.fill(w)(d.readLong())
      new String(cb, "UTF-8") -> BloomData(k, words)
    }.toMap
  }

  /** Load + cache the sidecar at absolute path `abs` through `fs`.
    * Failures are NEGATIVE-CACHED as "no usable blooms": sidecars are
    * uuid-named and immutable, so a reclaimed one never comes back at
    * its path — without the entry an over-held reader (the vacuum
    * degrade case) would re-issue the failing store read for EVERY
    * (object, probe value) pair. A transient store error costs only
    * pruning on this object for the cache entry's lifetime, never a
    * wrong answer.
    */
  private[table] def loadBloomSidecarAt(abs: String,
      fs: org.apache.hadoop.fs.FileSystem): Option[Map[String, BloomData]] =
    bloomSidecarCache.get(abs).orElse {
      try {
        val in = fs.open(new org.apache.hadoop.fs.Path(abs))
        val m = try decodeBloomSidecar(in, abs) finally in.close()
        bloomSidecarCache.put(abs, m)
        Some(m)
      } catch {
        // negative-cache only DEFINITIVE failures: a missing sidecar
        // (reclaimed by vacuum past this reader's snapshot — the
        // documented degrade) and a CORRUPT one (decode require /
        // truncation EOF — objects are immutable, so a bad decode today
        // is a bad decode forever; without the cache a hot object's
        // corrupt sidecar would be re-downloaded and re-failed on every
        // probe). A transient store/network failure stays UNcached: on
        // a long-lived executor one blip must not silently disable
        // bloom pruning for that object for the JVM lifetime — the next
        // probe simply retries the read.
        case _: java.io.FileNotFoundException
            | _: java.nio.file.NoSuchFileException
            | _: java.io.EOFException
            | _: IllegalArgumentException =>
          bloomSidecarCache.put(abs, Map.empty)
          None
        case scala.util.control.NonFatal(_) => None
      }
    }

  private[graft] object bloomSidecarCache {
    private val MaxBytes = 64L << 20
    private var bytes = 0L
    private val m = new java.util.LinkedHashMap[
        String, Map[String, BloomData]](64, 0.75f, true)
    // entry cost includes the KEY and a floor, so negative-cache
    // entries (Map.empty for unreadable sidecars) still count toward
    // MaxBytes — a 10⁶-sidecar vacuum-degrade scenario must evict,
    // not accumulate a zero-weight entry per reclaimed path
    private def sizeOf(k: String, v: Map[String, BloomData]): Long =
      64L + k.length +
        v.iterator.map { case (c, b) =>
          64L + c.length + b.words.length * 8L }.sum
    def get(k: String): Option[Map[String, BloomData]] =
      synchronized(Option(m.get(k)))
    def put(k: String, v: Map[String, BloomData]): Unit = synchronized {
      if (m.containsKey(k)) return
      m.put(k, v)
      bytes += sizeOf(k, v)
      val it = m.entrySet().iterator()
      while (bytes > MaxBytes && it.hasNext) {
        val e = it.next()
        if (e.getKey != k) {
          bytes -= sizeOf(e.getKey, e.getValue); it.remove()
        }
      }
    }
    private[graft] def clear(): Unit = synchronized { m.clear(); bytes = 0L }
  }

  /** Loud cap on objects one copy-on-write delete may touch — ~10× a
    * 100 TB table's object count at 128 MB objects, so it only trips on
    * pathology (an unscoped predicate over a hyper-fragmented table),
    * not on real work. See the driver-memory contract in deleteWhereImpl.
    */
  val MaxDeleteTouchedObjects: Int = 8000000

  /** Table property enabling the FILE-LEVEL change feed (Delta's
    * `delta.enableChangeDataFeed`): mutating commits record their
    * changed rows as CDC objects, so `table_changes` works without key
    * columns. Costs one parquet write per mutating commit, sized by the
    * changed rows.
    */
  val CdfProperty = "graft.enableChangeDataFeed"
  /** Change-classification column of the file-level feed. */
  val ChangeTypeCol = "_change_type"

  /** SQL reference for a (possibly dotted) column path: each segment
    * backquoted separately, so `meta.ts` parses as nested field access
    * while a weirdly-named flat column still round-trips.
    */
  private[table] def sqlRef(column: String): String =
    column.split('.').map(seg => s"`$seg`").mkString(".")

  /** [[GraftClient.changesByFile]] unions at most this many per-commit
    * pieces into one plan; wider windows page through a parquet spill
    * (override: `spark.graft.cdf.unionPageSize`).
    */
  val CdfUnionPageSize = 64
  /** Opt-in write-time NDV freshness: inserts on an ANALYZEd table
    * sketch their objects immediately and refold the table estimate.
    */
  val AutoAnalyzeProperty = "graft.autoAnalyze"

  /** Table property registering WRITE-TIME bloom columns (Delta's
    * `delta.bloomFilter` index analog): a csv of column paths (nested
    * dotted leaves included). Every insert path stamps fresh objects
    * with blooms for these columns inline (one aggregation over the
    * rows just written, all columns in one pass), compaction OR-merges
    * input blooms metadata-only, and the clustering/REORG rewrites
    * re-stamp their outputs — so a registered table's point-lookup tier
    * never silently degrades to stats-only between [[GraftClient
    * .buildBloom]] maintenance passes. Set via [[GraftClient
    * .registerBlooms]] (which also blooms existing history) or plain
    * SET TBLPROPERTIES (new writes only).
    */
  val BloomColumnsProperty = "graft.bloom.columns"
  /** Write-time bloom geometry: bits per object bloom (positive
    * multiple of 64; ~10× expected per-object distincts for ~1% FP)
    * and seeded-hash count. Table-wide — per-object blooms built with
    * different geometries coexist (probes adapt per bloom), but
    * compaction can only OR-merge same-geometry inputs.
    */
  val BloomBitsProperty = "graft.bloom.bits"
  /** Default per-object bloom width CAP (bits). The actual width is
    * DERIVED per object (~10 bits/row, [[bloomBitsFor]]) and this only
    * clamps it, so the default must be high enough that the ~1 % FP
    * target engages for real object sizes: 2²⁰ bits = 128 KiB covers
    * objects to ~100k rows at full fidelity (bitsets live in sidecar
    * store objects — the log and driver snapshot stay O(objects)
    * regardless). Tables that want the legacy tiny floor pass
    * numBits=1024 explicitly.
    */
  val DefaultBloomCapBits: Int = 1 << 20
  val BloomKProperty = "graft.bloom.k"

  /** IN lists at or under this many values prune through the bounded
    * probe-hash job + per-object disjunction in [[GraftClient.prunedObjects]];
    * wider lists route through the driver-side [[WideProbeIndex]] probe
    * (O(log objects + hits) per value, hashes evaluated driver-side) —
    * the same 64-value boundary `scanSemi` uses between its driver and
    * distributed tiers.
    */
  val InListNarrowCap: Int = 64

  /** Key-row ceiling under which a scan reads its DV keys on the driver
    * and masks rows in place ([[applyDvs]]), and the DV-shrink semi/anti
    * joins and the merge/key-delete semi join still carry a forced
    * `broadcast()` hint. Past it the hint is DROPPED and Spark
    * plans a shuffled join (AQE may still choose broadcast if the
    * runtime size is genuinely small — the gate only removes the
    * *forced* driver-side collect). 4 M provenance keys ≈ 64 MB raw /
    * ~128 MB as a HashedRelation — the last safe broadcast size; a
    * table carrying more un-compacted DV rows, or a fact-sized CDC
    * merge source, must not be collected to the driver. The DV side is
    * priced metadata-only (Σ `AddDeleteVector.numRows` from the log —
    * no extra job); the merge side from the pinned key count (one
    * aggregate over the persisted key set, which also materializes the
    * pin independent of downstream job order). Override:
    * `spark.graft.broadcastKeyRowGate`.
    */
  val BroadcastKeyRowGate: Long = 4L * 1000 * 1000

  /** TEST observability: how many live objects the last merge's DV scan
    * actually read, after span + point-set key pruning (-1 when the
    * merge had no delete keys) — the merge-side mirror of
    * [[graft.sql.GraftCatalog.lastScanObjectCount]].
    */
  @volatile private[graft] var lastMergeProbedObjects: Int = -1

  /** TEST observability: the last merge/key-delete's pinned delete-key
    * count (-1 before any merge), and whether that key set rode a
    * forced broadcast hint into the semi join (false ⇒ shuffled plan).
    */
  @volatile private[graft] var lastMergeDelKeyCount: Long = -1L
  @volatile private[graft] var lastMergeKeysBroadcast: Boolean = true

  /** The numeric rank of a string in the z grid's string-axis space —
    * the driver-side twin of `zRankRawExpr`'s SQL
    * (`CONV(rpad(substring(hex(encode(s, 'UTF-8')), 1, 13), 13, '0'),
    * 16, 10)`): the first 13 hex chars (6.5 bytes) of the UTF-8
    * encoding, zero-padded, as a base-16 value. Monotone in UTF-8 byte
    * order; max value 2⁵²−1 is exact in a Double. Used to compare
    * footer string min/max stats against stored axis bounds
    * ([[GraftClient.zClusterStaleness]] via `outOfSpanMass`).
    */
  private[graft] def stringZRank(s: String): Double = {
    val hex = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .iterator.map(b => f"${b & 0xff}%02X").mkString
    val p = hex.substring(0, math.min(13, hex.length)).padTo(13, '0')
    java.lang.Long.parseLong(p, 16).toDouble
  }

  /** Resolve a possibly differently-cased dotted column path to the
    * schema's canonical spelling — exact match wins, otherwise the
    * UNIQUE case-insensitive hit (two fields differing only by case
    * stay unresolvable rather than guessing). Spark resolves
    * identifiers case-insensitively by default, so declared clustering
    * columns must too; the canonical name is what gets persisted.
    * None when any segment fails to resolve.
    */
  private[graft] def canonicalColumnPath(schema: StructType,
      path: String): Option[String] = {
    def go(dt: DataType, segs: List[String],
        acc: List[String]): Option[String] = (dt, segs) match {
      case (_, Nil) => Some(acc.reverse.mkString("."))
      case (st: StructType, s :: rest) =>
        st.fieldNames.find(_ == s).orElse {
          val hits = st.fieldNames.filter(_.equalsIgnoreCase(s))
          if (hits.length == 1) Some(hits.head) else None
        }.flatMap(n => go(st(st.fieldIndex(n)).dataType, rest, n :: acc))
      case _ => None
    }
    go(schema, path.split('.').toList, Nil)
  }

  /** Structural (name + type) equality, ignoring nullability and field
    * metadata at every depth — the ONE comparator behind both the
    * insert-contract check and the streaming source's mid-stream
    * evolution check (a parquet-derived nullability difference must
    * never false-trip either).
    */
  private[graft] def sameTypeIgnoringNullability(a: DataType,
      b: DataType): Boolean = (a, b) match {
    case (x: StructType, y: StructType) =>
      x.length == y.length && x.fields.zip(y.fields).forall {
        case (f, g) => f.name == g.name &&
          sameTypeIgnoringNullability(f.dataType, g.dataType)
      }
    case (ArrayType(x, _), ArrayType(y, _)) =>
      sameTypeIgnoringNullability(x, y)
    case (MapType(xk, xv, _), MapType(yk, yv, _)) =>
      sameTypeIgnoringNullability(xk, yk) &&
        sameTypeIgnoringNullability(xv, yv)
    case _ => a == b
  }

  /** Field-metadata key marking a declared partition column (the SQL
    * catalog's `PARTITIONED BY` and [[GraftClient.alterPartitioning]]
    * both write it; it rides the log's schema serialization like column
    * mapping's physical names do).
    */
  private val PartitionKey = "graftPartition"
  /** Ordinal of the column within the partition spec (absent on tables
    * created before multi-column support ⇒ 0, the only column).
    */
  private val PartitionOrdKey = "graftPartitionOrd"

  /** The partition spec `schema`'s field markers declare, in spec
    * order; empty when unpartitioned. The one reader of the markers.
    */
  def partitionSpecOf(schema: StructType): Seq[String] =
    schema.fields.filter(f => f.metadata.contains(PartitionKey) &&
        f.metadata.getBoolean(PartitionKey))
      .sortBy(f => if (f.metadata.contains(PartitionOrdKey))
        f.metadata.getLong(PartitionOrdKey) else 0L)
      .map(_.name).toSeq

  /** `schema` with `cols` as its partition spec: the markers on `cols`,
    * in order, and on no other field. The one writer of the markers.
    */
  def withPartitionSpec(schema: StructType, cols: Seq[String]): StructType = {
    require(cols.distinct == cols,
      s"duplicate partition column in: ${cols.mkString(", ")}")
    cols.foreach(c => require(schema.fieldNames.contains(c),
      s"no such partition column: $c"))
    val ord = cols.zipWithIndex.toMap
    StructType(schema.fields.map { f =>
      val b = new MetadataBuilder().withMetadata(f.metadata)
        .remove(PartitionKey).remove(PartitionOrdKey)
      ord.get(f.name).foreach { i =>
        b.putBoolean(PartitionKey, true)
        b.putLong(PartitionOrdKey, i.toLong)
      }
      f.copy(metadata = b.build())
    })
  }

  /** Field-metadata key holding a generated column's SQL expression
    * (Delta's `GENERATED ALWAYS AS` semantics) — set by
    * [[GraftClient.setGeneratedColumn]], computed by
    * [[GraftClient.insertGenerated]], and consulted by `scanBounded` for
    * derived partition pruning.
    */
  val GeneratedAsKey = "graftGeneratedAs"

  /** Default bin size for [[GraftClient.compact]], in rows. Objects at or
    * under half this are compaction candidates; bins pack up to this many
    * rows. Sized so a bin of typical ~1 KiB rows lands in the
    * hundreds-of-MiB parquet-object sweet spot; callers with wide rows
    * (embeddings, binary payloads) should pass a smaller target.
    */
  val DefaultCompactTargetRows: Long = 4L * 1024 * 1024

  /** Isolation level for [[GraftClient.commitTxRetrying]]'s optimistic
    * rebase (the Delta-style pair): `WriteSerializable` checks only the
    * write footprint; `Serializable` additionally aborts when a
    * concurrent commit touched any table this tx READ.
    */
  sealed trait Isolation
  object Isolation {
    case object WriteSerializable extends Isolation
    case object Serializable extends Isolation
  }

  /** Aggregate shapes the transaction log can answer without opening a
    * single data object — see [[GraftClient.metadataAggregate]].
    */
  sealed trait MetaAgg
  case object MetaCount extends MetaAgg
  final case class MetaCountCol(column: String) extends MetaAgg
  final case class MetaMin(column: String) extends MetaAgg
  final case class MetaMax(column: String) extends MetaAgg
}
