package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.connector.catalog.{Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.graftshim.StreamingShim
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sql.GraftTable
import graft.table.GraftClient

/** The Spark DataSource surface of the engine — `format("graft")` for both
  * batch and streaming reads of transactional tables, registered via
  * ServiceLoader (META-INF/services), so user code never imports graft
  * classes:
  *
  *   spark.read.format("graft")
  *     .option("table", "events").load(storeRoot)        // batch
  *   spark.read.format("graft").option("table", "t")
  *     .option("versionAsOf", "3").load(storeRoot)       // time travel
  *   spark.readStream.format("graft")
  *     .option("table", "events").load(storeRoot)        // micro-batch
  *
  * Batch reads of an existing table are DataSource V2: as a
  * [[TableProvider]], [[getTable]] returns the SQL catalog's
  * [[graft.sql.GraftTable]] (the time-travel options resolved to its
  * `asOf`), so `format("graft")` and SQL plan the same
  * [[graft.sql.GraftBatchScan]] — stats/bloom/IN/IS NULL file skipping,
  * parquet pushdown, columnar batches, runtime filtering, log-answered
  * COUNT/MIN/MAX and CBO statistics, with every filter re-applied by
  * Spark above the scan. For the batch change feed, a read of a missing
  * table, every batch write and every stream, [[getTable]] returns a
  * table with no capabilities and Spark falls back to the V1 provider
  * methods below (Delta's `DeltaDataSource` keeps its V1 paths the same
  * way).
  *
  * Streaming reads treat the transaction log as the offset log: offset v
  * = "all commits with id < v", so each micro-batch is exactly the
  * objects the commits in (lastOffset, newOffset] added —
  * [[GraftClient.addedBetween]]. Append-only by contract, like Delta's
  * streaming source: a delete/rewrite/compaction inside a batch window
  * fails the stream unless `ignoreChanges=true` opts into at-least-once
  * replay. The reference has no streaming surface at all (SURVEY.md §2.2).
  */
final class GraftSource extends TableProvider with RelationProvider
    with CreatableRelationProvider with StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  private def opt(parameters: Map[String, String], key: String): String =
    parameters.getOrElse(key, throw new IllegalArgumentException(
      s"graft source: option '$key' is required"))

  /** Empty, as Delta's: [[getTable]] reads the schema from the same
    * snapshot as the rest of the table, so no second log replay.
    */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()

  /** A plain or time-travel batch read of an existing table → the
    * catalog's [[GraftTable]]. `timestampAsOf` (Delta parity) is epoch
    * millis or an ISO-8601 instant/date-time, resolved to the greatest
    * version whose commit ts is at-or-before it — metadata-only. Anything
    * else → [[GraftSource.V1Only]].
    */
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val parameters = CaseInsensitiveMap(properties.asScala.toMap)
    (parameters.get("path"), parameters.get("table")) match {
      case (Some(root), Some(table)) if !changeFeed(parameters) =>
        val byVersion = parameters.get("versionAsOf").map(_.toLong)
        val byTs = parameters.get("timestampAsOf").map { raw =>
          new GraftClient(SparkSession.active, root)
            .versionAt(GraftSource.parseTimestampMillis(raw))
        }
        require(byVersion.isEmpty || byTs.isEmpty,
          "graft: versionAsOf and timestampAsOf are mutually exclusive")
        GraftTable.load(root, table, byVersion.orElse(byTs))
          .getOrElse(GraftSource.V1Only)
      case _ => GraftSource.V1Only
    }
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation =
    if (changeFeed(parameters))
      // keyColumns present → keyed snapshot diff; absent → file-level
      // per-commit CDC records (requires the table property
      // graft.enableChangeDataFeed on mutating commits)
      GraftChangesRelation(sqlContext, opt(parameters, "path"),
        opt(parameters, "table"), keyColumnsOpt(parameters),
        parameters.get("startingversion")
          .orElse(parameters.get("startingVersion")).map(_.toLong)
          .getOrElse(0L),
        parameters.get("endingversion")
          .orElse(parameters.get("endingVersion")).map(_.toLong),
        preimages(parameters))
    else {
      // any other read of an existing table plans through getTable's
      // GraftTable; this one found no table (or no path/table option),
      // and the client's lookup reports that
      val table = opt(parameters, "table")
      GraftSource.withClient(sqlContext, opt(parameters, "path"))(
        _.schemaOf(table))
      throw new IllegalStateException(
        s"graft: table $table was created while this read was planned; " +
          "run the read again")
    }

  /** `df.write.format("graft").mode(...)` — one transactional commit per
    * save. Append inserts (creating the table on first write); Overwrite
    * retires every live object/DV in the same commit that adds the new
    * data (readers see the old or the new snapshot, never a mix — and the
    * old version stays time-travelable); ErrorIfExists/Ignore follow
    * their SaveMode contracts. Retries on concurrent-writer conflicts
    * via the rebase path.
    */
  override def createRelation(sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode, parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val root = opt(parameters, "path")
    val table = opt(parameters, "table")
    val c = new GraftClient(sqlContext.sparkSession, root)
    c.newTx()
    val exists = c.tables.contains(table)
    (mode, exists) match {
      case (SaveMode.ErrorIfExists, true) =>
        c.rollback()
        throw new IllegalArgumentException(
          s"table exists: $table (mode ErrorIfExists)")
      case (SaveMode.Ignore, true) => c.rollback()
      case (m, ex) =>
        // idempotent batch writes (Delta's txnAppId/txnVersion writer
        // options): a retried job re-running the same (appId, version)
        // write is a NO-OP — the watermark committed atomically with the
        // first success, so the check-and-skip is exactly-once, not
        // best-effort; a fresh version commits its rows + the advanced
        // watermark in one tx (same-slot watermarks are a commit
        // conflict, so concurrent same-appId writers cannot interleave)
        val txnApp = parameters.get("txnappid")
          .orElse(parameters.get("txnAppId"))
        val txnVer = parameters.get("txnversion")
          .orElse(parameters.get("txnVersion")).map(_.toLong)
        require(txnApp.isEmpty == txnVer.isEmpty,
          "graft: txnAppId and txnVersion must be set together")
        if (txnApp.exists(a => c.lastTxn(a).exists(_ >= txnVer.get)))
          c.rollback() // already applied: nothing lands, nothing errors
        else {
          if (!ex) c.createTable(table, data.schema)
          if (m == SaveMode.Overwrite && ex) c.truncate(table)
          // option("mergeSchema", "true"): frame columns / struct leaves
          // the table lacks evolve it first (metadata-only), omitted
          // nullable columns write null — Delta's mergeSchema contract
          val mergeSchema = parameters.get("mergeschema")
            .orElse(parameters.get("mergeSchema")).exists(_.toBoolean)
          if (mergeSchema && ex) c.insertEvolving(table, data)
          else c.insert(table, data)
          txnApp.foreach(a => c.setTxn(a, txnVer.get))
          c.commitTxRetrying()
        }
    }
    // re-cache DataFrames cached over a plain format("graft") read of
    // this table (options path and table only), so they see the write
    val session = sqlContext.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!session.sharedState.cacheManager.isEmpty)
      GraftTable.load(root, table, None).foreach { t =>
        session.sharedState.cacheManager.recacheByPlan(session,
          DataSourceV2Relation.create(t, None, None,
            new CaseInsensitiveStringMap(
              Map("path" -> root, "table" -> table).asJava)))
      }
    // Spark only reads the returned relation's schema; the table is read
    // back through getTable
    val ctx = sqlContext
    new BaseRelation {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = data.schema
    }
  }

  private def preimages(parameters: Map[String, String]): Boolean =
    parameters.get("preimages").orElse(parameters.get("preImages"))
      .exists(_.toBoolean)

  private def changeFeed(parameters: Map[String, String]): Boolean =
    parameters.get("changefeed").orElse(parameters.get("changeFeed"))
      .exists(_.toBoolean)

  private def keyColumns(parameters: Map[String, String]): Seq[String] =
    parameters.get("keycolumns").orElse(parameters.get("keyColumns"))
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(throw new IllegalArgumentException(
        "graft: option 'keyColumns' is required " +
          "(streaming changeFeed source / upsert sink)"))

  /** Like [[keyColumns]] but absence is legal: the batch change feed
    * falls back to FILE-LEVEL per-commit CDC records.
    */
  private def keyColumnsOpt(parameters: Map[String, String]): Seq[String] =
    parameters.get("keycolumns").orElse(parameters.get("keyColumns"))
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)

  /** Optional `startingVersion` (a version number, or `"latest"` =
    * changes from stream start on) / `startingTimestamp` (resolved via
    * versionAfterTimestamp at stream start) for a NEW stream. Without it
    * a fresh stream seeds at version 0 — on any table whose log head was
    * pruned (checkpoint + vacuum retention) that fails the
    * window-availability check on the very first batch with no way to
    * start later (remedy: `startingVersion`, or `initialSnapshot` on the
    * plain row source).
    */
  private def streamStart(parameters: Map[String, String])
      : Option[GraftSource.StreamStart] = {
    val v = parameters.get("startingversion")
      .orElse(parameters.get("startingVersion"))
    val ts = parameters.get("startingtimestamp")
      .orElse(parameters.get("startingTimestamp"))
      .map(GraftSource.parseTimestampMillis)
    require(v.isEmpty || ts.isEmpty,
      "graft: startingVersion and startingTimestamp are mutually exclusive")
    v.map {
      case s if s.equalsIgnoreCase("latest") =>
        GraftSource.StreamStart.AtLatest
      case s => GraftSource.StreamStart.AtVersion(s.toLong)
    }.orElse(ts.map(GraftSource.StreamStart.AtTimestamp(_)))
  }

  private def trackLoc(parameters: Map[String, String]): Option[String] =
    parameters.get("schematrackinglocation")
      .orElse(parameters.get("schemaTrackingLocation"))

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    // with a schemaTrackingLocation, the PLANNED schema is the tracked
    // one (persisted by a previous run when the table evolved under
    // it), so a plain restart adopts the evolution with no operator
    // step — Delta's schemaTrackingLocation contract. All three stream
    // shapes participate: the plain row source, the keyed change feed,
    // and the file-level CDC feed (the tracked file stores the BASE
    // table schema; the feed columns re-decorate below).
    val base = trackLoc(parameters)
      .flatMap(l => GraftStreamSource.readTracked(sqlContext, l))
      .getOrElse(GraftSource.withClient(sqlContext,
        opt(parameters, "path"))(_.schemaOf(opt(parameters, "table"))))
    (shortName(),
      if (changeFeed(parameters) && keyColumnsOpt(parameters).isEmpty)
        StructType(base.fields ++ Seq(
          org.apache.spark.sql.types.StructField(
            GraftClient.ChangeTypeCol,
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("_commit_version",
            org.apache.spark.sql.types.LongType, nullable = false)))
      else if (changeFeed(parameters))
        StructType(base.fields :+ org.apache.spark.sql.types
          .StructField("_change", org.apache.spark.sql.types.StringType))
      else base)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val root = opt(parameters, "path")
    // AtLatest pins to a persisted concrete version here (replay-stable
    // across recovery and restart — see [[GraftSource.pinLatest]])
    val start = GraftSource.pinLatest(sqlContext, metadataPath,
      streamStart(parameters), root)
    def flag(name: String): Boolean =
      parameters.get(name.toLowerCase).orElse(parameters.get(name))
        .exists(_.toBoolean)
    val initialSnapshot = flag("initialSnapshot")
    val maxObjects = parameters.get("maxobjectspertrigger")
      .orElse(parameters.get("maxObjectsPerTrigger")).map(_.toInt)
    val maxRows = parameters.get("maxrowspertrigger")
      .orElse(parameters.get("maxRowsPerTrigger")).map(_.toLong)
    if (changeFeed(parameters) && keyColumnsOpt(parameters).isEmpty)
      new GraftFileChangeFeedSource(sqlContext, root,
        opt(parameters, "table"), start, trackLoc(parameters),
        initialSnapshot, maxObjects, maxRows)
    else if (changeFeed(parameters))
      new GraftChangeFeedSource(sqlContext, root,
        opt(parameters, "table"), keyColumns(parameters),
        preimages(parameters), start, trackLoc(parameters),
        initialSnapshot, maxObjects, maxRows)
    else
      new GraftStreamSource(sqlContext, root,
        opt(parameters, "table"),
        flag("ignoreChanges"), flag("ignoreDeletes"),
        maxObjects, maxRows, start, trackLoc(parameters), initialSnapshot)
  }

  /** `df.writeStream.format("graft")` — every micro-batch is ONE committed
    * transaction carrying both its rows and a [[graft.tx.SetTxn]]
    * watermark, so a post-failure batch retry sees its own watermark in
    * the snapshot it would write into and skips: exactly-once, not
    * at-least-once, without any sink-side dedup state.
    */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft sink supports Append output mode only, got $outputMode")
    val table = opt(parameters, "table")
    val mode = parameters.getOrElse("mode", "append")
    new GraftSink(sqlContext, opt(parameters, "path"), table,
      parameters.get("txnappid").orElse(parameters.get("txnAppId"))
        .getOrElse(s"sink_$table"),
      parameters.get("autocompact").orElse(parameters.get("autoCompact"))
        .map(_.toInt).getOrElse(0),
      mode,
      if (mode == "upsert") keyColumns(parameters) else Nil,
      parameters.get("deletecolumn").orElse(parameters.get("deleteColumn")),
      parameters.get("evolveschema").orElse(parameters.get("evolveSchema"))
        .exists(_.toBoolean))
  }
}

private[graft] object GraftSource {
  /** What [[GraftSource.getTable]] returns for everything the DSv2
    * [[GraftTable]] does not serve: with no capabilities, Spark plans the
    * read, write or stream through the V1 provider methods.
    */
  object V1Only extends Table {
    override def name(): String = "graft (V1)"
    override def schema(): StructType = new StructType()
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.Collections.emptySet()
  }

  private[sources] def withClient[A](sqlContext: SQLContext, root: String)(
      f: GraftClient => A): A = {
    val c = new GraftClient(sqlContext.sparkSession, root)
    c.newTx()
    try f(c) finally c.rollback() // result DataFrames stay valid: immutable files
  }

  /** Where a FRESH stream (no checkpointed offset yet) starts: a pinned
    * log version, a wall-clock instant (resolved via
    * versionAfterTimestamp at first use), or LATEST — "changes from now
    * on", Delta's `startingVersion = "latest"` — resolved against the
    * live log the first time the source needs it.
    */
  sealed trait StreamStart
  object StreamStart {
    final case class AtVersion(v: Long) extends StreamStart
    final case class AtTimestamp(ms: Long) extends StreamStart
    case object AtLatest extends StreamStart
  }

  /** Resolve a seed version from an optional [[StreamStart]]. */
  def seedOf(start: Option[StreamStart],
      client: => graft.table.GraftClient): Long = start match {
    case Some(StreamStart.AtVersion(v)) => v
    case Some(StreamStart.AtTimestamp(ts)) => client.versionAfter(ts)
    case Some(StreamStart.AtLatest) => client.latestVersion
    case None => 0L
  }

  /** Pin `AtLatest` to a concrete version ONCE per stream, replay-stably:
    * the resolved "latest at stream start" persists under the query's
    * source metadata dir (Spark hands every V1 source a checkpoint-scoped
    * `metadataPath` for exactly this), so a crash-recovery replay of
    * batch 0 — and any re-instantiation of the source from the same
    * checkpoint — resolves the SAME seed instead of racing the live log
    * (a lazy in-memory resolution could land PAST an already-offered end
    * offset when commits race in, silently dropping the window between
    * stream start and first resolution, and a restart would re-resolve
    * to a different version than the original batch served). AtVersion /
    * AtTimestamp are already deterministic against the log and pass
    * through; the create-if-absent is last-writer-converges (both racers
    * then re-read the same persisted value).
    */
  def pinLatest(sqlContext: SQLContext, metadataPath: String,
      start: Option[StreamStart], root: String): Option[StreamStart] =
    start match {
      case Some(StreamStart.AtLatest) =>
        val p = new org.apache.hadoop.fs.Path(metadataPath,
          "graft_latest_seed")
        val fs = p.getFileSystem(
          sqlContext.sparkSession.sessionState.newHadoopConf())
        def readIt(): Long = {
          val in = fs.open(p)
          try new String(in.readAllBytes(), "UTF-8").trim.toLong
          finally in.close()
        }
        val v =
          if (fs.exists(p)) readIt()
          else {
            val resolved = new GraftClient(sqlContext.sparkSession, root)
              .latestVersion
            val tmp = new org.apache.hadoop.fs.Path(metadataPath,
              s"graft_latest_seed.tmp-${java.util.UUID.randomUUID()}")
            val out = fs.create(tmp, true)
            try out.write(resolved.toString.getBytes("UTF-8"))
            finally out.close()
            if (!fs.rename(tmp, p)) fs.delete(tmp, false)
            readIt()
          }
        Some(StreamStart.AtVersion(v))
      case other => other
    }

  /** Epoch millis, an ISO-8601 instant, or a space/'T'-separated local
    * date-time (interpreted as UTC) — the accepted forms for every
    * timestamp option on this source.
    */
  def parseTimestampMillis(raw: String): Long =
    raw.toLongOption.getOrElse {
      try java.time.Instant.parse(raw).toEpochMilli
      catch {
        case _: java.time.format.DateTimeParseException =>
          java.time.LocalDateTime.parse(raw.replace(' ', 'T'))
            .atZone(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
      }
    }
}

/** Shared offset machinery for the three log-backed streaming sources:
  * commit-aligned rate caps (`maxObjectsPerTrigger` /
  * `maxRowsPerTrigger`), native `Trigger.AvailableNow` draining, and
  * restart high-water re-sync.
  *
  * The offset domain is log versions, so a cap is commit-aligned by
  * construction (a commit's changes never split across batches) and
  * always admits at least one commit (a single over-sized commit still
  * drains). The cap walk reads ONLY the unconsumed window — O(window)
  * log reads, not O(log). `Trigger.AvailableNow` pins the end version
  * when the query starts, so the drain terminates even while new
  * commits keep landing; without the [[SupportsTriggerAvailableNow]]
  * mixin Spark falls back to single-batch Trigger.Once execution, which
  * under a rate limit would stop after the FIRST slice of the backlog —
  * silent data loss for a drain job.
  */
private[sources] trait GraftLogOffsets extends Source
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  protected def client: GraftClient
  protected def table: String
  protected def seedVersion: Long
  protected def maxObjectsPerTrigger: Option[Int]
  protected def maxRowsPerTrigger: Option[Long]

  /** Is this an `initialSnapshot` stream? Its batch 0 is ONE snapshot
    * scan, not a commit-window replay — the caps start applying from
    * the tail batches (walking the history for batch 0 would also fail
    * on exactly the retention-pruned tables initialSnapshot exists for).
    */
  protected def snapshotSeeded: Boolean = false

  /** Count [[graft.tx.AddCdcObject]] volume toward the caps: the change
    * feeds replay change records, the plain row source replays adds only.
    */
  protected def capCountsCdc: Boolean = false

  // highest log version this source has offered or served — the base the
  // next rate-limited offset advances from
  @volatile protected var highWater: Long = -1L

  // Trigger.AvailableNow's pinned end: batches never reach past it
  @volatile private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(client.latestVersion)

  /** Advertise the constructor caps in ReadLimit terms. The values are
    * not re-parsed from the limit handed back to [[latestOffset]] — the
    * caps live in the constructor — but MicroBatchExecution requires the
    * advertised and applied limits to agree.
    */
  override def getDefaultReadLimit: ReadLimit =
    (maxObjectsPerTrigger, maxRowsPerTrigger) match {
      case (Some(o), None) => ReadLimit.maxFiles(o)
      case (None, Some(r)) => ReadLimit.maxRows(r)
      case (Some(o), Some(r)) =>
        ReadLimit.compositeLimit(Array(ReadLimit.maxFiles(o),
          ReadLimit.maxRows(r)))
      case _ => ReadLimit.allAvailable()
    }

  /** The admission-control offset surface (used by MicroBatchExecution
    * for EVERY trigger once the mixin is present): same logic as
    * [[getOffset]], with the checkpointed start re-syncing the
    * high-water mark after a restart.
    */
  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    Option(start).foreach { o =>
      highWater = math.max(highWater, versionOfV2(o))
    }
    getOffset.orNull
  }

  private def versionOfV2(o: OffsetV2): Long = o match {
    case LongOffset(v) => v
    case other => other.json.toLong
  }

  protected def versionOf(o: Offset): Long = o match {
    case LongOffset(v) => v
    case other => other.json.toLong // SerializedOffset after a restart
  }

  override def getOffset: Option[Offset] = {
    val c = client
    val latest = {
      val l = c.latestVersion
      availableNowEnd.fold(l)(math.min(l, _))
    }
    if (latest == 0L) return None
    val offered =
      if (maxObjectsPerTrigger.isEmpty && maxRowsPerTrigger.isEmpty) latest
      else if (snapshotSeeded && highWater < 0L) latest
      else {
        val base = math.max(highWater, seedVersion)
        if (base >= latest) latest
        else {
          // stop before the commit that would push the batch past
          // EITHER cap (objects and/or rows — Delta's
          // maxFiles/maxBytesPerTrigger pair), always taking at least
          // one commit
          var v = base
          var objs = 0
          var rows = 0L
          var stopped = false
          c.historyBetween(base, latest).foreach { case (id, actions) =>
            if (!stopped) {
              val w = actions.collect {
                case a: graft.tx.AddDataObject if a.table == table =>
                  (1, a.numRows)
                case a: graft.tx.AddCdcObject
                    if capCountsCdc && a.table == table =>
                  (1, a.numRows)
              }
              val n = w.length
              val r = w.map(_._2).sum
              val past =
                maxObjectsPerTrigger.exists(m => objs + n > m) ||
                  maxRowsPerTrigger.exists(m => rows + r > m)
              if ((objs > 0 || rows > 0) && past) stopped = true
              else { objs += n; rows += r; v = id + 1 }
            }
          }
          math.min(math.max(v, base + 1), latest)
        }
      }
    highWater = math.max(highWater, offered)
    Some(LongOffset(offered))
  }

  override def stop(): Unit = {}
}

/** Streaming CHANGE DATA FEED source — `readStream.format("graft")
  * .option("changeFeed", "true").option("keyColumns", "id")`: each
  * micro-batch is the keyed latest-state diff of its commit window
  * ([[graft.table.GraftClient.changesBetween]]) with a `_change` column
  * ∈ insert/update/delete, so a downstream consumer can incrementally
  * materialize the table — deletes and rewrites INCLUDED, unlike the
  * append-only row source. The first batch (offset 0 → v) diffs against
  * the empty table: all inserts. `initialSnapshot = true` makes the
  * first batch the keyed latest STATE at stream start served as inserts
  * instead (one snapshot scan, no history walk) — the bootstrap path for
  * replicating an EXISTING table whose log head retention pruned.
  */
final class GraftChangeFeedSource(sqlContext: SQLContext, root: String,
    protected val table: String, keyCols: Seq[String],
    preimages: Boolean = false,
    start: Option[GraftSource.StreamStart] = None,
    schemaTrackingLocation: Option[String] = None,
    initialSnapshot: Boolean = false,
    protected val maxObjectsPerTrigger: Option[Int] = None,
    protected val maxRowsPerTrigger: Option[Long] = None)
    extends Source with GraftLogOffsets {

  require(!initialSnapshot || start.isEmpty,
    "graft: initialSnapshot and startingVersion/startingTimestamp are " +
      "mutually exclusive (an explicit start skips the snapshot)")

  override protected def snapshotSeeded: Boolean = initialSnapshot
  override protected def capCountsCdc: Boolean = true

  protected def client = new GraftClient(sqlContext.sparkSession, root)

  // startingVersion ("latest" included) / startingTimestamp seed for a
  // fresh stream (no checkpointed offset yet); resolved once, at first use
  protected lazy val seedVersion: Long = GraftSource.seedOf(start, client)

  /** Base = tracked-or-current (see [[GraftStreamSource.resolveTrackedBase]]),
    * decorated with the feed column — a restart after an evolution
    * resumes at the evolved shape from the checkpointed offset.
    */
  override val schema: StructType = {
    val base = GraftStreamSource.resolveTrackedBase(sqlContext, root,
      table, schemaTrackingLocation)
    StructType(base.fields :+ org.apache.spark.sql.types
      .StructField("_change", org.apache.spark.sql.types.StringType))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val until = versionOf(end)
    highWater = math.max(highWater, until) // restart recovery re-sync
    val batch = start match {
      case None if initialSnapshot =>
        // bootstrap a replication pipeline from an EXISTING table:
        // batch 0 is the keyed latest state at the end offset served as
        // inserts (Delta's CDF initial-snapshot shape) — no v0 history
        // needed, works past log retention and pre-CDF-property commits
        // the from-0 feed would refuse; the incremental tail follows
        val c = client
        c.currentStateAsOf(table, keyCols, until)
          .withColumn("_change", org.apache.spark.sql.functions.lit("insert"))
      case _ =>
        client.changesBetween(table, keyCols,
          start.map(versionOf).getOrElse(seedVersion), until, preimages)
    }
    StreamingShim.asStreaming(sqlContext.sparkSession,
      GraftStreamSource.adoptOrFail(sqlContext, table, schema, batch,
        schemaTrackingLocation, feedCols = 1))
  }
}

/** Streaming FILE-LEVEL change feed — `readStream.format("graft")
  * .option("changeFeed", "true")` with NO `keyColumns`: each
  * micro-batch unions the commit window's per-commit CDC records
  * ([[graft.table.GraftClient.changesByFile]]) — `_change_type` +
  * `_commit_version` columns, Delta's own streaming CDF shape. Mutating
  * commits in the stream must carry CDC records
  * (`graft.enableChangeDataFeed`); an unrecorded mutation fails the
  * stream loudly naming the version, same as the batch read.
  *
  * `initialSnapshot = true` makes a fresh stream's batch 0 the table's
  * live state served as `_change_type = insert` rows whose
  * `_commit_version` is each row's own `_tx_id` (the commit that added
  * it — real provenance, not a synthetic stamp), with the incremental
  * feed following from there: the bootstrap path for an existing table
  * whose pre-CDF-property history (or retention-pruned head) the from-0
  * feed would refuse.
  */
final class GraftFileChangeFeedSource(sqlContext: SQLContext, root: String,
    protected val table: String,
    start: Option[GraftSource.StreamStart] = None,
    schemaTrackingLocation: Option[String] = None,
    initialSnapshot: Boolean = false,
    protected val maxObjectsPerTrigger: Option[Int] = None,
    protected val maxRowsPerTrigger: Option[Long] = None)
    extends Source with GraftLogOffsets {

  require(!initialSnapshot || start.isEmpty,
    "graft: initialSnapshot and startingVersion/startingTimestamp are " +
      "mutually exclusive (an explicit start skips the snapshot)")

  override protected def snapshotSeeded: Boolean = initialSnapshot
  override protected def capCountsCdc: Boolean = true

  protected def client = new GraftClient(sqlContext.sparkSession, root)

  // startingVersion ("latest" included) / startingTimestamp seed for a
  // fresh stream (no checkpointed offset yet); resolved once, at first use
  protected lazy val seedVersion: Long = GraftSource.seedOf(start, client)

  /** Base = tracked-or-current, decorated with the two CDC columns —
    * same restart-adoption contract as the keyed feed.
    */
  override val schema: StructType = {
    val base = GraftStreamSource.resolveTrackedBase(sqlContext, root,
      table, schemaTrackingLocation)
    StructType(base.fields ++ Seq(
      org.apache.spark.sql.types.StructField(GraftClient.ChangeTypeCol,
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType, nullable = false)))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val until = versionOf(end)
    highWater = math.max(highWater, until) // restart recovery re-sync
    val batch = start match {
      case None if initialSnapshot =>
        // batch 0 = live state as inserts; _commit_version is each row's
        // own _tx_id — the commit that actually added it
        val c = client
        val userCols = c.schemaAsOf(table, until).fieldNames
          .map(org.apache.spark.sql.functions.col).toIndexedSeq
        c.scanAsOf(table, until).select(userCols ++ Seq(
          org.apache.spark.sql.functions.lit("insert")
            .as(GraftClient.ChangeTypeCol),
          org.apache.spark.sql.functions.col(c.TxIdCol)
            .cast("long").as("_commit_version")): _*)
      case _ =>
        client.changesByFile(table,
          start.map(versionOf).getOrElse(seedVersion), until)
    }
    StreamingShim.asStreaming(sqlContext.sparkSession,
      GraftStreamSource.adoptOrFail(sqlContext, table, schema, batch,
        schemaTrackingLocation, feedCols = 2))
  }
}

/** V1 micro-batch sink (see [[GraftSource.createSink]]). `autoCompact`
  * > 0 folds a [[GraftClient.maybeCompact]] into any batch that tips the
  * table past that many live objects, so a long-running stream's
  * object-per-batch layout stays bounded without a separate maintenance
  * job — and the compaction is atomic with the batch that triggered it.
  *
  * `mode = "upsert"` routes each batch through [[GraftClient.merge]] on
  * `keyCols` instead of a plain append: matched keys are superseded
  * (latest-wins MVCC), unmatched keys insert — a streaming MERGE. With
  * `deleteColumn` set, source rows whose flag is true DELETE their keys
  * instead (and the flag column is stripped from inserted rows), which
  * makes the sink a CDC APPLY: piping one graft table's change feed into
  * another's upsert sink incrementally materializes it. Exactly-once
  * holds identically in both modes — the SetTxn watermark commits
  * atomically with the batch's merge effects.
  */
final class GraftSink(sqlContext: SQLContext, root: String, table: String,
    appId: String, autoCompact: Int = 0, mode: String = "append",
    keyCols: Seq[String] = Nil, deleteColumn: Option[String] = None,
    evolveSchema: Boolean = false)
    extends org.apache.spark.sql.execution.streaming.Sink {

  require(mode == "append" || mode == "upsert",
    s"graft sink mode must be append|upsert, got $mode")
  require(mode != "upsert" || keyCols.nonEmpty,
    "graft sink upsert mode requires option 'keyColumns'")

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val c = new GraftClient(sqlContext.sparkSession, root)
    c.newTx()
    try {
      if (c.lastTxn(appId).exists(_ >= batchId)) c.rollback()
      else {
        val batch = StreamingShim.asBatch(sqlContext.sparkSession, data)
        if (!c.tables.contains(table)) {
          val tableSchema = StructType(data.schema.fields
            .filterNot(f => deleteColumn.contains(f.name)))
          c.createTable(table, tableSchema)
        }
        if (mode == "upsert") {
          val delCond = deleteColumn
            .map(dc => org.apache.spark.sql.functions.col(dc) === true)
            .getOrElse(org.apache.spark.sql.functions.lit(false))
          // evolveSchema: a continuous replication pipeline whose
          // upstream adds a column widens the replica in-batch (the
          // merge routes through insertEvolving) instead of stopping —
          // paired with the source side's schemaTrackingLocation this
          // closes the restart-free replication loop
          c.merge(table, batch, keyCols, delCond,
            dropCols = deleteColumn.toSeq, evolveSchema = evolveSchema)
        } else if (evolveSchema) c.insertEvolving(table, batch)
        else c.insert(table, batch)
        // explicit writer option wins; otherwise the TABLE carries its
        // own compaction policy via TBLPROPERTIES — every stream landing
        // in it inherits the policy with zero sink configuration
        val effCompact =
          if (autoCompact > 0) autoCompact
          else c.tablePropertiesOf(table)
            .get("graft.autoCompact.maxObjects")
            .map(v => v.toIntOption.getOrElse(throw new IllegalArgumentException(
              s"invalid graft.autoCompact.maxObjects on $table: $v")))
            .getOrElse(0)
        if (effCompact > 0) c.maybeCompact(table, effCompact)
        // declared-clustering hook (graft.cluster.columns +
        // graft.autoCluster.minObjects): the tipping micro-batch folds
        // the incremental re-layout into its own exactly-once commit
        c.maybeCluster(table)
        c.setTxn(appId, batchId)
        c.commitTxRetrying()
      }
    } finally if (c.hasOpenTx) c.rollback()
  }

  override def toString: String = s"GraftSink[$table:$mode]"
}

/** BATCH change-data-feed relation — `spark.read.format("graft")
  * .option("changeFeed", "true").option("keyColumns", "id")
  * .option("startingVersion", v1).option("endingVersion", v2)
  * .load(root)`: the keyed row-level diff of two snapshots
  * ([[GraftClient.changesBetween]] — insert/update/delete in a `_change`
  * column) as one distributed DataFrame, so incremental consumers that
  * are NOT streams (a nightly downstream sync, an audit) get CDF without
  * the Scala client. `endingVersion` defaults to the latest commit. The
  * diff is a key-partitioned join of the two snapshots' live data — cost
  * ∝ the changed window's live rows, never the log's history.
  */
final case class GraftChangesRelation(sqlContext: SQLContext, root: String,
    table: String, keyCols: Seq[String], from: Long, until: Option[Long],
    preimages: Boolean = false)
    extends BaseRelation with TableScan {

  private def changes: DataFrame =
    GraftSource.withClient(sqlContext, root) { c =>
      if (keyCols.isEmpty)
        // file-level per-commit records (Delta's cdc actions) — no row
        // identity needed; preimages is meaningless here (updates are
        // delete+insert of the affected rows)
        c.changesByFile(table, from, until.getOrElse(c.latestVersion))
      else c.changesBetween(table, keyCols, from,
        until.getOrElse(c.latestVersion), preimages)
    }

  override val schema: StructType = changes.schema

  override def buildScan(): RDD[Row] = changes.rdd
}

/** V1 micro-batch streaming source over the transaction log (see
  * [[GraftSource]] scaladoc for semantics).
  *
  * `maxObjectsPerTrigger` rate-limits each micro-batch to at most that
  * many newly added data objects (always at least one full commit, so a
  * single over-sized commit still drains): a stream starting against a
  * long-backlogged table processes the backlog as several bounded
  * batches instead of one giant catch-up batch — the FileStreamSource
  * `maxFilesPerTrigger` shape. The cap is commit-aligned because the
  * offset domain is log versions; a commit's objects never split across
  * batches. After a restart the recovery `getBatch` re-syncs the
  * internal high-water mark from the checkpointed offset, so an offset
  * offered below it is already-processed territory and skips harmlessly.
  *
  * `Trigger.AvailableNow` is supported NATIVELY (the [[SupportsTriggerAvailableNow]]
  * mixin — the FileStreamSource shape for a V1 `Source`): the end version
  * is pinned when the query starts, the backlog drains up to it as
  * normally rate-limited micro-batches, and the query then terminates.
  * Without the mixin Spark's default falls back to single-batch
  * (Trigger.Once) execution, which under a rate limit would stop after
  * the FIRST slice of the backlog — silent data loss for a drain job.
  *
  * `initialSnapshot = true` makes a FRESH stream's batch 0 the table's
  * current LIVE state (one time-travel-pinned snapshot scan) with the
  * tail following from there — Delta's initial-snapshot semantics. This
  * is the switch-on path for streaming an EXISTING table from scratch:
  * a from-version-0 replay needs the full log head (retention prunes
  * it) and an append-only history (compaction breaks it); the snapshot
  * needs neither. `startingVersion = "latest"` is the other new-stream
  * seed: changes from stream start on, no history, no snapshot.
  */
final class GraftStreamSource(sqlContext: SQLContext, root: String,
    protected val table: String, ignoreChanges: Boolean,
    ignoreDeletes: Boolean = false,
    protected val maxObjectsPerTrigger: Option[Int] = None,
    protected val maxRowsPerTrigger: Option[Long] = None,
    start: Option[GraftSource.StreamStart] = None,
    schemaTrackingLocation: Option[String] = None,
    initialSnapshot: Boolean = false) extends Source
    with GraftLogOffsets {

  require(!initialSnapshot || start.isEmpty,
    "graft: initialSnapshot and startingVersion/startingTimestamp are " +
      "mutually exclusive (an explicit start skips the snapshot)")

  override protected def snapshotSeeded: Boolean = initialSnapshot

  protected def client =
    new GraftClient(sqlContext.sparkSession, root)

  // startingVersion ("latest" included) / startingTimestamp seed for a
  // fresh stream (no checkpointed offset yet): without it a new stream
  // on a table whose log head was pruned (checkpoint + vacuum retention)
  // starts at 0 and the first batch fails the availability check with no
  // way past it — unless initialSnapshot serves the live state instead
  protected lazy val seedVersion: Long = GraftSource.seedOf(start, client)

  /** With a tracking location, the declared schema is the TRACKED one
    * (last persisted adoption) — a restart after an evolution resumes
    * at the evolved schema with no operator step; the location is
    * initialized with the table's current schema on first use.
    */
  override val schema: StructType = GraftStreamSource
    .resolveTrackedBase(sqlContext, root, table, schemaTrackingLocation)

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val until = versionOf(end)
    highWater = math.max(highWater, until) // restart recovery re-sync
    val batch = start match {
      case None if initialSnapshot =>
        // Delta's initial-snapshot semantics: batch 0 is the table's
        // LIVE state at the end offset — a time-travel scan, so a
        // post-crash recovery replay of (None, end) reproduces it
        // exactly (the offset pins the version; retention must keep it
        // replayable for the recovery window, the ordinary streaming
        // contract). Unlike a from-0 log replay this works on tables
        // whose log head retention pruned AND on compacted/rewritten
        // history the append-only check would refuse — the switch-on
        // path for streaming an EXISTING large table from scratch.
        val c = client
        val cols = c.schemaAsOf(table, until).fieldNames
          .map(org.apache.spark.sql.functions.col).toIndexedSeq
        c.scanAsOf(table, until).select(cols: _*)
      case _ =>
        client.addedBetween(table,
          start.map(versionOf).getOrElse(seedVersion), until,
          ignoreChanges, ignoreDeletes)
    }
    StreamingShim.asStreaming(sqlContext.sparkSession,
      GraftStreamSource.adoptOrFail(sqlContext, table, schema, batch,
        schemaTrackingLocation, feedCols = 0))
  }
}

private[sources] object GraftStreamSource {
  /** Mid-stream schema evolution contract (pinned in Round11Spec): a
    * RUNNING stream was planned against the schema its source reported
    * at start, so a table evolution between micro-batches (top-level or
    * in-struct addColumn, widen, drop) FAILS the stream loudly with this
    * named error instead of Spark's generic "Invalid batch" assertion —
    * never silently drops or nulls the drifted columns. Restarting the
    * stream adopts the new schema (Delta's exact behavior).
    */
  def requireStableSchema(table: String, declared: StructType,
      got: StructType): Unit =
    require(sameShape(declared, got),
      s"graft stream on $table: table schema changed mid-stream (the " +
        s"stream started with ${declared.simpleString}, the batch read " +
        s"produced ${got.simpleString}); restart the stream to adopt " +
        "the new schema")

  /** Structural (name + type) equality, ignoring nullability and field
    * metadata — a batch read's parquet-derived nullability must not
    * false-trip the evolution check.
    */
  private[sources] def sameShape(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean =
    // the ONE structural comparator — shared with the insert-contract
    // check so "same schema" can never mean two different things
    graft.table.GraftClient.sameTypeIgnoringNullability(a, b)

  // ---- schema tracking (opt-in `schemaTrackingLocation`) --------------

  /** The source's declared BASE schema: the tracked one when a location
    * is set (initialized with the table's current schema on first use,
    * so a restart after an evolution resumes at the evolved shape), the
    * table's current schema otherwise. Shared by all three stream
    * shapes — the change-feed sources decorate it with their feed
    * columns after the fact.
    */
  private[sources] def resolveTrackedBase(sqlContext: SQLContext,
      root: String, table: String, loc: Option[String]): StructType =
    loc match {
      case Some(l) =>
        readTracked(sqlContext, l).getOrElse {
          val s =
            GraftSource.withClient(sqlContext, root)(_.schemaOf(table))
          writeTracked(sqlContext, l, s)
          s
        }
      case None =>
        GraftSource.withClient(sqlContext, root)(_.schemaOf(table))
    }

  /** One evolution policy for every stream shape's getBatch. Without a
    * tracking location: a drifted batch fails loudly
    * ([[requireStableSchema]] — never silently drops or nulls columns).
    * With one: the evolved BASE (batch schema minus the trailing
    * `feedCols` feed columns) is persisted FIRST — whether this run
    * continues or stops, the next start resumes at the new schema from
    * the checkpointed offset with no operator step. A purely-additive
    * evolution (new nullable columns/leaves) then keeps the RUNNING
    * plan alive by projecting the batch back to the declared shape —
    * the new column becomes visible on the next restart, null-filled
    * for pre-evolution objects; anything non-additive stops the stream
    * with the restart-resumes-at-tracked message. The opt-in trades
    * "new column visible immediately" for "the stream keeps running" —
    * the tracked file guarantees the column is never silently lost.
    */
  private[sources] def adoptOrFail(sqlContext: SQLContext, table: String,
      declared: StructType, batch: org.apache.spark.sql.DataFrame,
      loc: Option[String], feedCols: Int): org.apache.spark.sql.DataFrame =
    loc match {
      case Some(l) if !sameShape(declared, batch.schema) =>
        writeTracked(sqlContext, l,
          StructType(batch.schema.fields.dropRight(feedCols)))
        if (isAdditive(declared, batch.schema)) projectTo(batch, declared)
        else throw new IllegalStateException(
          s"graft stream on $table: table schema changed mid-stream in " +
            s"a non-additive way (${declared.simpleString} -> " +
            s"${batch.schema.simpleString}); the evolved schema is " +
            s"tracked at $l — restarting the stream resumes at it " +
            "from the checkpointed offset, no other step needed")
      case _ =>
        requireStableSchema(table, declared, batch.schema)
        batch
    }

  /** Is `got` the result of a purely-ADDITIVE evolution of `declared`:
    * every declared column/leaf still present at the same type, any
    * extra fields new (they read null-filled on old objects)? Struct
    * fields recurse; arrays/maps must match exactly (an element-type
    * evolution is not projectable back without a rebuild the running
    * plan can't absorb).
    */
  private[sources] def isAdditive(
      declared: org.apache.spark.sql.types.DataType,
      got: org.apache.spark.sql.types.DataType): Boolean =
    (declared, got) match {
      case (d: StructType, g: StructType) =>
        d.fields.forall { f =>
          g.fields.find(_.name == f.name)
            .exists(gf => isAdditive(f.dataType, gf.dataType))
        }
      case (d, g) => sameShape(d, g)
    }

  /** Project `batch` (an additive evolution of `declared`) back to the
    * declared shape, nested levels included — the running plan keeps
    * its schema, the extra columns wait for the next restart.
    */
  private[sources] def projectTo(batch: org.apache.spark.sql.DataFrame,
      declared: StructType): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{col, struct, when}
    def shape(path: Column,
        dt: org.apache.spark.sql.types.DataType,
        got: org.apache.spark.sql.types.DataType): Column = (dt, got) match {
      case (d: StructType, g: StructType) if !sameShape(d, g) =>
        // rebuild only the structs that actually gained leaves; a null
        // struct stays null instead of becoming a struct of nulls
        val rebuilt = struct(d.fields.toIndexedSeq.map(f =>
          shape(path.getField(f.name), f.dataType,
            g.fields.find(_.name == f.name).get.dataType).as(f.name)): _*)
        when(path.isNull, null).otherwise(rebuilt)
      case _ => path
    }
    batch.select(declared.fields.toIndexedSeq.map { f =>
      val g = batch.schema.fields.find(_.name == f.name).get
      shape(col(f.name), f.dataType, g.dataType).as(f.name)
    }: _*)
  }

  private def trackedPath(loc: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(loc, "graft_schema.json")

  /** The tracked schema at `loc`, if one was persisted. */
  private[sources] def readTracked(sqlContext: SQLContext,
      loc: String): Option[StructType] = {
    val p = trackedPath(loc)
    val fs = p.getFileSystem(
      sqlContext.sparkSession.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val body =
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      Some(org.apache.spark.sql.types.DataType.fromJson(body)
        .asInstanceOf[StructType])
    }
  }

  /** Persist `schema` at `loc`. No-op when the tracked content already
    * matches: after an additive evolution the RUNNING plan keeps its
    * old declared shape, so every subsequent getBatch re-enters the
    * evolution arm — without the compare each micro-batch would
    * rewrite an identical file on the hot planning path. The overwrite
    * itself goes through a temp file + delete + rename, never a
    * truncate-in-place: a concurrently (re)starting query must never
    * read a TORN file (fromJson would throw and fail the restart
    * spuriously) — in the brief absent window readTracked returns None
    * and the restart falls back to the table's current schema, which
    * post-evolution IS the schema being written.
    */
  private[sources] def writeTracked(sqlContext: SQLContext, loc: String,
      schema: StructType): Unit = {
    val p = trackedPath(loc)
    val fs = p.getFileSystem(
      sqlContext.sparkSession.sessionState.newHadoopConf())
    if (scala.util.Try(readTracked(sqlContext, loc)).toOption.flatten
        .contains(schema)) return
    val tmp = new org.apache.hadoop.fs.Path(p.getParent,
      s"${p.getName}.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(schema.json.getBytes("UTF-8")) finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p)) {
      fs.delete(tmp, false)
      // two publishers racing the SAME adoption: on rename-refuses-
      // overwrite filesystems (HDFS) the loser lands here with the
      // winner's file already in place — a semantic no-op, not a
      // failure. Only a DIFFERENT published schema is an error.
      if (!scala.util.Try(readTracked(sqlContext, loc)).toOption.flatten
          .contains(schema))
        throw new java.io.IOException(
          s"schemaTrackingLocation: could not publish tracked schema at $p")
    }
    // best-effort reclaim of tmp files a crashed publisher stranded
    try fs.listStatus(p.getParent)
      .filter(_.getPath.getName.startsWith(s"${p.getName}.tmp-"))
      .filter(_.getPath != tmp)
      .foreach(st => fs.delete(st.getPath, false))
    catch { case scala.util.control.NonFatal(_) => () }
  }
}
