package graft.tx

import org.apache.spark.sql.types.{DataType, StructType}

import graft.store.ObjectStore

/** Actions in the transaction log — the same tagged union as the reference
  * (deltalakeclient/transactions.go:19-29: AddDataobject / DeleteDataobject /
  * ChangeMetadata), with real typed schemas instead of bare column lists.
  *
  * `txId` on an Add is the id of the transaction whose rows the object
  * carries — on copy-on-write rewrites it stays the ORIGINAL writer's id so
  * the object keeps its chronological slot in MVCC ordering (reference
  * comment deltalakeclient/transactions.go:11-16).
  */
sealed trait Action { def table: String }

/** Per-column inclusive min/max of one data object, read from parquet
  * footers at write time — the reference's unimplemented "per-object
  * column stats" TODO (README.md:37). Values are Long (integral/date
  * columns), Double, or String; a column absent from the map has unknown
  * bounds and never prunes. This is what makes partition-style file
  * skipping work at 100 TB: a range scan or delete opens only objects
  * whose stats can overlap the predicate.
  */
final case class ColStats(min: Any, max: Any, nulls: Option[Long] = None)

object ColStats {
  /** Conservative overlap test: can a row with start <= col <= end exist
    * in an object with these stats? Unknown stats or un-normalizable
    * bounds ⇒ true (never prune on uncertainty). Null bounds mean
    * unbounded on that side.
    */
  def mayOverlap(stats: Map[String, ColStats], column: String,
      start: Any, end: Any): Boolean =
    stats.get(column) match {
      case None => true
      case Some(ColStats(lo, hi, _)) =>
        val s = normalize(start)
        val e = normalize(end)
        val belowOk = s == null || cmp(hi, s).forall(_ >= 0)
        val aboveOk = e == null || cmp(lo, e).forall(_ <= 0)
        belowOk && aboveOk
    }

  /** Smallest string strictly greater than EVERY string with this
    * prefix — the exclusive upper bound a LIKE-'p%' scan compiles to
    * ([p, prefixUpperBound(p)]): increment the last non-maximal char,
    * dropping trailing U+FFFF chars first. Null = unbounded above (the
    * whole prefix is U+FFFF). Used inclusively against min/max stats,
    * which stays conservative — and parquet's truncated string bounds
    * are already conservative in the same direction.
    */
  def prefixUpperBound(p: String): String = {
    var i = p.length - 1
    while (i >= 0 && p.charAt(i) == Char.MaxValue) i -= 1
    if (i < 0) null
    else p.substring(0, i) + (p.charAt(i) + 1).toChar
  }

  /** Widen query-bound values to the stats domain (Long/Double/String). */
  def normalize(v: Any): Any = v match {
    case null => null
    case b: Byte => b.toLong
    case s: Short => s.toLong
    case i: Int => i.toLong
    case l: Long => l
    case f: Float => f.toDouble
    case d: Double => d
    case s: String => s
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => d.toEpochDay
    case other => other // unknown type: cmp yields None => no pruning
  }

  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
    case (x: Long, y: Double) => Some(java.lang.Double.compare(x.toDouble, y))
    case (x: Double, y: Long) => Some(java.lang.Double.compare(x, y.toDouble))
    case (x: Double, y: Double) => Some(java.lang.Double.compare(x, y))
    case (x: String, y: String) => Some(x.compareTo(y))
    case _ => None
  }
}

/** Per-object bloom filter over one column's values — point-lookup file
  * skipping where min/max stats can't help (high-cardinality keys whose
  * ranges overlap across every object). `words` is the bit array as 64-bit
  * words; bit positions come from `k` seeded xxhash64 hashes of the value,
  * each taken modulo the bit width (see GraftClient.buildBloom — the
  * reference's unimplemented bloom-filter TODO, README.md:37).
  */
final case class BloomData(k: Int, words: Vector[Long]) {
  def numBits: Long = words.length.toLong * 64L
  /** `rawHashes` are the UNREDUCED seeded hashes of the probe value (seed
    * order 0..k-1); false means the value is definitely absent.
    */
  def mightContain(rawHashes: Seq[Long]): Boolean =
    rawHashes.take(k).forall { h =>
      val pos = java.lang.Math.floorMod(h, numBits)
      (words((pos >> 6).toInt) & (1L << (pos & 63).toInt)) != 0L
    }
  /** Bitwise-OR union with a same-geometry bloom (same k, same width):
    * EXACT for an object holding the concatenation of the two inputs'
    * rows, which is how compaction merges bins metadata-only. None when
    * the geometries differ — OR-ing mismatched widths would corrupt
    * every probe, so callers fall back to a rebuild instead.
    */
  def union(o: BloomData): Option[BloomData] =
    if (o.k == k && o.words.length == words.length)
      Some(BloomData(k, words.zip(o.words).map { case (a, b) => a | b }))
    else None
}

/** Pointer to a per-object bloom SIDECAR: the bitset lives as its own
  * store object (`_bloom_<table>_<uuid>` on the data plane) and only
  * this fixed-size reference rides the log — so driver snapshot and
  * checkpoint bytes stay O(objects), not O(objects × bloom geometry).
  * (At the documented production geometry — ~10 bits/key, 80 KB/object/
  * column — inline bitsets would put ~80 GB in the driver snapshot of a
  * 10⁶-object table; Delta stores bloom indexes as per-file sidecars
  * for the same reason.) `k`/`numBits` ride here so probe planning
  * (which objects can prune, at what k) never opens a sidecar; the
  * bitset itself is loaded lazily, and ONLY for objects surviving
  * min/max stats. Several columns of one object may share one sidecar
  * `path` (the sidecar holds a column → bitset map).
  */
final case class BloomRef(k: Int, numBits: Long, path: String)

/** A live data object. `path` is rootDir-relative for objects the client
  * wrote, or an absolute path (leading `/`) for EXTERNAL objects imported
  * in place by `convertParquet` — those carry no physical provenance
  * columns, and `rowBase` (set iff external) is the object's first
  * `_row_idx`: reads synthesize `(_tx_id = txId, _row_idx = rowBase +
  * file row position)`, which is stable because parquet files are
  * immutable, so deletion vectors and copy-on-write stay valid.
  */
/** `ndv` (keyed by PHYSICAL column name, like blooms) holds this
  * object's per-column HLL register blob, written by ANALYZE: the
  * table-level NDV estimate is the register-max merge of its live
  * objects' blobs, which is what makes stats DELETE-AWARE — dropping an
  * object drops exactly its contribution, and a compaction's output
  * merges its inputs' blobs without a scan. ~512 B per analyzed column
  * per object in the log, the same order as a bloom sidecar.
  */
/** `blooms` (INLINE bitsets) is the legacy residency — logs written
  * before sidecars still probe correctly through it; every NEW stamp
  * writes a sidecar and records only a [[BloomRef]] in `bloomRefs`.
  * The two maps are disjoint per column by construction (a re-stamp
  * drops the inline entry it supersedes).
  */
final case class AddDataObject(table: String, path: String, txId: Long,
    numRows: Long, stats: Map[String, ColStats] = Map.empty,
    blooms: Map[String, BloomData] = Map.empty,
    rowBase: Option[Long] = None,
    ndv: Map[String, Array[Byte]] = Map.empty,
    bloomRefs: Map[String, BloomRef] = Map.empty) extends Action
final case class RemoveDataObject(table: String, path: String) extends Action
final case class ChangeMetadata(table: String, schema: StructType)
    extends Action
/** A deletion vector: a parquet object of (_tx_id, _row_idx) keys whose
  * rows are suppressed on read. Provenance-keyed, so it stays valid
  * across copy-on-write rewrites and compactions (which preserve those
  * columns). The reference lists deletion vectors as an unimplemented
  * TODO (README.md:38). `RemoveDataObject` retires DVs too (path-keyed).
  */
final case class AddDeleteVector(table: String, path: String, txId: Long,
    numRows: Long) extends Action

/** Row-level change-data object for ONE commit — Delta's `AddCDCFile`
  * (the `cdc` action): a parquet object carrying the table's logical
  * columns plus `_change_type` ('insert' | 'delete'). Written by
  * row-mutating operations when the table property
  * `graft.enableChangeDataFeed` is true, so `table_changes` works
  * WITHOUT key columns: a window read unions each commit's CDC objects
  * instead of diffing keyed snapshots. Never part of [[Snapshot.liveFiles]]
  * (scans ignore it — the fold's `case _` arm); vacuum retains it while
  * its commit's log entry is retained and reclaims it with the entry.
  */
final case class AddCdcObject(table: String, path: String, txId: Long,
    numRows: Long) extends Action

/** Sink-transaction watermark: "application `appId` has durably committed
  * its batch `version`" — the idempotence handshake for exactly-once
  * streaming writes (Delta's `txn` action). A retried micro-batch sees its
  * own watermark inside the same snapshot that would receive its rows and
  * skips, so the check and the write are atomic. The footprint slot is a
  * per-app pseudo-table, never a data table, so concurrent sinks to
  * different tables rebase past each other.
  */
final case class SetTxn(appId: String, version: Long) extends Action {
  def table: String = s"_txn_$appId"
}

/** CHECK constraint on a table (Delta-parity): `expr` is a SQL boolean
  * over the table's columns that every written row must not make FALSE
  * (NULL passes, SQL CHECK semantics). Last-wins by name; an empty expr
  * drops the constraint. Enforcement is write-side
  * (GraftClient.constraintGuard) — reads never pay for it.
  */
final case class SetConstraint(table: String, name: String, expr: String)
    extends Action

/** Durable table properties (Delta's TBLPROPERTIES): `set` merges
  * key → value, `unset` removes keys, applied in log order (last wins per
  * key). Properties are configuration that travels WITH the table —
  * `graft.appendOnly` blocks row mutation verbs, `graft.autoCompact.
  * maxObjects` gives streaming sinks their compaction default — and they
  * survive checkpoint folds and shallow clones like any metadata.
  * Readers never pay for them (write-side / maintenance-side only).
  */
final case class SetProperties(table: String, set: Map[String, String],
    unset: Vector[String] = Vector.empty) extends Action

/** Drop a table: every fold clears the table's accumulated state (schema,
  * live objects, DVs, constraints) at this point in the log, so a later
  * CREATE of the same name starts clean and never resurrects old objects.
  * Data files are left on disk for vacuum to reclaim (they drop out of
  * every retained snapshot's keep-set). Needed by the SQL catalog's
  * `DROP TABLE` / `ALTER TABLE RENAME`; the Scala client exposes it as
  * [[graft.table.GraftClient.dropTable]].
  */
final case class DropTable(table: String) extends Action

/** Log-format capability gate (Delta's protocol action): a reader must
  * support at least `minReader` and a writer at least `minWriter` to
  * touch this log. Written at table create, last-wins on replay; logs
  * with no protocol action read as (1, 1) — the format this engine has
  * written since round 1 (including optional fields that older readers
  * skip harmlessly: `ts`, `commitId`, `nulls`, `rowBase`). A FUTURE
  * incompatible change (new action type, new mandatory field) bumps the
  * constant and commits an upgraded SetProtocol, making down-level
  * readers/writers fail with a clear message instead of silently
  * mis-replaying the log.
  */
final case class SetProtocol(minReader: Int, minWriter: Int)
    extends Action { def table: String = "" }

final class CommitConflictException(id: Long)
  extends RuntimeException(
    s"commit conflict: log id $id was taken by a concurrent transaction")

/** Snapshot of the table store at a log version: fold of every committed
  * action, exactly the reference's NewTx replay
  * (deltalakeclient/transactions.go:53-104).
  */
final case class Snapshot(version: Long, actions: Vector[Action]) {
  /** Effective protocol of this snapshot: the last [[SetProtocol]] in
    * the log, or (1, 1) for logs written before the action existed.
    */
  def protocol: SetProtocol =
    actions.reverseIterator.collectFirst { case p: SetProtocol => p }
      .getOrElse(SetProtocol(1, 1))

  def tables: Map[String, StructType] = {
    // ordered fold, last wins; DropTable erases (re-create starts clean)
    val m = scala.collection.mutable.LinkedHashMap[String, StructType]()
    actions.foreach {
      case ChangeMetadata(t, s) => m(t) = s
      case DropTable(t) => m.remove(t)
      case _ => ()
    }
    m.toMap
  }
  /** Live data objects of a table, sorted by (txId, path) so rewrites sort
    * back into their original chronological position
    * (dataobjects.go:91-92).
    */
  def liveFiles(table: String, pending: Seq[Action] = Nil): Vector[AddDataObject] = {
    // ORDERED fold, not add-unless-ever-removed: RESTORE re-adds a path
    // that an earlier commit removed, and the re-add must win because it
    // comes later in the log
    val live = scala.collection.mutable.LinkedHashMap[String, AddDataObject]()
    (actions ++ pending).foreach {
      case a: AddDataObject if a.table == table => live(a.path) = a
      case RemoveDataObject(t, p) if t == table => live.remove(p)
      case DropTable(t) if t == table => live.clear()
      case _ => ()
    }
    live.values.toVector.sortBy(a => (a.txId, a.path))
  }

  /** Active CHECK constraints of a table: name -> boolean SQL expr,
    * last-wins per name, empty expr = dropped.
    */
  def constraints(table: String,
      pending: Seq[Action] = Nil): Map[String, String] = {
    val m = scala.collection.mutable.LinkedHashMap[String, String]()
    (actions ++ pending).foreach {
      case SetConstraint(t, n, e) if t == table =>
        if (e.isEmpty) m.remove(n) else m(n) = e
      case DropTable(t) if t == table => m.clear()
      case _ => ()
    }
    m.toMap
  }

  /** Durable table properties: key -> value, last-wins fold of
    * [[SetProperties]] set/unset in log order.
    */
  def properties(table: String,
      pending: Seq[Action] = Nil): Map[String, String] = {
    val m = scala.collection.mutable.LinkedHashMap[String, String]()
    (actions ++ pending).foreach {
      case SetProperties(t, set, unset) if t == table =>
        set.foreach { case (k, v) => m(k) = v }
        unset.foreach(m.remove)
      case DropTable(t) if t == table => m.clear()
      case _ => ()
    }
    m.toMap
  }

  /** Latest committed sink-batch watermark per appId ([[SetTxn]]).
    * COPY INTO watermarks (`copy:<table>:<file>`) are scoped to their
    * table's lifetime: DropTable clears them, so a dropped-and-recreated
    * table reloads a landing directory from scratch (the documented
    * "a later CREATE starts clean" invariant). Sink watermarks
    * (arbitrary appIds) are app-scoped, not table-scoped, and survive.
    */
  def txns(pending: Seq[Action] = Nil): Map[String, Long] = {
    val m = scala.collection.mutable.LinkedHashMap[String, Long]()
    (actions ++ pending).foreach {
      case SetTxn(a, v) => m(a) = math.max(v, m.getOrElse(a, Long.MinValue))
      case DropTable(t) =>
        m.keys.filter(_.startsWith(s"copy:$t:")).toList.foreach(m.remove)
      case _ => ()
    }
    m.toMap
  }

  /** Live deletion vectors of a table, same retirement rule as data
    * objects.
    */
  def liveDvs(table: String, pending: Seq[Action] = Nil): Vector[AddDeleteVector] = {
    val live = scala.collection.mutable.LinkedHashMap[String, AddDeleteVector]()
    (actions ++ pending).foreach {
      case a: AddDeleteVector if a.table == table => live(a.path) = a
      case RemoveDataObject(t, p) if t == table => live.remove(p)
      case DropTable(t) if t == table => live.clear()
      case _ => ()
    }
    live.values.toVector.sortBy(a => (a.txId, a.path))
  }
}

/** The ordered transaction log: `_log_%020d` JSON objects in an
  * [[ObjectStore]]. Zero-padded ids make lexicographic listing ==
  * chronological order (reference transactions.go:133). Optimistic
  * concurrency: commit serializes the staged actions and put-if-absent's the
  * next id; the loser of a race gets [[CommitConflictException]]
  * (first-writer-wins, transactions.go:144).
  *
  * Scale note: replay is metadata-only — O(#log files) driver-side work, no
  * table data touched; at production scale this is where checkpointing
  * (periodic folded-snapshot files) would bolt on.
  */
final class TxLog(store: ObjectStore) {
  import TxLog._

  /** Replay = latest checkpoint (if any) + only the log entries at or
    * after its version. Without checkpoints this is the reference's full
    * O(#txs) fold (transactions.go:53-104); with them it is O(#txs since
    * last checkpoint). The newest checkpoint is located through the
    * `_last_checkpoint` pointer (one read, Delta's exact mechanism), so
    * after log retention [[pruneTo]] has reclaimed old entries, begin()
    * lists only the bounded retained suffix — never "every log file ever
    * written".
    */
  def begin(): Snapshot = store.cacheKey match {
    case None => checkedProtocol(replayFull().snap)
    case Some(key) =>
      // JVM-wide snapshot cache (Delta's DeltaLog cache): reuse the last
      // materialized snapshot and read ONLY the log entries committed
      // since — freshness is re-validated against the store on EVERY
      // begin by the tail listing, so external writers (other clients,
      // other processes, other machines over HTTP) are always seen.
      // Every N rolled entries the snapshot re-bases through a full
      // replay, picking up newer checkpoints so the cached action vector
      // periodically re-compacts (removes folded away).
      val cached = TxLog.snapCache.get(key)
      val next =
        (if (cached == null || cached.snap.version == 0 ||
            cached.applied >= TxLog.RebaseAfter) None
         else rollForward(cached))
          .getOrElse(replayFull())
      // an empty log's snapshot is not worth caching (and a version-0
      // cache entry would make the roll-forward's tail listing start
      // before every name)
      if (next.snap.version > 0) TxLog.snapCache.put(key, next)
      checkedProtocol(next.snap)
  }

  /** The uncached replay: newest checkpoint + the contiguous retained
    * log suffix at or after it.
    */
  private def replayFull(): TxLog.CachedSnap = {
    val actions = Vector.newBuilder[Action]
    val base = loadNewestCheckpoint(actions)
    var last = base - 1
    var expected = base
    store.listPrefixOrdered(LogPrefix).foreach { n =>
      val id = n.stripPrefix(LogPrefix).toLong
      if (id >= base) {
        if (id != expected) throw new IllegalStateException(
          s"transaction log is not contiguous: expected id $expected, " +
            s"found $id — entries were reclaimed past the checkpoint " +
            "horizon or the log is corrupt")
        expected = id + 1
        val j = Json.parse(new String(store.read(n), "UTF-8")).asObj
        last = j("id").asLong
        actions ++= j("actions").asArr.map(actionFromJson)
      }
    }
    TxLog.CachedSnap(base, 0, Snapshot(last + 1, actions.result()))
  }

  /** Roll a cached snapshot forward by the entries committed since, or
    * None when a full replay must decide (tail not authenticated). The
    * listing starts ONE BEFORE the last applied entry: seeing that
    * entry's own name again authenticates the tail — a wiped/rebuilt
    * store at the same key, a reclaimed last-applied entry (retention
    * ran past it), or any gap all fail the check and fall back, so the
    * cache can never serve phantom state the store no longer backs.
    */
  private def rollForward(c: TxLog.CachedSnap): Option[TxLog.CachedSnap] = {
    val lastApplied = c.snap.version - 1
    val names = store.listPrefixAfter(LogPrefix, logName(lastApplied - 1))
    if (!names.headOption.contains(logName(lastApplied))) return None
    var expected = lastApplied + 1
    val actions = Vector.newBuilder[Action]
    names.drop(1).foreach { n =>
      val id = n.stripPrefix(LogPrefix).toLong
      if (id != expected) return None // mid-tail gap: full replay screams
      expected += 1
      val j = Json.parse(new String(store.read(n), "UTF-8")).asObj
      actions ++= j("actions").asArr.map(actionFromJson)
    }
    val applied = (expected - lastApplied - 1).toInt
    if (applied == 0) Some(c)
    else Some(TxLog.CachedSnap(c.ckptBase, c.applied + applied,
      Snapshot(expected, c.snap.actions ++ actions.result())))
  }

  /** Reader-side protocol gate ([[SetProtocol]]): refuse to hand out a
    * snapshot this engine cannot faithfully interpret.
    */
  private def checkedProtocol(s: Snapshot): Snapshot = {
    val p = s.protocol
    if (p.minReader > SupportedReaderVersion)
      throw new IllegalStateException(
        s"log requires reader protocol version ${p.minReader}, but this " +
          s"engine supports $SupportedReaderVersion — upgrade the engine " +
          "to read this table store")
    s
  }

  /** Newest checkpoint version, found via the `_last_checkpoint` pointer
    * when present-and-valid (one object read), falling back to a
    * `_ckpt_` listing. The pointer is advisory: it is overwritten
    * best-effort after each checkpoint, may briefly lag (older = replay
    * a few more log entries), and may name a checkpoint that retention
    * has since reclaimed (detected by the manifest read; listing wins).
    */
  def newestCheckpointVersion: Option[Long] = {
    val ptr =
      try {
        val j = Json.parse(new String(store.read(LastCkptPtr), "UTF-8")).asObj
        val v = j("version").asLong
        store.read(ckptName(v)) // validate the manifest still exists
        Some(v)
      } catch { case _: Exception => None }
    ptr.orElse(store.listPrefixOrdered(CkptPrefix).lastOption
      .map(_.stripPrefix(CkptPrefix).toLong))
  }

  private def loadNewestCheckpoint(
      into: scala.collection.mutable.Builder[Action, Vector[Action]]): Long =
    newestCheckpointVersion.map(v => readCheckpoint(ckptName(v), into))
      .getOrElse(0L)

  /** Snapshot as of log version `asOf` (exclusive upper bound: the state
    * after log ids < asOf committed) — time travel. Checkpoints are only
    * usable when they fold a prefix of the requested range, so replay
    * falls back to plain log files when `asOf` predates the newest
    * checkpoint. Metadata-only, like [[begin]].
    */
  def beginAt(asOf: Long): Snapshot = {
    val actions = Vector.newBuilder[Action]
    var last = -1L
    val base = store.listPrefixOrdered(CkptPrefix)
      .map(n => n.stripPrefix(CkptPrefix).toLong)
      .filter(_ <= asOf).lastOption
      .map(v => readCheckpoint(ckptName(v), actions)).getOrElse(0L)
    last = base - 1
    // log ids are dense (every commit takes last+1), so replaying
    // [base, asOf) must see exactly base, base+1, ... — a gap at the
    // START means retention reclaimed the requested history, and
    // returning a silently partial snapshot would be data loss
    var expected = base
    store.listPrefixOrdered(LogPrefix).foreach { n =>
      val id = n.stripPrefix(LogPrefix).toLong
      if (id >= base && id < asOf) {
        if (id != expected) throw new IllegalStateException(
          s"time travel to version $asOf needs log ids from $expected, " +
            s"but the oldest available is $id: that history was " +
            "reclaimed by vacuum's log retention (or the log is corrupt)")
        expected = id + 1
        val j = Json.parse(new String(store.read(n), "UTF-8")).asObj
        last = j("id").asLong
        actions ++= j("actions").asArr.map(actionFromJson)
      }
    }
    if (expected == base && base < asOf && latestVersion > base)
      // nothing replayed past the checkpoint but newer history exists:
      // the range [base, asOf) was reclaimed wholesale
      throw new IllegalStateException(
        s"time travel to version $asOf: history before version " +
          s"${oldestAvailableVersion} was reclaimed by vacuum's log " +
          "retention")
    checkedProtocol(Snapshot(last + 1, actions.result()))
  }

  /** Oldest version [[beginAt]] can still reconstruct: the oldest
    * remaining checkpoint if retention has pruned the head of the log,
    * else 0.
    */
  def oldestAvailableVersion: Long = {
    val oldestLog = store.listPrefixOrdered(LogPrefix).headOption
      .map(_.stripPrefix(LogPrefix).toLong)
    if (oldestLog.contains(0L)) 0L
    else store.listPrefixOrdered(CkptPrefix).headOption
      .map(_.stripPrefix(CkptPrefix).toLong)
      .filter(c => oldestLog.forall(_ >= c))
      .getOrElse(oldestLog.getOrElse(0L))
  }

  /** Actions of the committed log entries with `from <= id < until`, in
    * log order — the concurrent window a rebasing committer must check
    * for logical conflicts. Reads raw log files (never checkpoints, whose
    * folding compiles removes away). Metadata-only: one ranged listing
    * plus the window's bodies ([[windowEntries]]).
    */
  def actionsBetween(from: Long, until: Long): Vector[Action] =
    windowEntries(from, until).flatMap { case (_, j) =>
      j("actions").asArr.map(actionFromJson)
    }

  /** The parsed log entries with `from <= id < until`, in id order, from
    * ONE listing that starts after `from - 1` (the [[rollForward]] range)
    * — on stores that list by range (S3 `start-after`, the HTTP store) a
    * window read costs O(window), not O(retained log). The window's ids
    * must run contiguously from `from`; only when the first one is not
    * `from` does [[requireWindowAvailable]] list the whole log, to tell
    * reclaimed history (its error) from a gap (corruption).
    */
  private def windowEntries(from: Long,
      until: Long): Vector[(Long, Map[String, JValue])] = {
    if (from >= until) return Vector.empty
    val ids = store.listPrefixAfter(LogPrefix, logName(from - 1)).iterator
      .map(n => n.stripPrefix(LogPrefix).toLong)
      .takeWhile(_ < until).toVector
    if (!ids.headOption.contains(from)) requireWindowAvailable(from, until)
    ids.iterator.zipWithIndex.foreach { case (id, i) =>
      if (id != from + i) throw new IllegalStateException(
        s"transaction log is not contiguous: expected id ${from + i}, " +
          s"found $id — the log is corrupt")
    }
    ids.map(id => id ->
      Json.parse(new String(store.read(logName(id)), "UTF-8")).asObj)
  }

  /** Refuse a window read whose start predates the oldest retained log
    * entry — a raw-entry consumer (change feed, conflict rebase,
    * history) that silently served the surviving suffix would present
    * a partial view as complete.
    */
  private def requireWindowAvailable(from: Long, until: Long): Unit = {
    val oldest = store.listPrefixOrdered(LogPrefix).headOption
      .map(_.stripPrefix(LogPrefix).toLong)
      .getOrElse(latestVersion)
    // the window starts below the oldest retained entry; only ok if
    // nothing was ever reclaimed (oldest is genuinely id 0)
    if (from < oldest && oldest > 0L) throw new IllegalStateException(
      s"log entries [$from, ${math.min(until, oldest)}) were reclaimed " +
        "by vacuum's log retention; the oldest retained entry is " +
        s"$oldest — restart the consumer from a current snapshot")
  }

  /** [[entries]] plus each commit's wall-clock `ts` (millis; 0 for
    * entries from logs written before the field existed) — the
    * timestamped DESCRIBE HISTORY surface.
    */
  def entriesDetailed(): Vector[(Long, Long, Option[String], Vector[Action])] =
    store.listPrefixOrdered(LogPrefix).map { n =>
      val j = Json.parse(new String(store.read(n), "UTF-8")).asObj
      (j("id").asLong, j.get("ts").map(_.asLong).getOrElse(0L),
        j.get("op").map(_.asStr),
        j("actions").asArr.map(actionFromJson))
    }.toVector

  /** Every committed log entry as (id, actions), oldest first — the
    * DESCRIBE HISTORY surface. Raw log files only (checkpoints are a
    * replay optimization, not history). Metadata-only.
    */
  def entries(): Vector[(Long, Vector[Action])] =
    store.listPrefixOrdered(LogPrefix).map { n =>
      val j = Json.parse(new String(store.read(n), "UTF-8")).asObj
      j("id").asLong -> j("actions").asArr.map(actionFromJson)
    }.toVector

  /** [[entriesDetailed]] restricted to `from <= id < until`: one ranged
    * listing and the window's bodies ([[windowEntries]]) — the
    * file-level change feed's per-trigger access pattern.
    */
  def entriesDetailedBetween(from: Long, until: Long)
      : Vector[(Long, Option[String], Vector[Action])] =
    windowEntries(from, until).map { case (id, j) =>
      (id, j.get("op").map(_.asStr), j("actions").asArr.map(actionFromJson))
    }

  /** [[entries]] restricted to `from <= id < until`: O(window) reads
    * after one ranged listing ([[windowEntries]]), not O(log) — the
    * streaming source calls this every trigger.
    */
  def entriesBetween(from: Long, until: Long): Vector[(Long, Vector[Action])] =
    windowEntries(from, until).map { case (id, j) =>
      id -> j("actions").asArr.map(actionFromJson)
    }

  /** The snapshot version as of wall-clock `tsMillis` — the greatest
    * version whose last commit carried a `ts` at-or-before it (TIMESTAMP
    * AS OF). Raw commit timestamps come from each WRITER's clock, so a
    * later commit can carry an earlier wall clock when writers on
    * different machines skew; like Delta, the scan MONOTONIZES them
    * (effective ts = max over the prefix), which keeps the effective
    * sequence non-decreasing so (a) the early stop at the first later
    * entry is sound and (b) the version picked can never be older than
    * one whose commit the asked-for instant already covers. Entries from
    * logs written before the `ts` field existed read as t=0 (always in
    * the past). O(log-prefix) metadata reads; a binary search over the
    * zero-padded names would make it O(log₂ n) if a deployment ever has
    * logs long enough to care — monotonized timestamps stay
    * binary-searchable.
    */
  def versionAtTimestamp(tsMillis: Long): Long = {
    var last = -1L
    var eff = Long.MinValue
    val names = store.listPrefixOrdered(LogPrefix).iterator
    var done = false
    while (!done && names.hasNext) {
      val n = names.next()
      val j = Json.parse(new String(store.read(n), "UTF-8")).asObj
      eff = math.max(eff, j.get("ts").map(_.asLong).getOrElse(0L))
      if (eff <= tsMillis) last = j("id").asLong else done = true
    }
    if (last < 0) throw new IllegalArgumentException(
      s"no commit at or before timestamp $tsMillis (first commit is later)")
    last + 1
  }

  /** The first commit id whose MONOTONIZED wall clock is at-or-after
    * `tsMillis` — the change feed's `startingTimestamp` resolution ("all
    * changes committed at or after the instant", Delta semantics): the
    * change window then STARTS at snapshot version = that commit id, so
    * the commit itself is inside the window. Same effective-clock rule
    * as [[versionAtTimestamp]] — the two stay consistent under writer
    * clock skew. Throws when every retained commit is earlier.
    */
  def versionAfterTimestamp(tsMillis: Long): Long = {
    var eff = Long.MinValue
    val names = store.listPrefixOrdered(LogPrefix).iterator
    while (names.hasNext) {
      val n = names.next()
      val j = Json.parse(new String(store.read(n), "UTF-8")).asObj
      eff = math.max(eff, j.get("ts").map(_.asLong).getOrElse(0L))
      if (eff >= tsMillis) return j("id").asLong
    }
    throw new IllegalArgumentException(
      s"no commit at or after timestamp $tsMillis (latest commit is earlier)")
  }

  /** The current log version (next commit id) from the name listing
    * alone — no body is read. When retention has reclaimed EVERY log
    * entry (all ids < the newest checkpoint, and nothing committed
    * since), the checkpoint version IS the next id; a log entry, when
    * present, is always newer than any checkpoint's fold.
    */
  def latestVersion: Long =
    store.listPrefixOrdered(LogPrefix).lastOption
      .map(_.stripPrefix(LogPrefix).toLong + 1)
      .orElse(newestCheckpointVersion)
      .getOrElse(0L)

  /** Delete every log entry, checkpoint manifest, and checkpoint part
    * strictly below `horizon` — the log-retention reclaim. `horizon`
    * MUST be the version of a still-present checkpoint (or 0 = no-op):
    * [[begin]] then replays from that checkpoint and the retained
    * contiguous log suffix. Returns the number of objects deleted.
    *
    * Deletion order is crash-safe: manifests first (so no reader can
    * select a checkpoint whose parts are gone), then parts, then log
    * entries OLDEST-LAST is not needed — log ids below a surviving
    * checkpoint are never replayed by [[begin]], and [[beginAt]] fails
    * loudly on the gap rather than returning partial history.
    */
  def pruneTo(horizon: Long): Int = {
    if (horizon <= 0) return 0
    var n = 0
    store.listPrefixOrdered(CkptPrefix).foreach { name =>
      if (name.stripPrefix(CkptPrefix).toLong < horizon) {
        store.delete(name); n += 1
      }
    }
    store.listPrefixOrdered(CkptPartPrefix).foreach { name =>
      val v = name.stripPrefix(CkptPartPrefix).takeWhile(_ != '_').toLong
      if (v < horizon) { store.delete(name); n += 1 }
    }
    store.listPrefixOrdered(LogPrefix).foreach { name =>
      if (name.stripPrefix(LogPrefix).toLong < horizon) {
        store.delete(name); n += 1
      }
    }
    n
  }

  /** Newest vacuum-lease epoch: (epoch, owner, ts, released). */
  private def newestVacuumLease(): Option[(Long, String, Long, Boolean)] =
    store.listPrefixOrdered(TxLog.VacuumLeaseName + "_").lastOption.map {
      name =>
        val e = name.stripPrefix(TxLog.VacuumLeaseName + "_").toLong
        try {
          val j = Json.parse(new String(store.read(name), "UTF-8")).asObj
          (e, j("owner").asStr, j("ts").asLong,
            j.get("released").exists { case JBool(b) => b; case _ => false })
        } catch {
          // unreadable marker (torn write, deleted between list and
          // read): treat as an unreleased lease of unknown age 0 — the
          // STALE direction resolves it after staleMs, never silently
          case _: Exception => (e, "", 0L, false)
        }
    }

  private def claimVacuumEpoch(epoch: Long, owner: String,
      released: Boolean): Boolean =
    store.putIfAbsent(f"${TxLog.VacuumLeaseName}_$epoch%020d",
      Json.write(Json.obj(
        "owner" -> Json.str(owner),
        "ts" -> Json.num(System.currentTimeMillis()),
        "released" -> JBool(released))).getBytes("UTF-8"))

  /** Acquire the single-VACUUM lease: epoch-numbered `putIfAbsent`
    * markers — the SAME first-writer-wins primitive the commit path
    * trusts on every store — so two racing vacuums can never both own
    * an epoch. Succeeds when no lease exists, the newest is released,
    * or the newest is STALE (its `ts` older than `staleMs` — a crashed
    * vacuum's abandoned lease is taken over, never waited on forever);
    * throws [[IllegalStateException]] when another vacuum's fresh lease
    * holds, or when the claim loses the race for the next epoch.
    * Returns the owner token; [[verifyVacuumLease]] re-checks-and-renews
    * it before each destructive phase, [[releaseVacuumLease]] ends it.
    */
  def acquireVacuumLease(staleMs: Long): String = {
    val owner = java.util.UUID.randomUUID().toString
    val next = newestVacuumLease() match {
      case Some((e, o, ts, released)) =>
        val age = System.currentTimeMillis() - ts
        if (!released && age < staleMs)
          throw new IllegalStateException(
            s"another VACUUM holds the lease (owner $o, ${age} ms old; " +
              s"stale after $staleMs ms) — concurrent vacuums are " +
              "refused, not interleaved")
        e + 1
      case None => 1L
    }
    if (!claimVacuumEpoch(next, owner, released = false))
      throw new IllegalStateException(
        s"lost the VACUUM lease race at epoch $next — another vacuum " +
          "acquired it concurrently")
    owner
  }

  /** Must hold before a destructive vacuum phase: the newest lease
    * epoch is `owner`'s and unreleased (a stale-lease TAKEOVER by
    * another vacuum moves the newest epoch and aborts this one here,
    * loudly, before it deletes or prunes anything more). Renews by
    * claiming the next epoch, so an actively-phasing vacuum's lease age
    * resets at every phase boundary.
    */
  def verifyVacuumLease(owner: String): Unit = newestVacuumLease() match {
    case Some((e, o, _, released)) if o == owner && !released =>
      // best-effort renewal; a lost claim means a racer just took over
      // and the NEXT check (or this one, re-read) aborts us
      if (!claimVacuumEpoch(e + 1, owner, released = false) &&
        !newestVacuumLease().exists(l => l._2 == owner && !l._4))
        throw new IllegalStateException(
          "VACUUM lease lost mid-run (taken over as stale) — aborting " +
            "before the next destructive phase")
    case other => throw new IllegalStateException(
      s"VACUUM lease lost mid-run (now $other) — aborting before the " +
        "next destructive phase")
  }

  /** End `owner`'s lease (a released marker at the next epoch) and
    * reclaim the older epoch markers. Best-effort: failures leave a
    * lease that goes stale after `staleMs` instead of blocking forever.
    */
  def releaseVacuumLease(owner: String): Unit = newestVacuumLease() match {
    case Some((e, o, _, released)) if o == owner && !released =>
      claimVacuumEpoch(e + 1, owner, released = true)
      store.listPrefixOrdered(TxLog.VacuumLeaseName + "_").foreach { n =>
        if (n.stripPrefix(TxLog.VacuumLeaseName + "_").toLong <= e)
          try store.delete(n)
          catch { case scala.util.control.NonFatal(_) => () }
      }
    case _ => ()
  }

  /** Version of the newest checkpoint at or below `v`, if any — the
    * highest legal [[pruneTo]] horizon that keeps versions >= `v`
    * replayable.
    */
  def newestCheckpointAtOrBelow(v: Long): Option[Long] =
    store.listPrefixOrdered(CkptPrefix)
      .map(_.stripPrefix(CkptPrefix).toLong)
      .filter(_ <= v).lastOption

  /** Atomically append `actions` as log id `snapshot.version`.
    *
    * Tolerates S3's ambiguous put failure (timeout AFTER the object became
    * visible — see [[graft.store.FaultInjectingObjectStore]]): each commit
    * body embeds a fresh `commitId` UUID; on IOException from the
    * conditional put, the log entry is read back and its `commitId`
    * compared to ours to disambiguate own-write-landed (success) from
    * lost-race (CommitConflictException) from genuinely-no-effect
    * (rethrow — the caller may safely retry the SAME id, nothing landed).
    * Replay ignores the extra key, so old logs stay readable.
    */
  def commit(snapshot: Snapshot, actions: Seq[Action],
      op: Option[String] = None): Unit = {
    if (actions.isEmpty) return // read-only tx writes nothing (txns.go:120-131)
    val id = snapshot.version
    val commitId = java.util.UUID.randomUUID().toString
    // `op` is commitInfo in the ENVELOPE, not a new action type: replay
    // ignores unknown envelope keys, so old readers stay compatible and
    // no protocol bump is needed
    val fields = Seq(
      "id" -> Json.num(id),
      "commitId" -> Json.str(commitId),
      "ts" -> Json.num(System.currentTimeMillis())) ++
      op.map(o => "op" -> Json.str(o)).toSeq :+
      ("actions" -> Json.arr(actions.map(actionToJson)))
    val body = Json.write(Json.obj(fields: _*))
    val won =
      try store.putIfAbsent(logName(id), body.getBytes("UTF-8"))
      catch {
        case e: java.io.IOException => ownWriteLanded(id, commitId) match {
          case Some(ours) => ours
          case None => throw e // name absent: the put truly had no effect
        }
      }
    if (!won) throw new CommitConflictException(id)
    // the committer's own write advances its cached snapshot in place,
    // so the next begin() re-lists but re-reads nothing. The actions are
    // ROUND-TRIPPED through the codec first: the cached snapshot must be
    // identical to what a replay of the written entry would produce
    // (staged actions may carry pre-normalization value types).
    store.cacheKey.foreach { k =>
      val c = TxLog.snapCache.get(k)
      if (c != null && c.snap.version == id) {
        val replayed = Json.parse(body).asObj("actions").asArr
          .map(actionFromJson)
        TxLog.snapCache.put(k, c.copy(applied = c.applied + 1,
          snap = Snapshot(id + 1, c.snap.actions ++ replayed)))
      }
    }
  }

  /** Read-back disambiguation for an ambiguous put failure: Some(true) if
    * the entry at `id` carries our `commitId` (our write landed before the
    * error), Some(false) if another writer's entry is there, None if no
    * entry exists (the put had no effect).
    */
  private def ownWriteLanded(id: Long, commitId: String): Option[Boolean] =
    try {
      val j = Json.parse(new String(store.read(logName(id)), "UTF-8")).asObj
      Some(j.get("commitId").exists(_.asStr == commitId))
    } catch { case _: java.nio.file.NoSuchFileException => None }

  /** Fold `snapshot` into a MULTI-PART checkpoint covering every log id
    * below `snapshot.version`: last-wins schemas + the live add set
    * (original txIds preserved, removes compiled away).
    *
    * A 10⁶-object table's fold (every Add with stats and bloom words) is
    * a multi-hundred-MB document — far too large to build, put, or parse
    * as ONE driver-held string (Delta checkpoints are multi-part parquet
    * for the same reason). The fold is therefore STREAMED into
    * size-bounded part objects (`_ckptpart_<version>_<k>`, each ≈
    * `maxPartBytes` of serialized actions) and committed by a tiny
    * MANIFEST (`_ckpt_<version>` carrying the part count + format):
    * readers list manifests, so a writer that crashes mid-parts leaves
    * only unreferenced part objects, never a torn checkpoint. Driver
    * memory while writing or reading is one part at a time.
    *
    * Parts are PARQUET ([[CkptParquet]]) — typed columns for the
    * O(objects) fields, JSON string columns for the variable sidecars,
    * Delta's own checkpoint shape — so a cold `begin()` decodes columns
    * instead of parsing O(objects) of JSON text (measured ~5× faster at
    * 20k adds, BASELINE.md "Checkpoint format"). Legacy JSON checkpoints
    * (multi-part via `checkpointJson`, and the older single-object
    * inline form) remain readable: the manifest's `format` field
    * selects the codec.
    *
    * Race-safe like the single-object scheme: names encode the version,
    * concurrent checkpointers of one version fold identical content,
    * put-if-absent keeps one copy of each part. Metadata-only — no
    * table data is touched.
    */
  def checkpoint(snapshot: Snapshot,
      maxPartBytes: Int = DefaultCkptPartBytes): Unit =
    checkpointImpl(snapshot, maxPartBytes, parquet = true)

  /** The legacy JSON-part writer — kept for the read-compat pin
    * (CkptFormatSpec); new checkpoints are always parquet. Its size and
    * cold-begin cost against parquet parts are in BASELINE.md
    * "Checkpoint format".
    */
  private[graft] def checkpointJson(snapshot: Snapshot,
      maxPartBytes: Int = DefaultCkptPartBytes): Unit =
    checkpointImpl(snapshot, maxPartBytes, parquet = false)

  private def checkpointImpl(snapshot: Snapshot, maxPartBytes: Int,
      parquet: Boolean): Unit = {
    val folded = Iterator(
      // protocol survives the fold (and leads it, so a down-level reader
      // rejects the checkpoint before touching anything else)
      Iterator.single(snapshot.protocol)
        .filter(p => p != SetProtocol(1, 1)),
      snapshot.tables.iterator.flatMap { case (t, schema) =>
        Iterator(ChangeMetadata(t, schema)) ++
          snapshot.constraints(t).toSeq.sortBy(_._1).iterator
            .map { case (n, e) => SetConstraint(t, n, e) } ++
          // key-sorted so concurrent checkpointers emit identical parts
          { val props = snapshot.properties(t)
            if (props.isEmpty) Iterator.empty
            else Iterator.single(SetProperties(t,
              scala.collection.immutable.ListMap(
                props.toSeq.sortBy(_._1): _*))) } ++
          snapshot.liveFiles(t).iterator ++
          snapshot.liveDvs(t).iterator
      },
      // sink watermarks survive the fold, or a post-checkpoint retry of
      // an already-committed micro-batch would double-write
      snapshot.txns().toSeq.sortBy(_._1).iterator
        .map { case (a, v) => SetTxn(a, v) }).flatten
    var parts = 0
    if (parquet) {
      // parts are independent by construction (the writer cuts the fold
      // stream at size boundaries), so ENCODE + PUT pipeline on a
      // bounded pool while the fold keeps streaming — the encode is the
      // cost at scale (10⁶ actions), and serial part encoding would
      // leave the driver single-threaded exactly where the read side
      // already decodes concurrently (readCheckpoint). Memory stays
      // bounded: each queued task holds a Vector of REFERENCES into the
      // snapshot's action list the driver already retains, plus one
      // encoded byte[] per in-flight part. Any part failure propagates
      // before the manifest is written, so a failed checkpoint leaves
      // only unreferenced parts — the documented crash shape.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(8, Runtime.getRuntime.availableProcessors()),
        r => { val t = new Thread(r, "graft-ckpt-write")
          t.setDaemon(true); t })
      val pending =
        scala.collection.mutable.ArrayBuffer[java.util.concurrent.Future[_]]()
      val batch = scala.collection.mutable.ArrayBuffer[Action]()
      var approx = 0L
      def flushPart(): Unit = if (batch.nonEmpty) {
        val body = batch.toVector
        val idx = parts
        pending += pool.submit(new Runnable {
          def run(): Unit = store.putIfAbsent(
            ckptPartName(snapshot.version, idx, parquet = true),
            CkptParquet.write(body))
        })
        parts += 1
        batch.clear()
        approx = 0L
      }
      try {
        folded.foreach { a =>
          val est = CkptParquet.sizeEstimate(a)
          if (batch.nonEmpty && approx + est > maxPartBytes) flushPart()
          batch += a
          approx += est
        }
        flushPart()
        pending.foreach(f => try f.get() catch {
          // surface the store's own exception type, not the wrapper —
          // callers' failure handling predates the pool
          case e: java.util.concurrent.ExecutionException =>
            throw e.getCause
        })
      } finally pool.shutdown()
    } else {
      val sb = new StringBuilder
      def flushPart(): Unit = if (sb.nonEmpty) {
        val body = s"""{"actions":[$sb]}"""
        store.putIfAbsent(ckptPartName(snapshot.version, parts),
          body.getBytes("UTF-8"))
        parts += 1
        sb.clear()
      }
      folded.foreach { a =>
        val j = Json.write(actionToJson(a))
        if (sb.nonEmpty && sb.length + j.length + 1 > maxPartBytes) flushPart()
        if (sb.nonEmpty) sb.append(',')
        sb.append(j)
      }
      flushPart()
    }
    val manifest = Json.write(Json.obj(Seq(
      "version" -> Json.num(snapshot.version),
      "parts" -> Json.num(parts.toLong)) ++
      // pnames: parts use the 'p'-suffixed naming — recorded so readers
      // key the part names on the manifest instead of probing (see
      // readCheckpoint: the FIRST parquet engine wrote format:"parquet"
      // manifests over BARE part names, so the suffix cannot be
      // inferred from the format alone)
      (if (parquet) Seq("format" -> Json.str("parquet"),
        "pnames" -> JBool(true)) else Nil): _*))
    store.putIfAbsent(ckptName(snapshot.version), manifest.getBytes("UTF-8"))
    // advance the _last_checkpoint pointer (plain overwrite put, Delta's
    // mechanism). Best-effort and advisory: a crash before this line, or
    // two checkpointers racing the overwrite, leaves at worst an OLDER
    // pointer — readers replay a few more log entries and the `_ckpt_`
    // listing fallback still finds the newest. Never move it backwards.
    val stale = try {
      val j = Json.parse(new String(store.read(LastCkptPtr), "UTF-8")).asObj
      j("version").asLong >= snapshot.version
    } catch { case _: Exception => false }
    if (!stale)
      store.put(LastCkptPtr, Json.write(Json.obj(
        "version" -> Json.num(snapshot.version))).getBytes("UTF-8"))
  }

  /** Append a checkpoint's actions (parquet, multi-part JSON, or legacy
    * inline) into `into`, one part decoded at a time; returns its
    * version. The manifest's `format` field selects the codec — absent
    * means JSON (every pre-round-11 log).
    */
  private def readCheckpoint(name: String,
      into: scala.collection.mutable.Builder[Action, Vector[Action]]): Long = {
    val j = Json.parse(new String(store.read(name), "UTF-8")).asObj
    val version = j("version").asLong
    val parquet = j.get("format").exists(_.asStr == "parquet")
    j.get("parts") match {
      case Some(p) =>
        val count = p.asLong.toInt
        // Part-name style: manifests with pnames:true use the
        // 'p'-suffixed names directly. Manifests WITHOUT the flag are
        // from before it existed, and those come in BOTH namings — the
        // first parquet engine wrote bare part names under the same
        // format:"parquet" manifest — so one prefix listing resolves
        // which names actually exist (throwing on the missing suffixed
        // part would make pre-flag tables unreadable once pruneTo
        // reclaimed the log below their checkpoint).
        val decode: Array[Byte] => Vector[Action] =
          if (parquet) CkptParquet.read
          else bytes => Json.parse(new String(bytes, "UTF-8"))
            .asObj("actions").asArr.map(actionFromJson)
        val nameOf: Int => String =
          if (!parquet) k => ckptPartName(version, k)
          else if (j.get("pnames")
              .exists { case JBool(b) => b; case _ => false })
            k => ckptPartName(version, k, parquet = true)
          else {
            val present = store
              .listPrefixOrdered(f"${CkptPartPrefix}${version}%020d_").toSet
            // commit to ONE naming family for the whole set: a racing
            // engine at the same version may have written the OTHER
            // family with a different cut (its size estimator diverged)
            // and lost the manifest putIfAbsent — resolving per part
            // index could splice two cuts into one replay (duplicated/
            // dropped actions, a silently wrong snapshot). Reading ALL
            // parts of the manifest writer's OWN family is safe, and
            // that family is identified by size — so: bare when the
            // bare family's total equals the manifest count, else
            // suffixed when its total does, else bare, which then
            // throws loudly on the missing part.
            // family sizes from the listing (parts number contiguously
            // from 0): the manifest's own family is the one whose TOTAL
            // equals the manifest count — a racer's family with a
            // different cut has a different total and is never spliced.
            // pnames manifests — everything written since the flag —
            // name their family authoritatively and never take this
            // branch.
            val bareTotal = present.count(!_.endsWith("p"))
            val sufTotal = present.size - bareTotal
            if (bareTotal == count && sufTotal == count) {
              // BOTH families list exactly `count` parts — the one
              // shape the size rule alone cannot arbitrate: one family
              // is the manifest writer's complete cut, the other may be
              // a crashed racer's prefix that stopped at exactly
              // `count` parts of a LARGER planned set (the round-12/13
              // accepted residual, closed here). Both fold the same
              // version's snapshot, so a complete family can never hold
              // fewer actions than a truncated prefix of a fold — decode
              // both and keep the larger; equal counts mean both are
              // complete folds and either replays the same state.
              // Pre-pnames manifests are a frozen legacy population, so
              // the double decode prices only this already-rare
              // ambiguity, never a post-flag checkpoint.
              // per-family decode under Try: the racer's parts were
              // pool-written, so its crash can leave `count` parts at
              // NON-contiguous indices — that family throws on its gap
              // and must not mask the complete one
              def family(suffixed: Boolean) = scala.util.Try(
                (0 until count).flatMap(k => decode(store.read(
                  ckptPartName(version, k, parquet = suffixed)))).toVector)
              val chosen = (family(false), family(true)) match {
                case (scala.util.Success(b), scala.util.Success(s)) =>
                  if (s.length > b.length) s else b
                case (scala.util.Success(b), _) => b
                case (_, scala.util.Success(s)) => s
                case (scala.util.Failure(e), _) => throw e
              }
              into ++= chosen
              return version
            }
            val useSuffixed = bareTotal != count && sufTotal == count
            k => ckptPartName(version, k, parquet = useSuffixed)
          }
        if (count <= 1)
          (0 until count).foreach(k => into ++= decode(store.read(nameOf(k))))
        else {
          // parts are INDEPENDENT by construction (the writer cuts the
          // fold at action boundaries), so a cold begin() fetches and
          // decodes them concurrently — at a 10⁶-object checkpoint the
          // driver-side decode is the cold-start bottleneck (~3× at 8
          // threads: BASELINE.md "10⁶-object cold begin"). Bounded
          // pool; results append IN ORDER, so the replayed snapshot is
          // identical to the sequential fold. In-flight driver memory ≈
          // threads × maxPartBytes.
          // ObjectStore.read must be thread-safe (all impls are:
          // filesystem reads, a ConcurrentHashMap, java.net.http).
          val threads = math.min(count,
            math.min(8, Runtime.getRuntime.availableProcessors()))
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            threads,
            r => { val t = new Thread(r, "graft-ckpt-decode")
              t.setDaemon(true); t })
          try {
            val futs = (0 until count).map { k =>
              pool.submit(new java.util.concurrent.Callable[Vector[Action]] {
                def call(): Vector[Action] = decode(store.read(nameOf(k)))
              })
            }
            futs.foreach { f =>
              into ++= (try f.get()
              catch {
                case e: java.util.concurrent.ExecutionException =>
                  throw e.getCause
              })
            }
          } finally pool.shutdown()
        }
      case None => // legacy single-object checkpoint
        into ++= j("actions").asArr.map(actionFromJson)
    }
    version
  }
}

object TxLog {
  /** One JVM-wide cached snapshot per store ([[ObjectStore.cacheKey]]):
    * `applied` counts entries rolled forward since the last full replay
    * — at [[RebaseAfter]] the next begin() re-bases through a full
    * replay so newer checkpoints re-compact the action vector.
    */
  private[tx] final case class CachedSnap(ckptBase: Long, applied: Int,
      snap: Snapshot)
  /** Bounded LRU: per-instance cache keys (e.g. [[graft.store.S3ObjectStore]]
    * mints a fresh UUID per store object) would otherwise pin one full
    * action vector per constructed store for the life of the JVM —
    * patterns that build a store per operation (as the SQL catalog builds
    * clients) must not grow heap without bound. 64 live stores of cache
    * is plenty; an evicted entry just costs its owner one full replay.
    */
  private[tx] val snapCache: java.util.Map[String, CachedSnap] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, CachedSnap](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, CachedSnap]): Boolean =
          size() > 64
      })
  private[tx] val RebaseAfter = 64
  /** Test hook: drop every cached snapshot (e.g. to pin cached == cold). */
  private[graft] def clearSnapshotCache(): Unit = snapCache.clear()
  /** Test hook: live entry count (pins the LRU bound). */
  private[graft] def snapshotCacheSize: Int = snapCache.size()

  /** Highest [[SetProtocol]] reader/writer versions this engine
    * implements. Version 1 is the complete format through mid-round 8
    * (optional fields are additive and skip-safe). Version 2 adds
    * INITIAL COLUMN DEFAULTS (`graftDefault`/`graftDefaultSince` field
    * metadata): a v1 reader would silently surface nulls where the
    * table contract says the default, and a v1 writer's REORG would
    * clear the driving metadata without baking the values — so
    * `addColumnWithDefault` upgrades pre-v2 logs in its own commit and
    * down-level engines fail loudly instead. Version 3 adds FILE-LEVEL
    * CDC (`cdc` actions + the `graft.enableChangeDataFeed` property): a
    * v2 reader would crash on the unknown action with a generic error
    * instead of the named upgrade message, and a v2 writer would mutate
    * a CDF-enabled table WITHOUT recording its change set — silently
    * corrupting the feed downstream consumers rely on — so enabling the
    * property upgrades the log in the same commit. (Per-object `ndv`
    * blobs on add actions are additive and skip-safe; no gate.)
    */
  val SupportedReaderVersion = 3
  val SupportedWriterVersion = 3

  /** The protocol a FRESH table starts at — the base format, version 1.
    * Tables only require what they use (Delta's minimum-required-
    * protocol model): a v1 engine keeps reading new tables until a
    * v2 feature (initial column defaults) actually lands, at which
    * point that feature's commit upgrades the log.
    */
  val BaseReaderVersion = 1
  val BaseWriterVersion = 1
  val LogPrefix = "_log_"
  val CkptPrefix = "_ckpt_"
  /** Pointer object naming the newest checkpoint version — one read
    * replaces a full `_ckpt_` listing in [[TxLog.begin]]. Advisory
    * (overwrite-put; may lag), validated against the named manifest.
    */
  val LastCkptPtr = "_last_checkpoint"
  /** Part objects deliberately do NOT match a CkptPrefix listing
    * ("_ckptpart..." diverges from "_ckpt_" at the sixth character), so
    * manifests alone decide which checkpoints exist — a writer that
    * crashes mid-parts leaves unreferenced parts, never a torn
    * checkpoint.
    */
  val CkptPartPrefix = "_ckptpart_"
  /** ~4 MiB of serialized actions per checkpoint part. */
  val DefaultCkptPartBytes: Int = 4 << 20
  /** Advisory single-VACUUM lease marker (overwrite-put; see
    * [[TxLog.acquireVacuumLease]]). Deliberately outside every replay
    * prefix — replay and retention never read or reclaim it.
    */
  val VacuumLeaseName = "_vacuum_lease"
  def logName(id: Long): String = f"${LogPrefix}${id}%020d"
  def ckptName(id: Long): String = f"${CkptPrefix}${id}%020d"
  /** Part names carry the FORMAT as a suffix (parquet parts end in
    * 'p'; legacy JSON parts are bare) so a mixed-version fleet racing
    * two checkpointers of one version can never interleave formats
    * under one set of names: each writer putIfAbsent-s its own complete
    * set, whichever MANIFEST lands first selects a self-consistent set,
    * and the loser's parts are unreferenced orphans the retention
    * sweep reclaims by version. A pre-parquet engine reading a parquet
    * manifest fails loudly on the missing bare-named part (it cannot
    * decode parquet regardless); same-version engines dedupe naturally.
    */
  def ckptPartName(id: Long, part: Int, parquet: Boolean = false): String =
    f"${CkptPartPrefix}${id}%020d_${part}%05d" + (if (parquet) "p" else "")
  def dataObjectName(table: String, uuid: String): String =
    s"_table_${table}_$uuid"

  // stats values are tagged for exact round-trip: longs as strings (the
  // codec's 64-bit convention), doubles as JSON numbers, strings as strings
  private def statToJson(v: Any): JValue = v match {
    case l: Long => Json.obj("l" -> Json.num(l))
    case d: Double =>
      // fail the commit cleanly rather than write unparseable JSON that
      // would corrupt the whole log (ParquetFooters already filters
      // non-finite bounds; this is the defense in depth)
      require(java.lang.Double.isFinite(d), s"non-finite stat bound: $d")
      Json.obj("d" -> JNum(d))
    case s: String => Json.obj("s" -> Json.str(s))
    case other => sys.error(s"unencodable stat value: $other")
  }
  private def statFromJson(v: JValue): Any = {
    val o = v.asObj
    o.get("l").map(_.asLong)
      .orElse(o.get("d").map(_.asInstanceOf[JNum].value))
      .orElse(o.get("s").map(_.asStr))
      .getOrElse(sys.error(s"bad stat value: $v"))
  }
  private[tx] def statsToJson(stats: Map[String, ColStats]): JValue =
    JObj(stats.map { case (c, cs) =>
      val base = Seq("min" -> statToJson(cs.min), "max" -> statToJson(cs.max))
      // nulls rides optionally: logs written before the field (or from
      // writers that couldn't count) parse back to None
      c -> JObj((base ++ cs.nulls.map(n => "nulls" -> Json.num(n))).toMap)
    })
  private[tx] def statsFromJson(v: JValue): Map[String, ColStats] =
    v.asObj.map { case (c, o) =>
      c -> ColStats(statFromJson(o.asObj("min")),
        statFromJson(o.asObj("max")),
        o.asObj.get("nulls").map(_.asLong))
    }

  private[tx] def bloomRefsToJson(refs: Map[String, BloomRef]): JValue =
    JObj(refs.map { case (c, r) => c -> Json.obj(
      "k" -> Json.num(r.k),
      "bits" -> Json.num(r.numBits),
      "path" -> Json.str(r.path)) })
  private[tx] def bloomRefsFromJson(v: JValue): Map[String, BloomRef] =
    v.asObj.map { case (c, o) =>
      c -> BloomRef(o.asObj("k").asLong.toInt, o.asObj("bits").asLong,
        o.asObj("path").asStr)
    }

  private[tx] def bloomsToJson(blooms: Map[String, BloomData]): JValue =
    JObj(blooms.map { case (c, b) => c -> Json.obj(
      "k" -> Json.num(b.k),
      "words" -> Json.arr(b.words.map(Json.num))) })
  private[tx] def bloomsFromJson(v: JValue): Map[String, BloomData] =
    v.asObj.map { case (c, o) =>
      c -> BloomData(o.asObj("k").asLong.toInt,
        o.asObj("words").asArr.map(_.asLong).toVector)
    }

  def actionToJson(a: Action): JValue = a match {
    case AddDataObject(t, p, tx, n, stats, blooms, rowBase, ndv, refs) =>
      val base = Seq(
        "type" -> Json.str("add"), "table" -> Json.str(t),
        "path" -> Json.str(p), "txId" -> Json.num(tx), "numRows" -> Json.num(n))
      Json.obj((base ++
        (if (stats.isEmpty) Nil else Seq("stats" -> statsToJson(stats))) ++
        (if (blooms.isEmpty) Nil
         else Seq("blooms" -> bloomsToJson(blooms))) ++
        (if (refs.isEmpty) Nil
         // additive and skip-safe for down-level readers: an engine
         // that ignores the key simply doesn't bloom-prune (correct,
         // slower) — no protocol bump needed
         else Seq("bloomref" -> bloomRefsToJson(refs))) ++
        rowBase.map(b => "rowBase" -> Json.num(b)).toSeq ++
        (if (ndv.isEmpty) Nil
         else Seq("ndv" -> JObj(ndv.map { case (c, blob) =>
           c -> Json.str(java.util.Base64.getEncoder.encodeToString(blob))
         })))): _*)
    case AddDeleteVector(t, p, tx, n) => Json.obj(
      "type" -> Json.str("dv"), "table" -> Json.str(t),
      "path" -> Json.str(p), "txId" -> Json.num(tx), "numRows" -> Json.num(n))
    case AddCdcObject(t, p, tx, n) => Json.obj(
      "type" -> Json.str("cdc"), "table" -> Json.str(t),
      "path" -> Json.str(p), "txId" -> Json.num(tx), "numRows" -> Json.num(n))
    case RemoveDataObject(t, p) => Json.obj(
      "type" -> Json.str("remove"), "table" -> Json.str(t),
      "path" -> Json.str(p))
    case ChangeMetadata(t, s) => Json.obj(
      "type" -> Json.str("metadata"), "table" -> Json.str(t),
      "schema" -> Json.str(s.json))
    case SetTxn(a, v) => Json.obj(
      "type" -> Json.str("txn"), "appId" -> Json.str(a),
      "version" -> Json.num(v))
    case SetConstraint(t, n, e) => Json.obj(
      "type" -> Json.str("constraint"), "table" -> Json.str(t),
      "name" -> Json.str(n), "expr" -> Json.str(e))
    case SetProperties(t, set, unset) => Json.obj(
      "type" -> Json.str("properties"), "table" -> Json.str(t),
      "set" -> JObj(scala.collection.immutable.ListMap(
        set.toSeq.sortBy(_._1).map { case (k, v) =>
          k -> Json.str(v) }: _*)),
      "unset" -> Json.arr(unset.map(Json.str)))
    case DropTable(t) => Json.obj(
      "type" -> Json.str("droptable"), "table" -> Json.str(t))
    case SetProtocol(r, w) => Json.obj(
      "type" -> Json.str("protocol"), "minReader" -> Json.num(r.toLong),
      "minWriter" -> Json.num(w.toLong))
  }

  def actionFromJson(v: JValue): Action = {
    val o = v.asObj
    o("type").asStr match {
      case "add" => AddDataObject(o("table").asStr, o("path").asStr,
        o("txId").asLong, o("numRows").asLong,
        o.get("stats").map(statsFromJson).getOrElse(Map.empty),
        o.get("blooms").map(bloomsFromJson).getOrElse(Map.empty),
        o.get("rowBase").map(_.asLong),
        o.get("ndv").map(_.asObj.map { case (c, v) =>
          c -> java.util.Base64.getDecoder.decode(v.asStr)
        }).getOrElse(Map.empty),
        o.get("bloomref").map(bloomRefsFromJson).getOrElse(Map.empty))
      case "dv" => AddDeleteVector(o("table").asStr, o("path").asStr,
        o("txId").asLong, o("numRows").asLong)
      case "cdc" => AddCdcObject(o("table").asStr, o("path").asStr,
        o("txId").asLong, o("numRows").asLong)
      case "remove" => RemoveDataObject(o("table").asStr, o("path").asStr)
      case "metadata" => ChangeMetadata(o("table").asStr,
        DataType.fromJson(o("schema").asStr).asInstanceOf[StructType])
      case "txn" => SetTxn(o("appId").asStr, o("version").asLong)
      case "constraint" => SetConstraint(o("table").asStr, o("name").asStr,
        o("expr").asStr)
      case "properties" => SetProperties(o("table").asStr,
        o("set").asObj.map { case (k, v) => k -> v.asStr },
        o("unset").asArr.map(_.asStr))
      case "droptable" => DropTable(o("table").asStr)
      case "protocol" => SetProtocol(o("minReader").asLong.toInt,
        o("minWriter").asLong.toInt)
      case other => throw new IllegalStateException(
        s"unknown log action type '$other' — this log was written by a " +
          "newer engine (check its SetProtocol requirements); refusing " +
          "to replay partially")
    }
  }
}
