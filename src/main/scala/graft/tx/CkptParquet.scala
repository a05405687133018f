package graft.tx

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport, GroupWriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{DelegatingSeekableInputStream, InputFile, OutputFile, PositionOutputStream, SeekableInputStream}
import org.apache.parquet.schema.MessageTypeParser

/** PARQUET checkpoint parts (Delta moved its checkpoints from JSON to
  * parquet for exactly this): a cold `begin()` on a 10⁶-object table
  * otherwise parses O(objects) of JSON text on the driver. One row per
  * action; the O(objects) fields (kind/table/path/txId/numRows/rowBase)
  * are TYPED columns decoded by parquet's columnar reader, while the
  * variable sidecars (stats/blooms/ndv) stay compact JSON strings in
  * optional columns — Delta's own checkpoint shape (its `add.stats` is
  * a JSON string column too). The metadata-sized action types
  * (ChangeMetadata/SetTxn/constraints/properties/protocol — O(tables),
  * not O(objects)) ride whole as one JSON `body` column.
  *
  * Parts are written through the [[graft.store.ObjectStore]] byte API
  * (the log plane's only contract), so each part is encoded into and
  * decoded from a byte array in memory — a part is ≤ maxPartBytes by
  * construction, so the buffer is bounded. No file system is touched
  * (no scratch file, no checksum sibling, no `chmod`), and no Spark
  * session is involved: checkpoints must be writable from any
  * log-plane context (maintenance procedures, the commit hook).
  *
  * Legacy JSON checkpoints (multi-part and single-object) stay
  * readable — the manifest's `format` field selects the codec
  * ([[TxLog.readCheckpoint]]).
  */
private[tx] object CkptParquet {

  private val Schema = MessageTypeParser.parseMessageType(
    """message graft_ckpt {
      |  required binary kind (UTF8);
      |  optional binary tbl (UTF8);
      |  optional binary path (UTF8);
      |  optional int64 txId;
      |  optional int64 numRows;
      |  optional int64 rowBase;
      |  optional binary stats (UTF8);
      |  optional binary blooms (UTF8);
      |  optional binary ndv (UTF8);
      |  optional binary bloomRefs (UTF8);
      |  optional binary body (UTF8);
      |}""".stripMargin)

  /** The Hadoop defaults, loaded once per JVM. A `new Configuration()`
    * searches the classpath and parses `core-default.xml` again on first
    * use (8–12 ms with Spark's jars on a 4-vCPU host); each part write
    * or read takes a copy of this one instead (about 0.5 ms), never
    * mutating the base.
    */
  private lazy val defaults: Configuration = new Configuration()

  private def freshConf(): Configuration = {
    // loads the defaults on first use, and again only if a default
    // resource was registered since (Hadoop then resets every conf)
    defaults.size()
    new Configuration(defaults)
  }

  /** Approximate serialized size of one action — the part-boundary
    * estimator (bounds driver memory per part; never exact, never
    * needs to be).
    */
  private def statValSize(v: Any): Long = v match {
    case s: String => s.length + 8L
    case _ => 24L // numeric/date/null bounds are a few JSON tokens
  }

  def sizeEstimate(a: Action): Long = a match {
    case ad: AddDataObject =>
      // string bounds are stored untruncated, so they must be priced by
      // their ACTUAL length — a flat per-stat constant undershoots by
      // orders of magnitude on multi-KB keys (URLs, document ids) and
      // breaks the bounded-driver-memory contract of the part scheme
      64L + ad.path.length + ad.table.length +
        ad.stats.iterator.map { case (c, cs) =>
          c.length + statValSize(cs.min) + statValSize(cs.max) + 16L }.sum +
        ad.blooms.iterator.map { case (c, b) =>
          c.length + b.words.length * 20L + 16L }.sum +
        ad.ndv.iterator.map { case (c, b) =>
          c.length + (b.length * 4L) / 3 + 16L }.sum +
        ad.bloomRefs.iterator.map { case (c, r) =>
          c.length + r.path.length + 32L }.sum
    case _ => 256L
  }

  private def ndvToJson(ndv: Map[String, Array[Byte]]): JValue =
    JObj(ndv.map { case (c, blob) =>
      c -> Json.str(java.util.Base64.getEncoder.encodeToString(blob))
    })

  private def ndvFromJson(v: JValue): Map[String, Array[Byte]] =
    v.asObj.map { case (c, s) =>
      c -> java.util.Base64.getDecoder.decode(s.asStr)
    }

  /** A parquet file written into memory. */
  private final class BytesOutputFile extends OutputFile {
    val bytes = new java.io.ByteArrayOutputStream()
    private def stream: PositionOutputStream = new PositionOutputStream {
      override def getPos: Long = bytes.size.toLong
      override def write(b: Int): Unit = bytes.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        bytes.write(b, off, len)
    }
    override def create(blockSizeHint: Long): PositionOutputStream = stream
    override def createOrOverwrite(blockSizeHint: Long): PositionOutputStream = {
      bytes.reset()
      stream
    }
    override def supportsBlockSize(): Boolean = false
    override def defaultBlockSize(): Long = 0L
  }

  private final class SeekableBytes(bytes: Array[Byte])
      extends java.io.ByteArrayInputStream(bytes) {
    def position: Long = pos.toLong
    def seekTo(p: Long): Unit = pos = p.toInt
  }

  /** A parquet file read from memory. */
  private final class BytesInputFile(bytes: Array[Byte]) extends InputFile {
    override def getLength: Long = bytes.length.toLong
    override def newStream(): SeekableInputStream = {
      val in = new SeekableBytes(bytes)
      new DelegatingSeekableInputStream(in) {
        override def getPos: Long = in.position
        override def seek(p: Long): Unit = in.seekTo(p)
      }
    }
  }

  def write(actions: Seq[Action]): Array[Byte] = {
    val out = new BytesOutputFile
    val conf = freshConf()
    GroupWriteSupport.setSchema(Schema, conf)
    val w = ExampleParquetWriter.builder(out)
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    val f = new SimpleGroupFactory(Schema)
    try actions.foreach { a =>
      val g = f.newGroup()
      a match {
        case AddDataObject(t, p, tx, n, stats, blooms, rowBase, ndv,
            refs) =>
          g.append("kind", "add").append("tbl", t).append("path", p)
          g.append("txId", tx).append("numRows", n)
          rowBase.foreach(b => g.append("rowBase", b))
          if (stats.nonEmpty)
            g.append("stats", Json.write(TxLog.statsToJson(stats)))
          if (blooms.nonEmpty)
            g.append("blooms", Json.write(TxLog.bloomsToJson(blooms)))
          if (ndv.nonEmpty)
            g.append("ndv", Json.write(ndvToJson(ndv)))
          if (refs.nonEmpty)
            g.append("bloomRefs",
              Json.write(TxLog.bloomRefsToJson(refs)))
        case AddDeleteVector(t, p, tx, n) =>
          g.append("kind", "dv").append("tbl", t).append("path", p)
          g.append("txId", tx).append("numRows", n)
        case AddCdcObject(t, p, tx, n) =>
          g.append("kind", "cdc").append("tbl", t).append("path", p)
          g.append("txId", tx).append("numRows", n)
        case other =>
          g.append("kind", "other")
          g.append("body", Json.write(TxLog.actionToJson(other)))
      }
      w.write(g)
    } finally w.close()
    out.bytes.toByteArray
  }

  def read(bytes: Array[Byte]): Vector[Action] = {
    // the InputFile builder, not `ParquetReader.builder(support, path)`:
    // that one reads options from a `new Configuration()` of its own
    // before `withConf` can replace it, reloading the defaults
    val reader = new ParquetReader.Builder[Group](new BytesInputFile(bytes),
        new HadoopParquetConfiguration(freshConf())) {
      override protected def getReadSupport(): ReadSupport[Group] =
        new GroupReadSupport()
    }.build()
    val out = Vector.newBuilder[Action]
    try {
      var g = reader.read()
      while (g != null) {
        out += fromGroup(g)
        g = reader.read()
      }
    } finally reader.close()
    out.result()
  }

  private def optS(g: Group, field: String): Option[String] =
    // containsField guard: parts written before a column existed (e.g.
    // bloomRefs) produce Groups under the FILE schema, and asking for
    // an unknown field would throw instead of reading as absent
    if (g.getType.containsField(field) &&
        g.getFieldRepetitionCount(field) > 0) Some(g.getString(field, 0))
    else None
  private def optL(g: Group, field: String): Option[Long] =
    if (g.getFieldRepetitionCount(field) > 0) Some(g.getLong(field, 0))
    else None

  private def fromGroup(g: Group): Action = g.getString("kind", 0) match {
    case "add" => AddDataObject(
      optS(g, "tbl").get, optS(g, "path").get,
      optL(g, "txId").get, optL(g, "numRows").get,
      optS(g, "stats").map(s => TxLog.statsFromJson(Json.parse(s)))
        .getOrElse(Map.empty),
      optS(g, "blooms").map(s => TxLog.bloomsFromJson(Json.parse(s)))
        .getOrElse(Map.empty),
      optL(g, "rowBase"),
      optS(g, "ndv").map(s => ndvFromJson(Json.parse(s)))
        .getOrElse(Map.empty),
      optS(g, "bloomRefs")
        .map(s => TxLog.bloomRefsFromJson(Json.parse(s)))
        .getOrElse(Map.empty))
    case "dv" => AddDeleteVector(optS(g, "tbl").get, optS(g, "path").get,
      optL(g, "txId").get, optL(g, "numRows").get)
    case "cdc" => AddCdcObject(optS(g, "tbl").get, optS(g, "path").get,
      optL(g, "txId").get, optL(g, "numRows").get)
    case "other" => TxLog.actionFromJson(Json.parse(optS(g, "body").get))
    case unknown => throw new IllegalStateException(
      s"unknown checkpoint action kind '$unknown' — written by a newer " +
        "engine; refusing to replay partially")
  }
}
