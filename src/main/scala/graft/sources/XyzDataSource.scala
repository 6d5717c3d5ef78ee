package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.io.Source

/** Line source shared by the xyz readers: transparently decompresses
  * `.xyz.gz` (the reference registers the gzipped variant alongside the
  * plain one — core/dask_traj.py:50-51). Gzip is not splittable, but
  * chunked frame-range partitions still parallelize the PARSE across
  * tasks (each task decompresses its prefix — the same tradeoff Spark's
  * own text sources make for gzip). All opens route through [[FsIO]],
  * so the shards may live on any Hadoop filesystem. */
private[sources] object XyzLines {
  def open(path: String): Source =
    if (path.endsWith(".gz"))
      Source.fromInputStream(new java.util.zip.GZIPInputStream(
        FsIO.openStream(path)))
    else Source.fromInputStream(FsIO.openStream(path))
}

/** Malformed-record handling shared by the trajectory text sources —
  * the Spark-idiomatic form of the reference's `ensure_type` contract
  * (utils/validation.py:89-101: coercible input is accepted with a
  * warning — the warn-and-CAST half at :97-101 — and only truly invalid
  * input raises). Same names and semantics as Spark's CSV/JSON sources
  * where they overlap:
  *  - FAILFAST (default): any malformed record fails the task with
  *    file/frame/line context;
  *  - DROPMALFORMED: malformed records are dropped, counted, and
  *    reported once per partition through the task's logger;
  *  - COERCEWARN: numeric tokens in a convertible-but-wrong lexical
  *    form (Fortran `1.5D0` exponents, trailing `1.5f` type suffixes,
  *    comma decimals) are accepted after coercion, counted, and
  *    reported — the direct analog of ensure_type accepting a
  *    castable-but-mistyped array with a logged warning. Tokens that no
  *    coercion rescues still fail like FAILFAST.
  * Both counters also surface as DSv2 custom metrics on the scan
  * (`droppedRecords` / `coercedRecords`), so the warn path is
  * observable in the SQL UI and from `executedPlan.metrics`, not only
  * in executor logs.
  */
private[sources] object ParseMode {
  val FailFast = "FAILFAST"
  val DropMalformed = "DROPMALFORMED"
  val CoerceWarn = "COERCEWARN"

  def fromOptions(fmt: String, properties: java.util.Map[String, String])
      : String =
    Option(properties.get("mode")).map(_.toUpperCase) match {
      case None | Some(FailFast) => FailFast
      case Some(DropMalformed) => DropMalformed
      case Some(CoerceWarn) => CoerceWarn
      case Some(other) => throw new IllegalArgumentException(
        s"$fmt option 'mode' must be FAILFAST, DROPMALFORMED or " +
          s"COERCEWARN, got '$other'")
    }

  /** Lexical coercions for convertible-but-mistyped numeric tokens, in
    * priority order. Each rule targets one real-world mistyping:
    * Fortran double-precision exponents (`1.5D0`) and decimal commas
    * (`1,5`). (C-style `1.5f`/`1.5d` type suffixes already parse
    * strictly — Java's parseDouble grammar accepts them — so they need
    * no rule.) Returns None when no rule yields a number — the caller
    * then fails like FAILFAST. */
  def coerce(tok: String): Option[Double] = {
    val t = tok.trim
    if (t.isEmpty) return None
    val candidates = Seq(
      t.replace('D', 'E').replace('d', 'e'),
      t.replace(',', '.'))
    candidates.iterator
      .flatMap(c => scala.util.Try(c.toDouble).toOption)
      .nextOption()
  }

  def warnDropped(fmt: String, path: String, dropped: Long): Unit =
    if (dropped > 0)
      org.slf4j.LoggerFactory.getLogger(s"graft.sources.$fmt").warn(
        s"$fmt source dropped $dropped malformed record(s) from $path " +
          "(mode=DROPMALFORMED)")

  def warnCoerced(fmt: String, path: String, coerced: Long): Unit =
    if (coerced > 0)
      org.slf4j.LoggerFactory.getLogger(s"graft.sources.$fmt").warn(
        s"$fmt source coerced $coerced mistyped numeric token(s) from " +
          s"$path (mode=COERCEWARN)")

  /** DSv2 scan-level metrics (driver side sums the per-task values). */
  def scanMetrics: Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new DroppedRecordsMetric, new CoercedRecordsMetric)

  /** Per-task metric values for a reader's current counters. */
  def taskMetrics(dropped: Long, coerced: Long)
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(ParseTaskMetric("droppedRecords", dropped),
      ParseTaskMetric("coercedRecords", coerced))
}

private[sources] class DroppedRecordsMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "droppedRecords"
  override def description(): String =
    "malformed records dropped (mode=DROPMALFORMED)"
}

private[sources] class CoercedRecordsMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "coercedRecords"
  override def description(): String =
    "mistyped numeric tokens accepted via coercion (mode=COERCEWARN)"
}

private[sources] case class ParseTaskMetric(metricName: String, v: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
  override def name(): String = metricName
  override def value(): Long = v
}

/** DataSourceV2 connector for the plain-text XYZ trajectory format —
  * the Spark-native re-expression of the reference's chunked lazy scan
  * (SURVEY §2.1 S1–S5):
  *
  *  - `load` / length probe (core/dask_traj.py:61-100) →
  *    `XyzScan.planInputPartitions`: probe the frame count once on the
  *    driver, emit one `InputPartition` per `chunks` frames;
  *  - `read_chunk` positioned read (core/dask_traj.py:329-361) →
  *    `XyzPartitionReader`: each task skips to its frame range and
  *    parses only its own frames;
  *  - per-extension schema registry (`file_returns`,
  *    core/dask_traj.py:26-56) → static `Table.schema()` — analysis-time
  *    schema, no sample-chunk execution needed (SURVEY §3.1);
  *  - units-on-scan `in_units_of` (core/dask_traj.py:240-243) → the
  *    `unit_scale` read option, applied in the reader;
  *  - column pruning (`SupportsPushDownRequiredColumns`) — the pushdown
  *    the reference lists as TODO (core/dask_traj.py:126, SURVEY O5).
  *
  * File layout per frame: natoms line, comment line
  * (`# Step: N Box: lx ly lz`), then natoms `element x y z` lines.
  * Output is the long layout: one row per (frame, atom).
  *
  * Usage: `spark.read.format("xyz").option("chunks", 100).load(path)`.
  * `path` may be a single file, a DIRECTORY of shard files
  * (`*.xyz` / `*.xyz.gz`), an explicit `load(paths: _*)` list, or a
  * trailing-segment glob (`dir/part-*.xyz`) — files read in order with
  * globally contiguous frame ids (see [[MultiPath]]) — the many-files
  * layout a 100 TB trajectory actually has, and what the write path
  * produces.
  */
class XyzDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "xyz"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    XyzTable.Schema

  /** Plan-time option validation. Paths: a file, a directory of
    * shards, a `load(paths: _*)` list, or a trailing-segment glob — all
    * resolved by [[MultiPath]] with globally contiguous frame ids
    * across files. */
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val o = new ReadOptions("xyz", properties)
    val mode = ParseMode.fromOptions("xyz", properties)
    new XyzTable(o.paths, o.chunks, o.unitScale(1.0), mode)
  }
}

object XyzTable {
  /** Long/exploded trajectory schema (SURVEY §1.4): frame axis + atom
    * axis + coords + per-frame box, mirroring
    * file_returns[".xyz"]-style column sets. */
  val Schema: StructType = StructType(Seq(
    StructField("frame_id", LongType, nullable = false),
    StructField("time", DoubleType, nullable = false),
    StructField("atom_id", IntegerType, nullable = false),
    StructField("element", StringType, nullable = false),
    StructField("x", FloatType, nullable = false),
    StructField("y", FloatType, nullable = false),
    StructField("z", FloatType, nullable = false),
    StructField("box_x", FloatType, nullable = true),
    StructField("box_y", FloatType, nullable = true),
    StructField("box_z", FloatType, nullable = true)))
}

class XyzTable(paths: Seq[String], chunks: Int, unitScale: Double,
    mode: String = ParseMode.FailFast)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"xyz:${paths.mkString(",")}"
  override def schema(): StructType = XyzTable.Schema
  // batch reads take files/directories/lists/globs; streaming reads and
  // writes take a SINGLE directory of immutable shard files
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new XyzScanBuilder(paths, chunks, unitScale, mode)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new XyzWriteBuilder(MultiPath.single("xyz", paths, "write"), info)
}

class XyzScanBuilder(paths: Seq[String], chunks: Int, unitScale: Double,
    mode: String = ParseMode.FailFast)
    extends FrameScanBuilder(XyzTable.Schema) {
  override def build(): Scan =
    new XyzScan(paths, chunks, unitScale, required, frameLo, frameHi, limit,
      mode)
}

/** One chunk of frames. startFrame/endFrame are LOCAL to the file;
  * `filePath` (when non-null) overrides the scan path — used by the
  * directory-of-shards mode — and `frameOffset` is the global frame id
  * of the file's frame 0, so emitted frame_ids are globally contiguous
  * across shards. */
case class XyzFrameRange(startFrame: Long, endFrame: Long, nAtoms: Int,
    filePath: String = null, frameOffset: Long = 0L)
    extends InputPartition

class XyzScan(paths: Seq[String], chunks: Int, unitScale: Double,
    required: StructType, frameLo: Long = 0L,
    frameHi: Long = Long.MaxValue, limit: Int = -1,
    mode: String = ParseMode.FailFast)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Streaming twin: the (single) path is a directory of shard files
    * (see XyzMicroBatchStream). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new XyzMicroBatchStream(
      MultiPath.single("xyz", paths, "streaming read"),
      chunks, unitScale, required)

  /** Driver-side length probe (the analog of opening the file to read
    * `len(f)`, core/dask_traj.py:86): one cheap line-count pass per
    * file. The planned range is then clipped by pushed frame_id
    * predicates and a pushed limit — chunk pruning at plan time
    * (SURVEY O3/O5). */
  private def probe(p: String): (Int, Long) = {
    val src = XyzLines.open(p)
    try {
      val it = src.getLines()
      if (!it.hasNext) return (0, 0L)
      val nAtoms = it.next().trim.toInt
      var lines = 1L
      while (it.hasNext) { it.next(); lines += 1 }
      (nAtoms, lines / (nAtoms + 2))
    } finally src.close()
  }

  /** Chunk plan for one file whose frame 0 has global id `off`,
    * clipped against the GLOBAL pushed frame range and a row budget.
    * Returns the partitions and the rows they will produce (for limit
    * accounting). */
  private def planFile(p: String, nAtoms: Int, nFrames: Long, off: Long,
      rowBudget: Long): (Seq[InputPartition], Long) = {
    var lo = math.max(off, frameLo)
    var hi = math.min(off + nFrames, frameHi)
    if (rowBudget != Long.MaxValue && nAtoms > 0) {
      val needed = (rowBudget + nAtoms - 1) / nAtoms
      hi = math.min(hi, lo + math.max(needed, 1L))
    }
    if (lo >= hi || nAtoms <= 0) return (Nil, 0L)
    val parts = (lo until hi by chunks.toLong).map { start =>
      XyzFrameRange(start - off, math.min(start + chunks, hi) - off,
        nAtoms, p, off): InputPartition
    }
    (parts, (hi - lo) * nAtoms)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // Many-files batch read — directories of shards, explicit path
    // lists and globs all resolve to one ordered file list (the shape
    // data has at scale, and what the write path produces). Frame ids
    // are GLOBAL: file k's frames continue where file k-1 ended, so a
    // split trajectory reads back as ONE trajectory. Pushed frame_id
    // predicates prune whole files (probing stops at the range's upper
    // bound) and a pushed limit stops planning once covered.
    val files = MultiPath.expandAll("xyz", paths, Seq(".xyz", ".xyz.gz"))
    val budget0 = if (limit >= 0) limit.toLong else Long.MaxValue
    val out = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    var off = 0L
    var budget = budget0
    files.foreach { p =>
      if (budget > 0 && off < frameHi) {
        val (nAtoms, nFrames) = probe(p)
        val (parts, rows) = planFile(p, nAtoms, nFrames, off, budget)
        out ++= parts
        if (budget != Long.MaxValue) budget = math.max(0L, budget - rows)
        off += nFrames
      }
    }
    out.toArray
  }

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    ParseMode.scanMetrics

  override def createReaderFactory(): PartitionReaderFactory =
    new XyzReaderFactory(paths.head, unitScale, required, mode)
}

class XyzReaderFactory(path: String, unitScale: Double,
    required: StructType, mode: String = ParseMode.FailFast)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    new XyzPartitionReader(path, unitScale, required,
      partition.asInstanceOf[XyzFrameRange], mode)
}

/** Positioned chunk read (core/dask_traj.py:329-361): skip to the
  * partition's first frame, parse frames until the range ends. */
class XyzPartitionReader(path: String, unitScale: Double,
    required: StructType, range: XyzFrameRange,
    mode: String = ParseMode.FailFast)
    extends PartitionReader[InternalRow] {

  private val dropMalformed = mode == ParseMode.DropMalformed
  private val coerceWarn = mode == ParseMode.CoerceWarn
  private var dropped = 0L
  private var coerced = 0L

  // directory-of-shards partitions carry their own file path
  private val file = if (range.filePath != null) range.filePath else path
  private val src = XyzLines.open(file)
  private val lines = src.getLines()
  private val frameLines = range.nAtoms + 2
  // seek: skip whole frames before our range
  (0L until range.startFrame * frameLines).foreach { _ =>
    if (lines.hasNext) lines.next()
  }

  private var frame = range.startFrame
  private var atomInFrame = range.nAtoms // force header read on first next()
  private var time = 0.0
  private var box: Option[(Float, Float, Float)] = None
  private var current: InternalRow = _

  private val boxRe =
    """#\s*Step:\s*(\S+)(?:\s+Box:\s*(\S+)\s+(\S+)\s+(\S+))?.*""".r

  /** Projection ordinals precomputed once per partition (not a
    * Map[String,Any] per row): required column i comes from canonical
    * column `ordinals(i)`. */
  private val ordinals: Array[Int] = {
    val canon = XyzTable.Schema.fieldNames.zipWithIndex.toMap
    required.fieldNames.map(canon)
  }

  /** Untrusted-file parse failure with enough context to find the bad
    * line (the plan-time natoms validation can't see mid-file damage). */
  private def parseFail(what: String, content: String): Nothing =
    throw new IllegalStateException(
      s"xyz parse error in $file at frame ${frame + range.frameOffset}: " +
        s"$what (line: '${content.take(120)}')")

  private def numOrFail(tok: String, what: String, line: String): Double =
    try tok.toDouble catch {
      case _: NumberFormatException =>
        // COERCEWARN: the warn-and-cast half of ensure_type — accept a
        // convertible-but-mistyped token, count it, report on close()
        if (coerceWarn) ParseMode.coerce(tok) match {
          case Some(v) => coerced += 1; v
          case None => parseFail(s"non-numeric $what '$tok'", line)
        } else parseFail(s"non-numeric $what '$tok'", line)
    }

  override def next(): Boolean = {
    while (true) {
      if (frame >= range.endFrame) return false
      if (atomInFrame == range.nAtoms) {
        // frame header: natoms line + comment line
        if (!lines.hasNext) return false
        lines.next() // natoms (validated at plan time)
        val comment = if (lines.hasNext) lines.next() else ""
        try comment match {
          case boxRe(t, bx, by, bz) =>
            time = numOrFail(t, "Step token", comment)
            box = Option(bx).map(_ =>
              ((numOrFail(bx, "Box x", comment) * unitScale).toFloat,
                (numOrFail(by, "Box y", comment) * unitScale).toFloat,
                (numOrFail(bz, "Box z", comment) * unitScale).toFloat))
          case _ =>
            time = (frame + range.frameOffset).toDouble; box = None
        } catch {
          // coercion fallback, the warn-don't-fail half of ensure_type
          case _: IllegalStateException if dropMalformed =>
            time = (frame + range.frameOffset).toDouble; box = None
            dropped += 1
        }
        atomInFrame = 0
      }
      if (!lines.hasNext) return false
      val line = lines.next()
      try {
        val parts = line.trim.split("\\s+")
        if (parts.length < 4)
          parseFail(s"atom line has ${parts.length} fields, need 4", line)
        if (dropMalformed) {
          // drop decisions must not depend on column pruning: validate
          // the full record even when the coords are pruned away (the
          // same rule Spark's CSV source applies under DROPMALFORMED)
          numOrFail(parts(1), "x", line)
          numOrFail(parts(2), "y", line)
          numOrFail(parts(3), "z", line)
        }
        val atomId = atomInFrame
        val row = new Array[Any](ordinals.length)
        var i = 0
        while (i < ordinals.length) {
          row(i) = ordinals(i) match {
            case 0 => frame + range.frameOffset
            case 1 => time
            case 2 => atomId
            case 3 => UTF8String.fromString(parts(0))
            case 4 => (numOrFail(parts(1), "x", line) * unitScale).toFloat
            case 5 => (numOrFail(parts(2), "y", line) * unitScale).toFloat
            case 6 => (numOrFail(parts(3), "z", line) * unitScale).toFloat
            case 7 => box.map(_._1).orNull
            case 8 => box.map(_._2).orNull
            case 9 => box.map(_._3).orNull
          }
          i += 1
        }
        current = InternalRow.fromSeq(row.toIndexedSeq)
        atomInFrame += 1
        if (atomInFrame == range.nAtoms) frame += 1
        return true
      } catch {
        case _: IllegalStateException if dropMalformed =>
          // drop the record but keep the frame-position arithmetic
          dropped += 1
          atomInFrame += 1
          if (atomInFrame == range.nAtoms) frame += 1
      }
    }
    false // unreachable
  }

  override def get(): InternalRow = current

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    ParseMode.taskMetrics(dropped, coerced)

  override def close(): Unit = {
    ParseMode.warnDropped("xyz", file, dropped)
    ParseMode.warnCoerced("xyz", file, coerced)
    src.close()
  }
}
