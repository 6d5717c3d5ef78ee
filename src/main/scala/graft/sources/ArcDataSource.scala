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

/** DataSourceV2 connector for the Tinker archive format (`.arc`,
  * reference registry `file_returns[".arc"]` = xyz + unitcell_lengths
  * + unitcell_angles, core/dask_traj.py:27) — the tenth registry
  * format. With it, every reference-registry extension that is not
  * codec-blocked (tng/hdf5/netcdf — see TrajLoad.KnownUnsupported)
  * or topology-only (pdb-as-topology, mol2, hoomdxml) reads and the
  * text ones also write.
  *
  * Frame layout (public Tinker spec): a `natoms [title]` line, an
  * OPTIONAL box line (`a b c alpha beta gamma`), then natoms atom
  * lines `id name x y z [type] [bonded ids...]`. The box line is
  * detected structurally: its six tokens are all numeric, while an
  * atom line's second token is an atom NAME — so the probe decides
  * box-present once per file and the frame stride follows (constant
  * frame shape, like every other source here).
  *
  * Options: `chunks`, `unit_scale` (default 0.1: Å → nm), `mode`
  * (shared ParseMode contract). `path` may be a file or a directory
  * of `*.arc[.gz]` shards. */
class ArcDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "arc"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ArcTable.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val o = new ReadOptions("arc", properties)
    val mode = ParseMode.fromOptions("arc", properties)
    new ArcTable(o.paths, o.chunks, o.unitScale(0.1), mode)
  }
}

object ArcTable {
  val Schema: StructType = StructType(Seq(
    StructField("frame_id", LongType, nullable = false),
    StructField("time", DoubleType, nullable = false),
    StructField("atom_id", IntegerType, nullable = false),
    StructField("element", StringType, nullable = false),
    StructField("x", FloatType, nullable = false),
    StructField("y", FloatType, nullable = false),
    StructField("z", FloatType, nullable = false),
    StructField("box_a", FloatType, nullable = true),
    StructField("box_b", FloatType, nullable = true),
    StructField("box_c", FloatType, nullable = true),
    StructField("box_alpha", FloatType, nullable = true),
    StructField("box_beta", FloatType, nullable = true),
    StructField("box_gamma", FloatType, nullable = true)))

  /** A box line is six numeric tokens; an atom line's second token is
    * a name. */
  def isBoxLine(l: String): Boolean = {
    val t = l.trim.split("\\s+")
    t.length == 6 && t.forall(tok =>
      scala.util.Try(tok.toDouble).isSuccess)
  }
}

class ArcTable(paths: Seq[String], chunks: Int, unitScale: Double,
    mode: String)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"arc:${paths.mkString(",")}"
  override def schema(): StructType = ArcTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new ArcScanBuilder(paths, chunks, unitScale, mode)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new ArcWriteBuilder(MultiPath.single("arc", paths, "write"), unitScale, info)
}

class ArcScanBuilder(paths: Seq[String], chunks: Int, unitScale: Double,
    mode: String)
    extends FrameScanBuilder(ArcTable.Schema) {
  override def build(): Scan =
    new ArcScan(paths, chunks, unitScale, required, frameLo, frameHi,
      limit, mode)
}

case class ArcFrameRange(startFrame: Long, endFrame: Long, nAtoms: Int,
    hasBox: Boolean, filePath: String = null, frameOffset: Long = 0L)
    extends InputPartition

class ArcScan(paths: Seq[String], chunks: Int, unitScale: Double,
    required: StructType, frameLo: Long, frameHi: Long, limit: Int,
    mode: String) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Streaming twin (see ArcMicroBatchStream). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ArcMicroBatchStream(
      MultiPath.single("arc", paths, "streaming read"),
      chunks, unitScale, required, mode)

  /** Frame count of one file (streaming offset bookkeeping). */
  private[sources] def planFrameCount(p: String): Long = probe(p)._3

  /** Driver-side probe: natoms from the header, box presence from the
    * structure of the second line, frames from the line count. */
  private def probe(p: String): (Int, Boolean, Long) = {
    val src = XyzLines.open(p)
    try {
      val it = src.getLines()
      if (!it.hasNext) return (0, false, 0L)
      val nAtoms = it.next().trim.split("\\s+")(0).toInt
      if (!it.hasNext) return (nAtoms, false, 0L)
      val hasBox = ArcTable.isBoxLine(it.next())
      var lines = 2L
      while (it.hasNext) { it.next(); lines += 1 }
      val fl = nAtoms + 1 + (if (hasBox) 1 else 0)
      (nAtoms, hasBox, lines / fl)
    } finally src.close()
  }

  private def planFile(p: String, nAtoms: Int, hasBox: Boolean,
      nFrames: Long, off: Long, rowBudget: Long)
      : (Seq[InputPartition], Long) = {
    var lo = math.max(off, frameLo)
    var hi = math.min(off + nFrames, frameHi)
    if (rowBudget != Long.MaxValue && nAtoms > 0) {
      val needed = (rowBudget + nAtoms - 1) / nAtoms
      hi = math.min(hi, lo + math.max(needed, 1L))
    }
    if (lo >= hi || nAtoms <= 0) return (Nil, 0L)
    val parts = (lo until hi by chunks.toLong).map { start =>
      ArcFrameRange(start - off, math.min(start + chunks, hi) - off,
        nAtoms, hasBox, p, off): InputPartition
    }
    (parts, (hi - lo) * nAtoms)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // files/directories/lists/globs -> one ordered file list with
    // globally contiguous frame ids (see XyzScan / MultiPath)
    val files = MultiPath.expandAll("arc", paths, Seq(".arc", ".arc.gz"))
    val budget0 = if (limit >= 0) limit.toLong else Long.MaxValue
    val out = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    var off = 0L
    var budget = budget0
    files.foreach { p =>
      if (budget > 0 && off < frameHi) {
        val (nAtoms, hasBox, nFrames) = probe(p)
        val (parts, rows) = planFile(p, nAtoms, hasBox, nFrames, off,
          budget)
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
    new ArcReaderFactory(unitScale, required, mode)
}

class ArcReaderFactory(unitScale: Double, required: StructType,
    mode: String) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    new ArcPartitionReader(unitScale, required,
      partition.asInstanceOf[ArcFrameRange], mode)
}

class ArcPartitionReader(unitScale: Double, required: StructType,
    range: ArcFrameRange, mode: String)
    extends PartitionReader[InternalRow] {

  private val dropMalformed = mode == ParseMode.DropMalformed
  private val coerceWarn = mode == ParseMode.CoerceWarn
  private var dropped = 0L
  private var coerced = 0L

  private val file = range.filePath
  private val src = XyzLines.open(file)
  private val lines = src.getLines()
  private val frameLines = range.nAtoms + 1 + (if (range.hasBox) 1 else 0)
  (0L until range.startFrame * frameLines).foreach { _ =>
    if (lines.hasNext) lines.next()
  }

  private var frame = range.startFrame
  private var atomInFrame = range.nAtoms
  private var box: Array[Float] = _
  private var current: InternalRow = _

  private val ordinals: Array[Int] = {
    val canon = ArcTable.Schema.fieldNames.zipWithIndex.toMap
    required.fieldNames.map(canon)
  }

  private def parseFail(what: String, content: String): Nothing =
    throw new IllegalStateException(
      s"arc parse error in $file at frame ${frame + range.frameOffset}: " +
        s"$what (line: '${content.take(120)}')")

  private def numOrFail(tok: String, what: String, line: String): Double =
    try tok.toDouble catch {
      case _: NumberFormatException =>
        if (coerceWarn) ParseMode.coerce(tok) match {
          case Some(v) => coerced += 1; v
          case None => parseFail(s"non-numeric $what '$tok'", line)
        } else parseFail(s"non-numeric $what '$tok'", line)
    }

  override def next(): Boolean = {
    while (true) {
      if (frame >= range.endFrame) return false
      if (atomInFrame == range.nAtoms) {
        if (!lines.hasNext) return false
        lines.next() // natoms [title] — validated at plan time
        // box parse honors DROPMALFORMED like the lammpstrj reader:
        // a malformed box line drops the frame's box (null + counted)
        // instead of failing the whole task in drop mode
        box =
          if (range.hasBox) {
            try {
              val bl = if (lines.hasNext) lines.next() else ""
              val t = bl.trim.split("\\s+")
              if (t.length < 6) parseFail("box line needs 6 values", bl)
              Array(
                (numOrFail(t(0), "box a", bl) * unitScale).toFloat,
                (numOrFail(t(1), "box b", bl) * unitScale).toFloat,
                (numOrFail(t(2), "box c", bl) * unitScale).toFloat,
                numOrFail(t(3), "alpha", bl).toFloat,
                numOrFail(t(4), "beta", bl).toFloat,
                numOrFail(t(5), "gamma", bl).toFloat)
            } catch {
              case _: IllegalStateException if dropMalformed =>
                dropped += 1; null
            }
          } else null
        atomInFrame = 0
      }
      if (!lines.hasNext) return false
      val line = lines.next()
      try {
        val parts = line.trim.split("\\s+")
        if (parts.length < 5)
          parseFail(s"atom line has ${parts.length} fields, need 5", line)
        if (dropMalformed) {
          numOrFail(parts(0), "id", line)
          numOrFail(parts(2), "x", line)
          numOrFail(parts(3), "y", line)
          numOrFail(parts(4), "z", line)
        }
        val row = new Array[Any](ordinals.length)
        var i = 0
        while (i < ordinals.length) {
          row(i) = ordinals(i) match {
            case 0 => frame + range.frameOffset
            case 1 => (frame + range.frameOffset).toDouble
            case 2 => numOrFail(parts(0), "id", line).toInt
            case 3 => UTF8String.fromString(parts(1))
            case 4 => (numOrFail(parts(2), "x", line) * unitScale).toFloat
            case 5 => (numOrFail(parts(3), "y", line) * unitScale).toFloat
            case 6 => (numOrFail(parts(4), "z", line) * unitScale).toFloat
            case k => if (box == null) null else box(k - 7)
          }
          i += 1
        }
        current = InternalRow.fromSeq(row.toIndexedSeq)
        atomInFrame += 1
        if (atomInFrame == range.nAtoms) frame += 1
        return true
      } catch {
        case _: IllegalStateException if dropMalformed =>
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
    ParseMode.warnDropped("arc", file, dropped)
    ParseMode.warnCoerced("arc", file, coerced)
    src.close()
  }
}
