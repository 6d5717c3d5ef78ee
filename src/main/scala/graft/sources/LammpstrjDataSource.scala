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

/** DataSourceV2 connector for the LAMMPS dump text format
  * (`.lammpstrj`, reference registry `file_returns[".lammpstrj"]` =
  * xyz + unitcell_lengths + unitcell_angles,
  * core/dask_traj.py:46) — the sixth registry format, and the first
  * whose per-frame header is SELF-DESCRIBING: the `ITEM: ATOMS ...`
  * line declares the column layout, so the reader binds output columns
  * by name instead of by position (the probe parses the layout once on
  * the driver, like the reference's schema registry keys the column
  * set on the extension).
  *
  * Frame layout (public LAMMPS dump spec):
  * {{{
  *   ITEM: TIMESTEP
  *   <step>
  *   ITEM: NUMBER OF ATOMS
  *   <natoms>
  *   ITEM: BOX BOUNDS [xy xz yz] pp pp pp
  *   xlo xhi [xy]
  *   ylo yhi [xz]
  *   zlo zhi [yz]
  *   ITEM: ATOMS id type x y z ...
  *   <natoms data lines>
  * }}}
  * Every frame is exactly 9 + natoms lines, so chunk planning and the
  * positioned read reuse the line-arithmetic design of the xyz source
  * (constant atom count per file — the reference's trajectory model
  * makes the same assumption). Triclinic dumps carry tilt factors on
  * the bounds lines; the reader converts (bounds, xy, xz, yz) to
  * unitcell lengths + angles with the standard LAMMPS bound-adjustment
  * formulas, so downstream MIC queries see the same box columns the
  * dcd source produces.
  *
  * Options: `chunks` (frames per partition), `unit_scale` (applied to
  * coords and box lengths), `mode` (FAILFAST / DROPMALFORMED /
  * COERCEWARN, shared ParseMode contract). `path` may be a single file
  * or a directory of `*.lammpstrj[.gz]` shards read in name order with
  * globally contiguous frame ids.
  */
class LammpstrjDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "lammpstrj"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LammpstrjTable.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val o = new ReadOptions("lammpstrj", properties)
    val mode = ParseMode.fromOptions("lammpstrj", properties)
    new LammpstrjTable(o.paths, o.chunks, o.unitScale(1.0), mode)
  }
}

object LammpstrjTable {
  /** Long layout, box as lengths + angles — the same box column set as
    * the dcd source (file_returns[".lammpstrj"] and [".dcd"] declare
    * the identical column family). */
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

  /** Column layout declared by the `ITEM: ATOMS` header: ordinals of
    * the fields this source reads. `elem` is -1 when the dump carries
    * neither an `element` nor a `type` column. */
  final case class AtomLayout(id: Int, elem: Int, x: Int, y: Int, z: Int,
      width: Int)

  def parseAtomsHeader(line: String, file: String): AtomLayout = {
    val cols = line.trim.split("\\s+").drop(2) // "ITEM:" "ATOMS" ...
    def find(names: String*): Int =
      names.iterator.map(n => cols.indexOf(n)).find(_ >= 0).getOrElse(-1)
    val id = find("id")
    val x = find("x", "xu")
    val y = find("y", "yu")
    val z = find("z", "zu")
    if (id < 0 || x < 0 || y < 0 || z < 0)
      throw new IllegalArgumentException(
        s"lammpstrj $file: ITEM: ATOMS must declare id and unscaled " +
          s"x y z (or xu yu zu) columns; got '${cols.mkString(" ")}'" +
          (if (cols.contains("xs")) " (scaled xs/ys/zs coords are not" +
            " supported)" else ""))
    AtomLayout(id, find("element", "type"), x, y, z, cols.length)
  }
}

class LammpstrjTable(paths: Seq[String], chunks: Int, unitScale: Double,
    mode: String) extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"lammpstrj:${paths.mkString(",")}"
  override def schema(): StructType = LammpstrjTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new LammpstrjScanBuilder(paths, chunks, unitScale, mode)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new LammpstrjWriteBuilder(
      MultiPath.single("lammpstrj", paths, "write"), unitScale, info)
}

class LammpstrjScanBuilder(paths: Seq[String], chunks: Int, unitScale: Double,
    mode: String)
    extends FrameScanBuilder(LammpstrjTable.Schema) {
  override def build(): Scan =
    new LammpstrjScan(paths, chunks, unitScale, required, frameLo, frameHi,
      limit, mode)
}

case class LammpstrjFrameRange(startFrame: Long, endFrame: Long,
    nAtoms: Int, layout: LammpstrjTable.AtomLayout,
    filePath: String = null, frameOffset: Long = 0L)
    extends InputPartition

class LammpstrjScan(paths: Seq[String], chunks: Int, unitScale: Double,
    required: StructType, frameLo: Long, frameHi: Long, limit: Int,
    mode: String) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Streaming twin (see LammpstrjMicroBatchStream). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new LammpstrjMicroBatchStream(
      MultiPath.single("lammpstrj", paths, "streaming read"),
      chunks, unitScale, required, mode)

  /** Frame count of one file (streaming offset bookkeeping). */
  private[sources] def planFrameCount(p: String): Long = probe(p)._2

  /** Driver-side probe: first-frame header gives natoms + the ATOMS
    * column layout; a line count gives the frame count (9 header lines
    * + natoms data lines per frame). */
  private def probe(p: String)
      : (Int, Long, LammpstrjTable.AtomLayout) = {
    val src = XyzLines.open(p)
    try {
      val it = src.getLines()
      if (!it.hasNext) return (0, 0L, null)
      def expect(prefix: String): String = {
        if (!it.hasNext) throw new IllegalArgumentException(
          s"lammpstrj $p: truncated header, expected '$prefix'")
        val l = it.next()
        if (!l.startsWith(prefix)) throw new IllegalArgumentException(
          s"lammpstrj $p: expected '$prefix', got '${l.take(60)}'")
        l
      }
      expect("ITEM: TIMESTEP"); it.next()
      expect("ITEM: NUMBER OF ATOMS")
      val nAtoms = it.next().trim.toInt
      expect("ITEM: BOX BOUNDS"); it.next(); it.next(); it.next()
      val layout =
        LammpstrjTable.parseAtomsHeader(expect("ITEM: ATOMS"), p)
      // 9 header lines already consumed; count the rest → total lines
      var lines = 9L
      while (it.hasNext) { it.next(); lines += 1 }
      (nAtoms, lines / (nAtoms + 9), layout)
    } finally src.close()
  }

  private def planFile(p: String, nAtoms: Int, nFrames: Long,
      layout: LammpstrjTable.AtomLayout, off: Long, rowBudget: Long)
      : (Seq[InputPartition], Long) = {
    var lo = math.max(off, frameLo)
    var hi = math.min(off + nFrames, frameHi)
    if (rowBudget != Long.MaxValue && nAtoms > 0) {
      val needed = (rowBudget + nAtoms - 1) / nAtoms
      hi = math.min(hi, lo + math.max(needed, 1L))
    }
    if (lo >= hi || nAtoms <= 0) return (Nil, 0L)
    val parts = (lo until hi by chunks.toLong).map { start =>
      LammpstrjFrameRange(start - off, math.min(start + chunks, hi) - off,
        nAtoms, layout, p, off): InputPartition
    }
    (parts, (hi - lo) * nAtoms)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // files/directories/lists/globs -> one ordered file list with
    // globally contiguous frame ids (see XyzScan / MultiPath)
    val files = MultiPath.expandAll("lammpstrj", paths,
      Seq(".lammpstrj", ".lammpstrj.gz"))
    val budget0 = if (limit >= 0) limit.toLong else Long.MaxValue
    val out = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    var off = 0L
    var budget = budget0
    files.foreach { p =>
      if (budget > 0 && off < frameHi) {
        val (nAtoms, nFrames, layout) = probe(p)
        val (parts, rows) =
          planFile(p, nAtoms, nFrames, layout, off, budget)
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
    new LammpstrjReaderFactory(paths.head, unitScale, required, mode)
}

class LammpstrjReaderFactory(path: String, unitScale: Double,
    required: StructType, mode: String) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    new LammpstrjPartitionReader(path, unitScale, required,
      partition.asInstanceOf[LammpstrjFrameRange], mode)
}

/** Positioned chunk read: skip whole frames by line arithmetic, then
  * parse the 9-line header + natoms data lines per frame. */
class LammpstrjPartitionReader(path: String, unitScale: Double,
    required: StructType, range: LammpstrjFrameRange, mode: String)
    extends PartitionReader[InternalRow] {

  private val dropMalformed = mode == ParseMode.DropMalformed
  private val coerceWarn = mode == ParseMode.CoerceWarn
  private var dropped = 0L
  private var coerced = 0L

  private val file = if (range.filePath != null) range.filePath else path
  private val src = XyzLines.open(file)
  private val lines = src.getLines()
  private val frameLines = range.nAtoms + 9
  (0L until range.startFrame * frameLines).foreach { _ =>
    if (lines.hasNext) lines.next()
  }

  private var frame = range.startFrame
  private var atomInFrame = range.nAtoms // force header read first
  private var time = 0.0
  // box as (a, b, c, alpha, beta, gamma); null when bounds malformed
  // under DROPMALFORMED
  private var box: Array[Float] = _
  private var current: InternalRow = _

  private val ordinals: Array[Int] = {
    val canon = LammpstrjTable.Schema.fieldNames.zipWithIndex.toMap
    required.fieldNames.map(canon)
  }

  private def parseFail(what: String, content: String): Nothing =
    throw new IllegalStateException(
      s"lammpstrj parse error in $file at frame " +
        s"${frame + range.frameOffset}: $what " +
        s"(line: '${content.take(120)}')")

  private def numOrFail(tok: String, what: String, line: String): Double =
    try tok.toDouble catch {
      case _: NumberFormatException =>
        if (coerceWarn) ParseMode.coerce(tok) match {
          case Some(v) => coerced += 1; v
          case None => parseFail(s"non-numeric $what '$tok'", line)
        } else parseFail(s"non-numeric $what '$tok'", line)
    }

  private def headerLine(prefix: String): String = {
    if (!lines.hasNext) parseFail(s"truncated frame, expected $prefix", "")
    val l = lines.next()
    if (!l.startsWith(prefix))
      parseFail(s"expected '$prefix'", l)
    l
  }

  /** (lo, hi[, tilt]) triple per axis → lengths + angles via the
    * public LAMMPS bound-adjustment formulas. Orthogonal dumps (2
    * tokens per bounds line) get angles of exactly 90. */
  private def readBox(): Array[Float] = {
    val l1 = if (lines.hasNext) lines.next() else parseFail("no bounds", "")
    val l2 = if (lines.hasNext) lines.next() else parseFail("no bounds", "")
    val l3 = if (lines.hasNext) lines.next() else parseFail("no bounds", "")
    def parse(l: String): Array[Double] =
      l.trim.split("\\s+").map(numOrFail(_, "box bound", l))
    val b1 = parse(l1); val b2 = parse(l2); val b3 = parse(l3)
    if (b1.length < 2 || b2.length < 2 || b3.length < 2)
      parseFail("bounds line needs at least lo hi", l1)
    if (b1.length >= 3 || b2.length >= 3 || b3.length >= 3) {
      // triclinic: bounds carry tilt factors xy xz yz
      val xy = if (b1.length >= 3) b1(2) else 0.0
      val xz = if (b2.length >= 3) b2(2) else 0.0
      val yz = if (b3.length >= 3) b3(2) else 0.0
      val xlo = b1(0) - math.min(math.min(0.0, xy),
        math.min(xz, xy + xz))
      val xhi = b1(1) - math.max(math.max(0.0, xy),
        math.max(xz, xy + xz))
      val ylo = b2(0) - math.min(0.0, yz)
      val yhi = b2(1) - math.max(0.0, yz)
      val lx = xhi - xlo; val ly = yhi - ylo; val lz = b3(1) - b3(0)
      // box vectors a=(lx,0,0) b=(xy,ly,0) c=(xz,yz,lz)
      val nb = math.sqrt(xy * xy + ly * ly)
      val nc = math.sqrt(xz * xz + yz * yz + lz * lz)
      def deg(cos: Double): Double =
        math.toDegrees(math.acos(math.max(-1.0, math.min(1.0, cos))))
      Array((lx * unitScale).toFloat, (nb * unitScale).toFloat,
        (nc * unitScale).toFloat,
        deg((xy * xz + ly * yz) / (nb * nc)).toFloat,
        deg(xz / nc).toFloat,
        deg(xy / nb).toFloat)
    } else
      Array(((b1(1) - b1(0)) * unitScale).toFloat,
        ((b2(1) - b2(0)) * unitScale).toFloat,
        ((b3(1) - b3(0)) * unitScale).toFloat,
        90.0f, 90.0f, 90.0f)
  }

  override def next(): Boolean = {
    while (true) {
      if (frame >= range.endFrame) return false
      if (atomInFrame == range.nAtoms) {
        if (!lines.hasNext) return false
        headerLine("ITEM: TIMESTEP")
        val tsLine = if (lines.hasNext) lines.next() else ""
        time = numOrFail(tsLine.trim, "TIMESTEP", tsLine)
        headerLine("ITEM: NUMBER OF ATOMS")
        val nLine = if (lines.hasNext) lines.next() else ""
        val n = numOrFail(nLine.trim, "NUMBER OF ATOMS", nLine).toInt
        if (n != range.nAtoms)
          parseFail(s"frame declares $n atoms, planned ${range.nAtoms} " +
            "(variable atom counts are not supported)", nLine)
        headerLine("ITEM: BOX BOUNDS")
        box =
          try readBox()
          catch {
            case _: IllegalStateException if dropMalformed =>
              dropped += 1; null
          }
        headerLine("ITEM: ATOMS")
        atomInFrame = 0
      }
      if (!lines.hasNext) return false
      val line = lines.next()
      try {
        val parts = line.trim.split("\\s+")
        val lay = range.layout
        if (parts.length < lay.width)
          parseFail(s"atom line has ${parts.length} fields, header " +
            s"declared ${lay.width}", line)
        if (dropMalformed) {
          numOrFail(parts(lay.id), "id", line)
          numOrFail(parts(lay.x), "x", line)
          numOrFail(parts(lay.y), "y", line)
          numOrFail(parts(lay.z), "z", line)
        }
        val row = new Array[Any](ordinals.length)
        var i = 0
        while (i < ordinals.length) {
          row(i) = ordinals(i) match {
            case 0 => frame + range.frameOffset
            case 1 => time
            case 2 => numOrFail(parts(lay.id), "id", line).toInt
            case 3 => UTF8String.fromString(
              if (lay.elem >= 0) parts(lay.elem) else "X")
            case 4 => (numOrFail(parts(lay.x), "x", line) * unitScale)
              .toFloat
            case 5 => (numOrFail(parts(lay.y), "y", line) * unitScale)
              .toFloat
            case 6 => (numOrFail(parts(lay.z), "z", line) * unitScale)
              .toFloat
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
    ParseMode.warnDropped("lammpstrj", file, dropped)
    ParseMode.warnCoerced("lammpstrj", file, coerced)
    src.close()
  }
}
