package graft.sources


import java.nio.{ByteBuffer, ByteOrder}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 connector for the Scripps/AMBER binpos binary format
  * (`.binpos`, reference registry `file_returns[".binpos"]` = xyz
  * only, core/dask_traj.py:29) — the ninth registry format and the
  * simplest binary one: a 4-byte `fxyz` magic, then one record per
  * frame of `[int32 natoms][3·natoms float32 coords]`, little-endian
  * (as written by the public VMD/MDTraj binposplugin). With a constant
  * atom count the frame stride is fixed, so partition readers seek
  * straight to their first frame like the dcd source — no prefix scan.
  *
  * Options: `chunks` (frames per partition), `unit_scale` (default
  * 0.1: Å → nm). `path` may be a file or a directory of `*.binpos`
  * shards (name order, globally contiguous frame ids). Frames whose
  * natoms field disagrees with the first frame fail the task (variable
  * atom counts are not supported, matching the other sources). */
class BinposDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "binpos"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    BinposTable.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val o = new ReadOptions("binpos", properties)
    val expectAtoms = Option(properties.get("top"))
      .map(PdbTopology.atomCount).getOrElse(-1)
    new BinposTable(o.paths, o.chunks, o.unitScale(0.1), expectAtoms)
  }
}

object BinposTable {
  /** xyz-only column set (`file_returns[".binpos"]`); time is the
    * frame ordinal. */
  val Schema: StructType = StructType(Seq(
    StructField("frame_id", LongType, nullable = false),
    StructField("time", DoubleType, nullable = false),
    StructField("atom_id", IntegerType, nullable = false),
    StructField("x", FloatType, nullable = false),
    StructField("y", FloatType, nullable = false),
    StructField("z", FloatType, nullable = false)))

  val Magic: Array[Byte] = "fxyz".getBytes("US-ASCII")

  /** (natoms, nFrames) from the driver-side probe: magic + first
    * frame's natoms field + size arithmetic. */
  def probe(p: String): (Int, Long) = {
    val raf = FsIO.openRandom(p)
    try {
      if (raf.length() < 8) return (0, 0L)
      val m = new Array[Byte](4)
      raf.readFully(m)
      if (!java.util.Arrays.equals(m, Magic))
        throw new IllegalArgumentException(
          s"binpos $p: bad magic '${new String(m, "US-ASCII")}' " +
            "(expected 'fxyz')")
      val b = new Array[Byte](4)
      raf.readFully(b)
      val nAtoms =
        ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).getInt
      if (nAtoms <= 0) throw new IllegalArgumentException(
        s"binpos $p: non-positive natoms $nAtoms")
      val stride = 4L + 12L * nAtoms
      (nAtoms, (raf.length() - 4) / stride)
    } finally raf.close()
  }
}

class BinposTable(paths: Seq[String], chunks: Int, unitScale: Double,
    expectAtoms: Int = -1)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"binpos:${paths.mkString(",")}"
  override def schema(): StructType = BinposTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new BinposScanBuilder(paths, chunks, unitScale, expectAtoms)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new BinposWriteBuilder(MultiPath.single("binpos", paths, "write"), unitScale, info)
}

class BinposScanBuilder(paths: Seq[String], chunks: Int,
    unitScale: Double, expectAtoms: Int = -1)
    extends FrameScanBuilder(BinposTable.Schema) {
  override def build(): Scan =
    new BinposScan(paths, chunks, unitScale, required, frameLo, frameHi,
      limit, expectAtoms)
}

case class BinposFrameRange(startFrame: Long, endFrame: Long,
    nAtoms: Int, filePath: String, frameOffset: Long)
    extends InputPartition

class BinposScan(paths: Seq[String], chunks: Int, unitScale: Double,
    required: StructType, frameLo: Long, frameHi: Long, limit: Int,
    expectAtoms: Int = -1)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Streaming twin (see BinposMicroBatchStream). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new BinposMicroBatchStream(
      MultiPath.single("binpos", paths, "streaming read"),
      chunks, unitScale, required)

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
      BinposFrameRange(start - off, math.min(start + chunks, hi) - off,
        nAtoms, p, off): InputPartition
    }
    (parts, (hi - lo) * nAtoms)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // files/directories/lists/globs -> one ordered file list with
    // globally contiguous frame ids (see XyzScan / MultiPath); the
    // per-file probe is a header read + length arithmetic
    val files = MultiPath.expandAll("binpos", paths, Seq(".binpos"))
    val budget0 = if (limit >= 0) limit.toLong else Long.MaxValue
    val out = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    var off = 0L
    var budget = budget0
    files.foreach { p =>
      val wantPlan = budget > 0 && off < frameHi
      // binpos carries natoms in its header; `top` is a plan-time
      // cross-check against the topology's first-model atom count.
      // The check covers EVERY file the load names — including files
      // limit/frame pruning will never read (same contract as inpcrd,
      // which validates per file read): a trailing shard whose header
      // disagrees with the topology is a corrupt dataset, and hiding
      // that behind a small limit would let it surface only in the
      // one query that happens to read far enough. The probe is a
      // header read + length arithmetic, so validating pruned files
      // costs one 8-byte read each, only when `top` is given.
      if (wantPlan || expectAtoms > 0) {
        val (nAtoms, nFrames) = BinposTable.probe(p)
        if (expectAtoms > 0 && nAtoms != expectAtoms)
          throw new IllegalArgumentException(
            s"binpos $p: natoms $nAtoms disagrees with the topology " +
              s"atom count $expectAtoms (option 'top')")
        if (wantPlan) {
          val (parts, rows) = planFile(p, nAtoms, nFrames, off, budget)
          out ++= parts
          if (budget != Long.MaxValue)
            budget = math.max(0L, budget - rows)
        }
        off += nFrames
      }
    }
    out.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new BinposReaderFactory(unitScale, required)
}

class BinposReaderFactory(unitScale: Double, required: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    new BinposPartitionReader(unitScale, required,
      partition.asInstanceOf[BinposFrameRange])
}

/** Seeks to the partition's first frame by stride arithmetic, then
  * reads whole frames into a buffer. */
class BinposPartitionReader(unitScale: Double, required: StructType,
    range: BinposFrameRange) extends PartitionReader[InternalRow] {

  private val stride = 4L + 12L * range.nAtoms
  private val raf = FsIO.openRandom(range.filePath)
  raf.seek(4L + range.startFrame * stride)

  private var frame = range.startFrame
  private var atom = range.nAtoms
  private var coords: ByteBuffer = _
  private var current: InternalRow = _

  private val ordinals: Array[Int] = {
    val canon = BinposTable.Schema.fieldNames.zipWithIndex.toMap
    required.fieldNames.map(canon)
  }

  private def readFrame(): Boolean = {
    // readFully, not read(): a single read() may legitimately return
    // fewer bytes than requested (large frames, network filesystems),
    // and treating that as EOF would silently drop the rest of the
    // partition. True EOF (no bytes left) ends the partition; a
    // PARTIAL trailing frame is a truncated file and errors.
    val remaining = raf.length() - raf.getFilePointer
    if (remaining <= 0) return false
    if (remaining < stride)
      throw new IllegalStateException(
        s"binpos ${range.filePath}: truncated trailing frame " +
          s"($remaining of $stride bytes)")
    val buf = new Array[Byte](stride.toInt)
    raf.readFully(buf)
    val bb = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
    val n = bb.getInt
    if (n != range.nAtoms)
      throw new IllegalStateException(
        s"binpos ${range.filePath} frame ${frame + range.frameOffset}: " +
          s"natoms $n != planned ${range.nAtoms} (variable atom counts " +
          "are not supported)")
    coords = bb
    atom = 0
    true
  }

  override def next(): Boolean = {
    if (frame >= range.endFrame) return false
    if (atom >= range.nAtoms && !readFrame()) return false
    val a = atom
    val base = a * 12
    val row = new Array[Any](ordinals.length)
    var i = 0
    while (i < ordinals.length) {
      row(i) = ordinals(i) match {
        case 0 => frame + range.frameOffset
        case 1 => (frame + range.frameOffset).toDouble
        case 2 => a
        case 3 => (coords.getFloat(4 + base) * unitScale).toFloat
        case 4 => (coords.getFloat(4 + base + 4) * unitScale).toFloat
        case 5 => (coords.getFloat(4 + base + 8) * unitScale).toFloat
      }
      i += 1
    }
    current = InternalRow.fromSeq(row.toIndexedSeq)
    atom += 1
    if (atom >= range.nAtoms) frame += 1
    true
  }

  override def get(): InternalRow = current

  override def close(): Unit = raf.close()
}
