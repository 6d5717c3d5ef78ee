package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

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
class BinposDataSource extends FrameSource("binpos", BinposTable.Schema) {
  override protected def codec(o: ReadOptions,
      props: util.Map[String, String]): FrameCodec =
    new BinposCodec(o.unitScale(0.1), o.topAtoms)
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

/** Index: a header read + length arithmetic ([[BinposTable.probe]]);
  * partitions seek by the fixed frame stride. */
final class BinposCodec(unitScale: Double, override val expectAtoms: Int)
    extends FrameCodec {
  override def name: String = "binpos"
  override def schema: StructType = BinposTable.Schema
  override def extensions: Seq[String] = Seq(".binpos")

  override def index(path: String, frameHi: Long): FrameIndex = {
    val (nAtoms, nFrames) = BinposTable.probe(path)
    new FrameIndex(nFrames, nAtoms)
  }

  override def open(part: FramePartition, need: Set[String],
      atomHi: Int): FrameReader = new BinposFrameReader(unitScale, part)

  override def sink: Option[FrameSink] = Some(new BinposSink(unitScale))
}

/** The magic, then per frame `[natoms][coords]`, little-endian,
  * coordinates divided by `unit_scale` (nm back to Å). Every shard is
  * itself a valid binpos file. */
private final class BinposSink(unitScale: Double) extends FrameSink {
  override def ext: String = ".binpos"
  override def required: Seq[String] = Seq("frame_id", "x", "y", "z")
  override def open(path: String, schema: StructType): Shard =
    new Shard(schema) {
      private val Seq(iX, iY, iZ) = Seq("x", "y", "z").map(col)
      private val out = FsIO.createStream(path)
      out.write(BinposTable.Magic)

      override def frame(rows: collection.IndexedSeq[InternalRow]): Unit = {
        val bb = ByteBuffer.allocate(4 + 12 * rows.length)
          .order(ByteOrder.LITTLE_ENDIAN)
        bb.putInt(rows.length)
        rows.foreach { r =>
          bb.putFloat((r.getFloat(iX) / unitScale).toFloat)
            .putFloat((r.getFloat(iY) / unitScale).toFloat)
            .putFloat((r.getFloat(iZ) / unitScale).toFloat)
        }
        out.write(bb.array())
      }
      override def close(): Unit = out.close()
    }
}

/** Seeks to the partition's first frame by stride arithmetic, then
  * reads whole frames into a buffer. */
private final class BinposFrameReader(unitScale: Double,
    part: FramePartition) extends FrameReader("binpos", ParseMode.FailFast, part) {

  private val raf = FsIO.openRandom(part.path)
  private val planned =
    try BinposTable.probe(part.path)._1
    catch { case e: Throwable => raf.close(); throw e }
  private val stride = 4L + 12L * planned
  private val buf = new Array[Byte](stride.toInt)
  raf.seek(4L + part.startFrame * stride)

  override def next(): Boolean = {
    if (frame + 1 >= part.endFrame) return false
    // readFully, not read(): a single read() may legitimately return
    // fewer bytes than requested (large frames, network filesystems),
    // and treating that as EOF would silently drop the rest of the
    // partition. True EOF (no bytes left) ends the partition; a
    // PARTIAL trailing frame is a truncated file and errors.
    val remaining = raf.length() - raf.getFilePointer
    if (remaining <= 0) return false
    frame += 1
    if (remaining < stride)
      throw new IllegalStateException(
        s"binpos ${part.path}: truncated trailing frame " +
          s"($remaining of $stride bytes)")
    raf.readFully(buf)
    val bb = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
    val n = bb.getInt
    if (n != planned)
      throw new IllegalStateException(
        s"binpos ${part.path} frame ${frame + part.frameOffset}: " +
          s"natoms $n != planned $planned (variable atom counts " +
          "are not supported)")
    nAtoms = n
    val xs = coords(3 * n)
    var i = 0
    while (i < 3 * n) { xs(i) = (bb.getFloat * unitScale).toFloat; i += 1 }
    true
  }

  override def frameValue(ord: Int): Any = (part.frameOffset + frame).toDouble

  override def close(): Unit = raf.close()
}
