package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The trajectory-convention view over one parsed HDF5 file. Two
  * public conventions resolve here:
  *
  *  - mdtraj `.h5`/`.hdf5`: `coordinates(frame, atom, 3) float`,
  *    optional `time(frame)`, `cell_lengths`/`cell_angles(frame, 3)`
  *    — native units nm/ps/degrees (reference registry
  *    core/dask_traj.py:32-33 `.h5/.hdf5 → [xyz, time,
  *    unitcell_lengths, unitcell_angles]`);
  *  - legacy MSMBuilder `.lh5`: `XYZList(frame, atom, 3)`, int16 =
  *    nm × 1000 (lossy fixed-point; `coordScale` undoes it) or plain
  *    float in later writers (core/dask_traj.py:39 `.lh5 → [xyz]`).
  */
private[sources] final case class H5Profile(
    nAtoms: Int, frames: Long, coords: Hdf5Format.Dataset,
    coordScale: Double, time: Option[Hdf5Format.Dataset],
    cellLen: Option[Hdf5Format.Dataset],
    cellAng: Option[Hdf5Format.Dataset])

private[sources] object H5Profile {
  def of(f: Hdf5Format.H5File, path: String): H5Profile = {
    def coordsOf(name: String): Option[Hdf5Format.Dataset] =
      f.datasets.get(name).map { c =>
        if (c.rank != 3 || c.dims(2) != 3)
          Hdf5Format.fail(path, s"$name must be [frame, atom, 3]; got " +
            s"[${c.dims.mkString(", ")}]")
        c
      }
    val (c, scale) = coordsOf("coordinates").map((_, 1.0))
      .orElse(coordsOf("XYZList").map { c =>
        // MSMBuilder's lossy fixed-point: int16 = nm × 1000
        val s = c.dtype match {
          case Hdf5Format.IntT(_, _, _) => 1.0 / 1000.0
          case _ => 1.0
        }
        (c, s)
      })
      .getOrElse(Hdf5Format.fail(path, "no 'coordinates' (mdtraj) or " +
        "'XYZList' (MSMBuilder) dataset — not a trajectory HDF5 file; " +
        s"datasets present: ${f.datasets.keys.toSeq.sorted
          .mkString(", ")}"))
    val frames = c.dims(0)
    val nAtoms = c.dims(1)
    if (nAtoms > Int.MaxValue)
      Hdf5Format.fail(path, s"$nAtoms atoms per frame")
    def opt(name: String, rowVals: Long): Option[Hdf5Format.Dataset] =
      f.datasets.get(name).filter { d =>
        d.dims.headOption.contains(frames) && d.rowElems == rowVals &&
          !d.dtype.isInstanceOf[Hdf5Format.Opaque]
      }
    H5Profile(nAtoms.toInt, frames, c, scale, opt("time", 1),
      opt("cell_lengths", 3), opt("cell_angles", 3))
  }

  def parse(path: String): H5Profile = {
    val raf = FsIO.openRandom(path)
    try of(Hdf5Format.parse(raf, path), path) finally raf.close()
  }
}

/** DataSourceV2 connector for HDF5 trajectories — the reference
  * registry's `.h5`/`.hdf5` (mdtraj's native format) and `.lh5`
  * (legacy MSMBuilder) rows (core/dask_traj.py:32-33,39), read by the
  * clean-room container parser in [[Hdf5Format]] (no HDF5 library).
  *
  * Planning is one metadata parse per file — (frames, atoms) come
  * from the `coordinates` dataspace — and each partition then touches
  * only the chunks intersecting its own frame range, decompressing
  * each gzip chunk exactly once (one-chunk cache, frames read in
  * order). Units are the convention's native nm/ps; `unit_scale`
  * rescales coordinates and cell lengths on read (e.g. 10.0 → Å).
  *
  * Usage: `spark.read.format("hdf5").option("chunks", 100)
  * .load(path)`. */
class Hdf5DataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "hdf5"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    NetcdfTable.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val o = new ReadOptions("hdf5", properties)
    val expectAtoms = Option(properties.get("top"))
      .map(PdbTopology.atomCount).getOrElse(-1)
    // native convention units (nm)
    new Hdf5Table(o.paths, o.chunks, o.unitScale(1.0), expectAtoms)
  }
}

object Hdf5Table {
  val Extensions = Seq(".h5", ".hdf5", ".lh5")
}

class Hdf5Table(paths: Seq[String], chunks: Int, unitScale: Double,
    expectAtoms: Int = -1)
    extends Table with SupportsRead {
  override def name(): String = s"hdf5:${paths.mkString(",")}"
  override def schema(): StructType = NetcdfTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new Hdf5ScanBuilder(paths, chunks, unitScale, expectAtoms)
}

class Hdf5ScanBuilder(paths: Seq[String], chunks: Int,
    unitScale: Double, expectAtoms: Int)
    extends FrameScanBuilder(NetcdfTable.Schema) {
  override def build(): Scan =
    new Hdf5Scan(paths, chunks, unitScale, required, frameLo, frameHi,
      limit, expectAtoms)
}

/** startFrame/endFrame are LOCAL to `filePath`; `frameOffset` is the
  * global frame id of the file's frame 0. */
case class Hdf5FrameRange(startFrame: Long, endFrame: Long,
    filePath: String, frameOffset: Long) extends InputPartition

class Hdf5Scan(paths: Seq[String], chunks: Int, unitScale: Double,
    required: StructType, frameLo: Long, frameHi: Long, limit: Int,
    expectAtoms: Int)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new Hdf5MicroBatchStream(
      MultiPath.single("hdf5", paths, "streaming read"),
      chunks, unitScale, required)

  /** One metadata parse per file gives (natoms, frames) — O(header)
    * planning per shard, the netcdf/DCD shape. */
  override def planInputPartitions(): Array[InputPartition] = {
    val files = MultiPath.expandAll("hdf5", paths, Hdf5Table.Extensions)
    val budget0 = if (limit >= 0) limit.toLong else Long.MaxValue
    val out = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    var off = 0L
    var budget = budget0
    files.foreach { p =>
      // single metadata parse per file (O(header)); the 'top'
      // atom-count cross-check rides the same profile instead of a
      // second pass, and it runs for EVERY expanded file — including
      // files the limit/frameLo/frameHi restriction skips — so a
      // mismatched trailing shard still fails fast at plan time
      // instead of passing silently until a later unrestricted read
      // (ADVICE r13 #3)
      val prof = H5Profile.parse(p)
      if (expectAtoms > 0 && prof.nAtoms != expectAtoms)
        throw new IllegalArgumentException(
          s"hdf5 $p: file declares ${prof.nAtoms} atoms but the " +
            s"topology declares atom count $expectAtoms (option 'top')")
      if (budget > 0 && off < frameHi) {
        val lo = math.max(off, frameLo) - off
        var hi = math.min(off + prof.frames, frameHi) - off
        if (prof.nAtoms == 0) hi = lo
        if (lo < hi && budget != Long.MaxValue) {
          val maxFrames = (budget + prof.nAtoms - 1) / prof.nAtoms
          hi = math.min(hi, lo + maxFrames)
        }
        if (lo < hi) {
          (lo until hi by chunks.toLong).foreach { start =>
            out += Hdf5FrameRange(start,
              math.min(start + chunks, hi), p, off)
          }
          if (budget != Long.MaxValue)
            budget = math.max(0L, budget - (hi - lo) * prof.nAtoms)
        }
        off += prof.frames
      }
    }
    out.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new Hdf5ReaderFactory(unitScale, required)
}

class Hdf5ReaderFactory(unitScale: Double, required: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    new Hdf5PartitionReader(unitScale, required,
      partition.asInstanceOf[Hdf5FrameRange])
}

/** Per-partition read: time and cell columns (tiny) are slab-read once
  * for the whole frame range up front; coordinates stream frame by
  * frame through the [[Hdf5Format.SlabReader]] chunk cache, so each
  * compressed chunk is inflated exactly once per partition. When
  * x/y/z are pruned the coordinate chunks are never touched. */
class Hdf5PartitionReader(unitScale: Double, required: StructType,
    range: Hdf5FrameRange)
    extends PartitionReader[InternalRow] {

  private val raf = FsIO.openRandom(range.filePath)

  /** If any constructor-time parse/slab-read throws (corrupt shard) the
    * constructor never completes and Spark can't call close() — release
    * the handle before rethrowing, or each failed task attempt leaks a
    * descriptor. */
  private def initGuard[T](body: => T): T =
    try body
    catch {
      case e: Throwable =>
        try raf.close() catch { case _: Throwable => () }
        throw e
    }

  private val prof = initGuard {
    val f = Hdf5Format.parse(raf, range.filePath)
    H5Profile.of(f, range.filePath)
  }

  private val needXyz =
    required.fieldNames.exists(Set("x", "y", "z"))
  private val needCell = required.fieldNames.exists(
    Set("box_a", "box_b", "box_c", "box_alpha", "box_beta", "box_gamma"))
  private val needTime = required.fieldNames.contains("time")

  private val coordReader = initGuard {
    if (needXyz)
      new Hdf5Format.SlabReader(raf, range.filePath, prof.coords)
    else null
  }
  private val nFrames = (range.endFrame - range.startFrame).toInt
  private val times: Array[Double] = initGuard {
    if (needTime) prof.time.map { t =>
      new Hdf5Format.SlabReader(raf, range.filePath, t)
        .readSlab(range.startFrame, range.endFrame)
    }.getOrElse(Array.tabulate(nFrames)(i =>
      (range.frameOffset + range.startFrame + i).toDouble))
    else null
  }
  private val (cellL, cellA) = initGuard {
    if (needCell) (prof.cellLen, prof.cellAng) match {
      case (Some(l), Some(a)) =>
        (new Hdf5Format.SlabReader(raf, range.filePath, l)
          .readSlab(range.startFrame, range.endFrame),
         new Hdf5Format.SlabReader(raf, range.filePath, a)
          .readSlab(range.startFrame, range.endFrame))
      case _ => (null, null)
    } else (null, null)
  }

  private val scale = prof.coordScale * unitScale
  private var xs: Array[Float] = Array.empty
  private var frame = range.startFrame - 1
  private var emit = prof.nAtoms // start exhausted: first next() loads
  private var current: InternalRow = _

  private val ordinals: Array[Int] = {
    val canon = NetcdfTable.Schema.fieldNames.zipWithIndex.toMap
    required.fieldNames.map(canon)
  }

  private def loadFrame(): Boolean = {
    if (frame + 1 >= range.endFrame) return false
    frame += 1
    if (needXyz) {
      val d = coordReader.readSlab(frame, frame + 1)
      val n = 3 * prof.nAtoms
      if (xs.length < n) xs = new Array[Float](n)
      var i = 0
      while (i < n) { xs(i) = (d(i) * scale).toFloat; i += 1 }
    }
    emit = 0
    true
  }

  override def next(): Boolean = {
    while (emit >= prof.nAtoms) {
      if (!loadFrame()) return false
    }
    val a = emit
    emit += 1
    val fi = (frame - range.startFrame).toInt
    val row = new Array[Any](ordinals.length)
    var i = 0
    while (i < ordinals.length) {
      row(i) = ordinals(i) match {
        case 0 => frame + range.frameOffset
        case 1 => times(fi)
        case 2 => a // 0-based file-order ordinal (topology join key)
        case 3 => xs(3 * a)
        case 4 => xs(3 * a + 1)
        case 5 => xs(3 * a + 2)
        case n =>
          if (cellL == null) null
          else if (n < 9) (cellL(3 * fi + (n - 6)) * unitScale).toFloat
          else cellA(3 * fi + (n - 9)).toFloat
      }
      i += 1
    }
    current = InternalRow.fromSeq(row.toIndexedSeq)
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = raf.close()
}
