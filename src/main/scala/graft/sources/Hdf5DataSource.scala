package graft.sources

import java.util

import org.apache.spark.sql.types.StructType

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
class Hdf5DataSource extends FrameSource("hdf5", NetcdfTable.Schema) {
  // native convention units (nm)
  override protected def codec(o: ReadOptions,
      props: util.Map[String, String]): FrameCodec =
    new Hdf5Codec(o.unitScale(1.0), o.topAtoms)
}

/** Index: one metadata parse per file ([[H5Profile.parse]]) — (frames,
  * atoms) come from the `coordinates` dataspace. */
final class Hdf5Codec(unitScale: Double, override val expectAtoms: Int)
    extends FrameCodec {
  override def name: String = "hdf5"
  override def schema: StructType = NetcdfTable.Schema
  override def extensions: Seq[String] = Seq(".h5", ".hdf5", ".lh5")

  override def index(path: String, frameHi: Long): FrameIndex = {
    val prof = H5Profile.parse(path)
    new FrameIndex(prof.frames, prof.nAtoms)
  }

  override def open(part: FramePartition, need: Set[String],
      atomHi: Int): FrameReader =
    new Hdf5FrameReader(unitScale, part, need("x") || need("y") || need("z"),
      need("time"),
      Set("box_a", "box_b", "box_c", "box_alpha", "box_beta", "box_gamma")
        .exists(need))
}

/** Per-partition read: time and cell columns (tiny) are slab-read once
  * for the whole frame range up front; coordinates stream frame by
  * frame through the [[Hdf5Format.SlabReader]] chunk cache, so each
  * compressed chunk is inflated exactly once per partition. When
  * x/y/z are pruned the coordinate chunks are never touched. */
private final class Hdf5FrameReader(unitScale: Double, part: FramePartition,
    needXyz: Boolean, needTime: Boolean, needCell: Boolean)
    extends FrameReader("hdf5", ParseMode.FailFast, part) {

  private val raf = FsIO.openRandom(part.path)

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
    H5Profile.of(Hdf5Format.parse(raf, part.path), part.path)
  }
  private def slab(d: Hdf5Format.Dataset): Array[Double] =
    new Hdf5Format.SlabReader(raf, part.path, d)
      .readSlab(part.startFrame, part.endFrame)

  private val coordReader = initGuard {
    if (needXyz) new Hdf5Format.SlabReader(raf, part.path, prof.coords)
    else null
  }
  private val times: Array[Double] = initGuard {
    if (needTime) prof.time.map(slab).getOrElse(
      Array.tabulate((part.endFrame - part.startFrame).toInt)(i =>
        (part.frameOffset + part.startFrame + i).toDouble))
    else null
  }
  private val (cellL, cellA) = initGuard {
    if (needCell) (prof.cellLen, prof.cellAng) match {
      case (Some(l), Some(a)) => (slab(l), slab(a))
      case _ => (null, null)
    } else (null, null)
  }
  private val scale = prof.coordScale * unitScale

  override def next(): Boolean = {
    if (frame + 1 >= part.endFrame) return false
    frame += 1
    nAtoms = prof.nAtoms
    if (needXyz) {
      val d = coordReader.readSlab(frame, frame + 1)
      val n = 3 * prof.nAtoms
      val xs = coords(n)
      var i = 0
      while (i < n) { xs(i) = (d(i) * scale).toFloat; i += 1 }
    }
    true
  }

  override def frameValue(ord: Int): Any = {
    val fi = (frame - part.startFrame).toInt
    ord match {
      case 1 => times(fi)
      case n =>
        if (cellL == null) null
        else if (n < 9) (cellL(3 * fi + (n - 6)) * unitScale).toFloat
        else cellA(3 * fi + (n - 9)).toFloat
    }
  }

  override def close(): Unit = raf.close()
}
